"""The local gate's result-type parity guard (scripts/check_oracle.py).

The driver's value hash is type-sensitive: an oracle column that DuckDB types
as HUGEINT (int128) can never hash-match Spark's int64 even when every value
is identical — the exact r1/r2 a9_conditional_rollup / solana_e2e failure.
These tests pin the guard's behavior, including the deliberate un-cast
COUNT_IF probe VERDICT r2 asked for.
"""

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scripts.check_oracle import _type_class, type_parity_problems  # noqa: E402


def test_uncast_count_if_probe_fails():
    """A deliberately un-cast COUNT_IF (HUGEINT) must be flagged."""
    con = duckdb.connect()
    typed = con.execute(
        "DESCRIBE SELECT COUNT_IF(x > 1) AS n FROM (VALUES (1), (2)) t(x)"
    ).fetchall()
    assert typed[0][1] == "HUGEINT"  # the DuckDB behavior the guard exists for
    problems = type_parity_problems({"n": "bigint"}, [(r[0], r[1]) for r in typed])
    assert len(problems) == 1 and "int128" in problems[0]


def test_uncast_list_sum_probe_fails():
    con = duckdb.connect()
    typed = con.execute(
        "DESCRIBE SELECT list_sum([CAST(1 AS BIGINT), 2]) AS s"
    ).fetchall()
    problems = type_parity_problems({"s": "bigint"}, [(r[0], r[1]) for r in typed])
    assert problems, "list_sum over BIGINT returns HUGEINT and must be flagged"


def test_cast_to_bigint_passes():
    con = duckdb.connect()
    typed = con.execute(
        "DESCRIBE SELECT CAST(COUNT_IF(x > 1) AS BIGINT) AS n "
        "FROM (VALUES (1), (2)) t(x)"
    ).fetchall()
    assert type_parity_problems({"n": "bigint"}, [(r[0], r[1]) for r in typed]) == []


@pytest.mark.parametrize(
    "duck_t,spark_t,ok",
    [
        ("BIGINT", "bigint", True),
        ("INTEGER", "bigint", True),  # width within the int class is fine
        ("DOUBLE", "double", True),
        ("DOUBLE", "bigint", False),
        ("BIGINT", "double", False),
        ("DECIMAL(18,4)", "decimal(18,4)", True),
        ("DECIMAL(18,4)", "double", False),
        ("VARCHAR", "string", True),
        ("BOOLEAN", "boolean", True),
        ("HUGEINT", "bigint", False),
        ("UHUGEINT", "bigint", False),
        ("TIMESTAMP", "timestamp", True),
        ("DATE", "date", True),
    ],
)
def test_class_matrix(duck_t, spark_t, ok):
    problems = type_parity_problems({"c": spark_t}, [("c", duck_t)])
    assert (problems == []) is ok


def test_unknown_spark_columns_ignored():
    # column-name mismatches are reported by the rowcount/cols check, not here
    assert type_parity_problems({"a": "bigint"}, [("b", "HUGEINT")]) == []


def test_type_class_collapse():
    assert _type_class("DECIMAL(38,9)") == "decimal"
    assert _type_class("decimal(20,0)") == "decimal"
    assert _type_class("TIMESTAMP WITH TIME ZONE") == "temporal"


def test_driver_registry_is_exactly_50_with_oracles():
    """The external gate certifies at most 50 rows; the driver-facing
    registry must be exactly that 50, every row oracled, and a strict
    subset of the full local registry."""
    from solana_etl_spark import queries as q

    qs = q.queries()
    orc = q.oracle_sql()
    assert len(qs) == 50
    assert set(qs) == set(q.DRIVER_ROWS)
    assert set(qs) <= set(q.all_queries())
    assert [n for n in qs if n not in orc] == []
