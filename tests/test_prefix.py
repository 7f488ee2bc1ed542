"""Property tests for the two-phase prefix-sum machinery
(operators/prefix.py): global row numbers and NTILE reconstruction must
be BIT-identical to their unpartitioned-window equivalents on any data
shape — ties, skew, descending order, degenerate split lists."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solana_etl_spark.operators.prefix import (
    exclusive_offsets,
    ntile_from_rank,
    nullsafe_offsets_join,
    range_bucket,
    two_phase_row_number,
)

vals = st.lists(
    st.integers(min_value=-50, max_value=50), min_size=1, max_size=120
)


def _df(spark, xs):
    return spark.createDataFrame(
        [(i, int(v)) for i, v in enumerate(xs)], "rid long, v long"
    )


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(xs=vals, desc=st.booleans())
def test_two_phase_row_number_matches_global_window(spark, xs, desc):
    df = _df(spark, xs)
    order = (
        [F.desc("v"), F.asc("rid")] if desc else [F.asc("v"), F.asc("rid")]
    )
    got = {
        r["rid"]: r["_rn"]
        for r in two_phase_row_number(
            df, "v", order, n_buckets=4, descending=desc
        ).collect()
    }
    want = {
        r["rid"]: r["_rn"]
        for r in df.select(
            "rid", F.row_number().over(Window.orderBy(*order)).alias("_rn")
        ).collect()
    }
    assert got == want


def test_two_phase_row_number_single_bucket_degenerate(spark):
    # n_buckets=1 -> no splits -> one bucket: still exact
    df = _df(spark, [5, 5, 1, 9, 1])
    got = sorted(
        (r["rid"], r["_rn"])
        for r in two_phase_row_number(
            df, "v", [F.asc("v"), F.asc("rid")], n_buckets=1
        ).collect()
    )
    assert [rn for _, rn in sorted(got)] == [3, 4, 1, 5, 2]


@pytest.mark.parametrize(
    "taken, out_col",
    [
        ("_rn", "_rn"),
        ("rank", "rank"),
        ("_bkt", "_rn"),
        ("_BKT", "_rn"),
        ("_one", "_rn"),
        ("_lrn", "_rn"),
        ("_off__one", "_rn"),
    ],
)
def test_two_phase_row_number_rejects_column_collisions(spark, taken, out_col):
    df = _df(spark, [5, 1, 9]).withColumn(taken, F.lit(0))
    with pytest.raises(ValueError, match=taken):
        two_phase_row_number(
            df, "v", [F.asc("v"), F.asc("rid")], out_col=out_col, n_buckets=1
        )


def test_exclusive_offsets_descending_direction(spark):
    df = spark.createDataFrame(
        [(b, 1) for b in (0, 0, 1, 2, 2, 2)], "b int, one int"
    )
    bucketed = df.withColumn("_bkt", F.col("b"))
    asc = {
        r["_bkt"]: r["_off_one"]
        for r in exclusive_offsets(bucketed, ["one"]).collect()
    }
    desc = {
        r["_bkt"]: r["_off_one"]
        for r in exclusive_offsets(
            bucketed, ["one"], descending=True
        ).collect()
    }
    assert asc == {0: 0, 1: 2, 2: 3}
    assert desc == {0: 4, 1: 3, 2: 0}


def test_exclusive_offsets_null_group_key(spark):
    # a NULL group key is a real group (lang-ID failures in web corpora):
    # its offsets must accumulate exactly like any other group's, and the
    # nullsafe join-back must keep its rows. Compare against the
    # single-window baseline per group including the NULL group.
    rows = [
        ("en", 0, 1),
        ("en", 1, 2),
        (None, 0, 10),
        (None, 1, 20),
        (None, 2, 30),
        ("fr", 2, 5),
    ]
    df = spark.createDataFrame(rows, "lang string, b int, w long")
    bucketed = df.withColumn("_bkt", F.col("b"))
    offs = exclusive_offsets(bucketed, ["w"], group_cols=("lang",))
    got = {
        (r["lang"], r["_bkt"]): r["_off_w"] for r in offs.collect()
    }
    assert got == {
        ("en", 0): 0,
        ("en", 1): 1,
        (None, 0): 0,
        (None, 1): 10,
        (None, 2): 30,
        ("fr", 2): 0,
    }
    joined = nullsafe_offsets_join(bucketed, offs, ["lang", "_bkt"])
    assert joined.count() == len(rows)  # no NULL-key rows dropped
    w = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r["lang"], r["b"]): r["cum"]
        for r in df.withColumn("cum", F.sum("w").over(w)).collect()
    }
    got_cum = {
        (r["lang"], r["b"]): r["_off_w"] + r["w"]
        for r in joined.collect()
    }
    assert got_cum == want


def test_range_bucket_monotone_and_tie_stable(spark):
    df = spark.createDataFrame([(v,) for v in range(20)], "v int")
    out = df.select(
        "v", range_bucket(F.col("v"), [4.0, 9.0, 15.0]).alias("b")
    ).collect()
    by_v = {r["v"]: r["b"] for r in out}
    assert by_v[0] == 0 and by_v[4] == 0 and by_v[5] == 1
    assert by_v[9] == 1 and by_v[10] == 2 and by_v[15] == 2 and by_v[16] == 3
    assert all(by_v[v] <= by_v[v + 1] for v in range(19))


def test_range_bucket_string_form_matches_column_form(spark):
    """r9: the SQL-string form (one JVM parse instead of ~400 py4j round
    trips for a 63-split chain) must bucket identically to the Column
    form, including fractional splits (D-suffix double literals, not
    DECIMAL) and the empty-splits degenerate."""
    splits = [4.0, 9.5, 15.0, 1e-3]
    df = spark.createDataFrame(
        [(float(v) / 2,) for v in range(-2, 40)], "v double"
    )
    col_form = {
        r["v"]: r["b"]
        for r in df.select(
            "v", range_bucket(F.col("v"), sorted(splits)).alias("b")
        ).collect()
    }
    str_form = {
        r["v"]: r["b"]
        for r in df.select(
            "v", range_bucket("v", sorted(splits)).alias("b")
        ).collect()
    }
    assert col_form == str_form
    empty = df.select(range_bucket("v", []).alias("b")).collect()
    assert {r["b"] for r in empty} == {0}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(
    n=st.integers(min_value=1, max_value=300),
    tiles=st.integers(min_value=1, max_value=12),
)
def test_ntile_from_rank_property(spark, n, tiles):
    df = spark.range(1, n + 1).select(F.col("id").alias("rk"))
    got = {
        r["rk"]: r["t"]
        for r in df.select(
            "rk", ntile_from_rank(F.col("rk"), F.lit(n), tiles).alias("t")
        ).collect()
    }
    want = {
        r["rk"]: r["t"]
        for r in spark.range(0, n)
        .select(
            (F.col("id") + 1).alias("rk"),
            F.ntile(tiles).over(Window.orderBy("id")).alias("t"),
        )
        .collect()
    }
    assert got == want
