"""Driver-style correctness harness: run every queries() entry on Spark AND
its oracle_sql() on DuckDB over the same sf dir; compare row count, column
names, and order-insensitive values.

Usage: python scripts/check_oracle.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solana_etl_spark.queries import all_queries, all_oracle_sql  # noqa: E402
from solana_etl_spark.session import get_spark  # noqa: E402
from solana_etl_spark.sources.tables import TESTDATA_TABLES  # noqa: E402


def _type_class(t: str) -> str:
    """Collapse a type name (DuckDB column_type or Spark simpleString) into a
    comparison class. The driver's value hash is type-sensitive, so an oracle
    that emits HUGEINT where Spark emits int64 hash-fails even when every value
    is bit-identical (the r1/r2 a9/solana_e2e bug). 'int128' never matches."""
    t = t.upper()
    if t in ("HUGEINT", "UHUGEINT"):
        return "int128"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "INT", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE"):
        return "float"
    if t in ("VARCHAR", "STRING", "TEXT"):
        return "str"
    if t == "BOOLEAN":
        return "bool"
    if t.startswith(("DATE", "TIMESTAMP")):
        return "temporal"
    return t.lower()


def type_parity_problems(spark_schema, duck_typed_cols):
    """Compare result types column-by-name; return a list of mismatch strings.

    spark_schema: dict name -> simpleString; duck_typed_cols: list of
    (name, column_type) from DESCRIBE. Any HUGEINT/UHUGEINT on the oracle
    side is an unconditional failure (Spark cannot emit int128, so the
    driver hash can never match); otherwise the collapsed classes must agree.
    """
    problems = []
    for name, duck_t in duck_typed_cols:
        if name not in spark_schema:
            continue  # column-name mismatch is reported separately
        dc, sc = _type_class(duck_t), _type_class(spark_schema[name])
        if dc == "int128":
            problems.append(
                f"type[{name}]: oracle {duck_t} (int128 — CAST to BIGINT) "
                f"vs spark {spark_schema[name]}"
            )
        elif dc != sc:
            problems.append(
                f"type[{name}]: oracle {duck_t} vs spark {spark_schema[name]}"
            )
    return problems


def normalize(rows, cols):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        # floats canonicalize at FULL precision (17 significant digits =
        # bit-exact for IEEE doubles): the driver's value hash is bit-exact,
        # and r1 proved a 9-sig-fig local gate can pass what the driver
        # fails. A query green here is green there.
        if v is None:
            return "\0NULL"
        if isinstance(v, bool):
            return f"b:{v}"
        if isinstance(v, float):
            if math.isnan(v):
                return "f:nan"
            return f"f:{v:.17g}"
        if isinstance(v, int):
            return f"i:{v}"
        from decimal import Decimal

        if isinstance(v, Decimal):
            return f"f:{float(v):.17g}"
        return f"s:{v}"

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = all_queries(), all_oracle_sql()
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            spark_cols = df.columns
            spark_rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            n_fail += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only check, {len(spark_rows)} rows "
                  f"({time.time() - t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.execute(oracles[name])
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            duck_typed = con.execute(
                f"DESCRIBE {oracles[name]}"
            ).fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            n_fail += 1
            continue

        spark_schema = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        problems = type_parity_problems(
            spark_schema, [(r[0], r[1]) for r in duck_typed]
        )
        if len(spark_rows) != len(duck_rows):
            problems.append(f"rowcount {len(spark_rows)} vs {len(duck_rows)}")
        if sorted(spark_cols) != sorted(duck_cols):
            problems.append(f"cols {sorted(spark_cols)} vs {sorted(duck_cols)}")
        if not problems:
            a = normalize(spark_rows, spark_cols)
            b = normalize(duck_rows, duck_cols)
            if a != b:
                diffs = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
                problems.append(
                    f"values differ at {len(diffs)}/{len(a)} rows; first: "
                    f"{a[diffs[0]] if diffs else '?'} vs {b[diffs[0]] if diffs else '?'}"
                )
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)}")
            n_fail += 1
        else:
            print(f"PASS {name}: {len(spark_rows)} rows ({time.time() - t0:.1f}s)")
            n_pass += 1

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
