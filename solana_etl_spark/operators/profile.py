"""Dataset profiling: the per-column stats report ("data card") a training
pipeline computes before mixing/filtering a new corpus in.

One wide aggregation produces every column's stats in a SINGLE scan — at
100 TB the scan dominates, so the profile must not cost one pass per column
(16 columns ≠ 16 jobs). Count/null/min/max/avg partial-aggregate map-side;
the exact distinct counts share the one Expand-based aggregate Spark plans
for multi-column COUNT(DISTINCT). The one-row result is then unpivoted
driver-free with ``stack`` into one row per column.

The reference has no profiling surface (its schema is declared, never
measured — `/root/reference/src/load/TransformTask.py:116-175`); this is
charter §2.11 scale machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from solana_etl_spark.functions.sqltext import string_lit


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """One row per column: n_rows, n_nulls, n_distinct (exact), min/max
    (as strings, for a uniform report schema), avg_len (strings: chars;
    numerics: NULL).

    Single scan, single aggregate; deterministic (no sampling, no HLL) so
    the report is oracle-checkable cross-engine.
    """
    cols = columns or df.columns
    # internal aliases are INDEX-based (__nd_0, …), never derived from the
    # column name — arbitrary names (spaces, quotes, dots) stay out of the
    # generated SQL; the display name appears only as an escaped literal.
    aggs: list = [F.count(F.lit(1)).alias("__n_rows")]
    for i, c in enumerate(cols):
        aggs.append(F.count(F.when(F.col(c).isNull(), 1)).alias(f"__nulls_{i}"))
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{i}"))
        aggs.append(F.min(F.col(c)).cast("string").alias(f"__min_{i}"))
        aggs.append(F.max(F.col(c)).cast("string").alias(f"__max_{i}"))
        if isinstance(df.schema[c].dataType, StringType):
            aggs.append(F.avg(F.length(F.col(c))).alias(f"__avglen_{i}"))
        else:
            aggs.append(F.lit(None).cast("double").alias(f"__avglen_{i}"))
    one = df.agg(*aggs)

    # unpivot the single row into (column, stats...) rows without collecting:
    # stack(n, name1, nulls1, nd1, min1, max1, avglen1, ...)
    parts = []
    for i, c in enumerate(cols):
        parts.append(
            f"{string_lit(c)}, __nulls_{i}, __nd_{i}, __min_{i}, __max_{i}, "
            f"round(__avglen_{i}, 6)"
        )
    stacked = one.select(
        F.col("__n_rows").alias("n_rows"),
        F.expr(
            f"stack({len(cols)}, {', '.join(parts)}) AS "
            "(column, n_nulls, n_distinct, min_value, max_value, avg_len)"
        ),
    )
    return stacked.select(
        "column", "n_rows", "n_nulls", "n_distinct", "min_value", "max_value", "avg_len"
    )
