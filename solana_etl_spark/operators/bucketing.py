"""Bucketed-table utilities: shuffle-free co-located joins for repeated
large-×-large joins (the 100 TB pattern AQE/broadcast can't cover).

Writing fact tables bucketed by their join key means every subsequent join
or aggregation on that key reads pre-partitioned data: Catalyst proves the
children satisfy the required distribution and plans a SortMergeJoin with
ZERO Exchange. For a pipeline that repeatedly joins lineitem⋈orders (or
transfers⋈transactions on signature), the one-time bucketed write amortizes
the shuffle away from every downstream query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed parquet table."""
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table)
