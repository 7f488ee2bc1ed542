"""Parquet star-schema loader for the synthetic testdata tables.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet each under ``{sf_dir}/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_tables(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load the named tables; parquet keeps pushdown + pruning intact."""
    return {t: spark.read.parquet(f"{sf_dir}/{t}.parquet") for t in tables}
