"""Block-document reader: gzip/plain JSON → one row per block.

Parity targets (reference file:line):
* transparent ``.gz``/plain open — src/transform/Block.py:26-34 (Spark's JSON
  datasource auto-detects gzip by extension)
* path captured per block — dask ``read_text(include_path=True)``,
  src/load/FileOutput.py:142 → ``input_file_name()``
* recursive subdir globs — src/load/FileOutput.py:93-126 → native globs
* corrupt-record capture — the reference's block-level try/except
  (src/load/FileOutput.py:80-91) → PERMISSIVE mode + ``_corrupt_record``
* missing block = envelope without ``result`` — src/transform/Block.py:36-44

Scale note: gzip is non-splittable, so read parallelism == file count —
identical to the reference's per-file dask partitions. The extract stage
keeps files at 10k slots/dir so a 100 TB corpus is millions of small-ish
files; ``spark.sql.files.maxPartitionBytes``/``openCostInBytes`` bin-pack
them into tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_spark.schemas import block_schema


def block_rows(
    reader, paths, account_keys_as_strings: bool = False
) -> DataFrame:
    """The ``blocks_raw`` row shape from a batch or streaming JSON reader:
    ``path`` (``file:`` prefix stripped), ``missing``, ``_corrupt_record``
    plus the raw ``result`` struct — one definition for ``read_blocks``
    and the block stream (streaming/pipeline.read_block_stream)."""
    raw = (
        reader.schema(block_schema(account_keys_as_strings))
        # one JSON object spanning the whole file
        .option("multiLine", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(paths)
    )
    return raw.select(
        F.regexp_replace(F.input_file_name(), "^file:(//)?", "").alias("path"),
        F.col("result").isNull().alias("missing"),
        F.col("_corrupt_record"),
        F.col("result"),
    )


def read_blocks(
    spark: SparkSession,
    paths: str | list[str],
    account_keys_as_strings: bool = False,
) -> DataFrame:
    """Read block JSON documents (one document per file, possibly gzipped).

    Returns one row per block: ``path``, ``missing``, ``_corrupt_record``
    plus the raw ``result`` struct. Downstream views treat this as the
    ``blocks_raw`` relation.
    """
    if isinstance(paths, str):
        paths = [paths]
    return block_rows(spark.read, paths, account_keys_as_strings)
