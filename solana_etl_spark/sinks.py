"""File sinks with reference-parity layout semantics.

Reference behaviors reproduced (file:line into /root/reference):
* CSV batch sink, single file with header — src/load/FileOutput.py:173-175
  (dask ``to_csv(single_file=True)``) → ``coalesce(1)`` at small scale; at
  large scale pass ``single_file=False`` (documented divergence, SURVEY §7.5)
* Parquet sink — src/load/FileOutput.py:176-178
* CSV streaming append with header-only-on-create —
  src/extract/ExtractStreaming.py:28-33
* errors table written alongside as ``{name}_errors`` —
  src/load/FileOutput.py:157-166

The gzip-JSON block files of the extract stage (ExtractBatch.py:16-23) are
written by ``sources/extract.write_block_file``, not here.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLOTS_PER_BUCKET = 10_000  # reference default (ExtractBatch.py:45)
FORMATS = ("csv", "parquet", "orc", "json")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str,
    single_file: bool = False,
    partition_by: tuple[str, ...] = (),
    header: bool = True,
) -> None:
    """The one load-table writer: ``fmt`` in ``FORMATS`` (json = JSONL),
    overwriting ``path``. ``single_file`` coalesces to one task, so each
    output directory (each ``partition_by`` directory) holds one file. CSV
    is Spark's default dialect: NULL is an empty field, "" is ``""``."""
    if fmt not in FORMATS:
        raise ValueError(f"unknown format: {fmt}")
    out = df.coalesce(1) if single_file else df
    w = out.write.mode("overwrite").format(fmt)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if fmt == "csv":
        w = w.option("header", header)
    w.save(path)


def append_csv_exactly_once(df: DataFrame, path: str, batch_id: int) -> None:
    """Idempotent streaming CSV append: each micro-batch writes its own
    ``batch-<id>`` directory with ``mode=overwrite``, so a batch REPLAYED
    after a mid-batch crash/restart overwrites its own partial output
    instead of duplicating rows — checkpoint + idempotent writes = true
    exactly-once file output (plain ``append`` gives only at-least-once:
    a replay re-appends). Header is a separate one-time file, preserving
    the reference's header-only-on-create reader contract
    (ExtractStreaming.py:28-33)."""
    os.makedirs(path, exist_ok=True)
    header = os.path.join(path, "_header.csv")
    if not os.path.exists(header):
        with open(header, "w") as f:
            f.write(",".join(df.columns) + "\n")
    write_table(
        df, os.path.join(path, f"batch-{batch_id:05d}"), "csv",
        single_file=True, header=False,
    )


def _slot_bucket(path_col):
    return (
        F.floor(
            F.regexp_extract(path_col, r"(\d+)\.json", 1).cast("long")
            / SLOTS_PER_BUCKET
        )
        * SLOTS_PER_BUCKET
    ).cast("long")


def write_task_outputs(
    outputs: dict[str, DataFrame],
    destination_dir: str,
    fmt: str = "csv",
    single_file: bool = True,
    keep_subdirs: bool = False,
) -> None:
    """Write the three task tables + errors — the ``solana-load-file``
    output contract (FileOutput.py:157-183): each task to
    ``{dest}/{task}`` and errors to ``{dest}/errors``.

    ``keep_subdirs`` mirrors the reference's one-output-per-source-subdir
    mode (FileOutput.py:93-126): outputs are partitioned by the slot bucket
    derived from the block-file name. At scale this is also the right
    physical layout — time/slot-range queries prune whole partitions.
    """
    for name, df in outputs.items():
        partition_by: tuple[str, ...] = ()
        if keep_subdirs:
            src = df["block"] if "block" in df.columns else df["path"]
            df = df.withColumn("slot_bucket", _slot_bucket(src))
            partition_by = ("slot_bucket",)
        write_table(
            df, os.path.join(destination_dir, name), fmt,
            single_file=single_file, partition_by=partition_by,
        )


def write_corpus_shards(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang",),
    max_rows_per_file: int = 100_000,
    shard_key: str | None = None,
    n_shards: int | None = None,
) -> DataFrame:
    """Training-shard writer: partitioned parquet with bounded file sizes,
    plus a manifest the data loader reads instead of listing files.

    * ``partition_cols`` → hive layout (lang=en/…): mixture and per-language
      runs prune whole directories.
    * ``max_rows_per_file`` → ``maxRecordsPerFile``: bounds shard size
      without a repartition (the writer splits files as it goes).
    * ``shard_key``+``n_shards`` → optionally repartition by a hash of the
      key first, so a given key's rows co-locate in one shard and shard
      count is explicit (deterministic hash partitioning, retry-safe).

    Returns the manifest DataFrame (one row per written file: path, rows)
    and writes it to ``{path}/_manifest`` — computed by scanning what was
    actually written, so it is trustworthy after partial-failure retries.
    """
    writer_df = df
    if shard_key is not None and n_shards is not None:
        writer_df = df.repartition(n_shards, F.col(shard_key))
    (
        writer_df.write.mode("overwrite")
        .partitionBy(*partition_cols)
        .option("maxRecordsPerFile", max_rows_per_file)
        .parquet(path)
    )
    spark = df.sparkSession
    written = spark.read.parquet(path)
    manifest = (
        written.groupBy(
            F.input_file_name().alias("file"), *partition_cols
        )
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy("file")
    )
    manifest.coalesce(1).write.mode("overwrite").json(os.path.join(path, "_manifest"))
    return manifest
