"""File sinks with reference-parity layout semantics.

Reference behaviors reproduced (file:line into /root/reference):
* CSV batch sink, single file with header — src/load/FileOutput.py:173-175
  (dask ``to_csv(single_file=True)``) → ``coalesce(1)`` at small scale; at
  large scale pass ``single_file=False`` (documented divergence, SURVEY §7.5)
* Parquet sink — src/load/FileOutput.py:176-178
* CSV streaming append with header-only-on-create —
  src/extract/ExtractStreaming.py:28-33
* gzip-JSON block files bucketed by ``slot // N * N`` —
  src/extract/ExtractBatch.py:16-23
* errors table written alongside as ``{name}_errors`` —
  src/load/FileOutput.py:157-166
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLOTS_PER_BUCKET = 10_000  # reference default (ExtractBatch.py:45)


def write_csv(df: DataFrame, path: str, single_file: bool = True, mode: str = "overwrite") -> None:
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", True).csv(path)


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).parquet(path)


# format name -> (writer, reader) for the batch-sink matrix; every format
# round-trips the task outputs value-identically (tests/test_format_matrix.py)
def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    if fmt == "csv":
        # header on, explicit null marker so empty string != NULL survives
        df.write.mode(mode).option("header", True).option(
            "nullValue", "\\N"
        ).csv(path)
    else:
        df.write.mode(mode).format(fmt).save(path)


def read_table(spark, path: str, fmt: str = "parquet", schema=None):
    r = spark.read
    if fmt == "csv":
        # schema REQUIRED for csv (text format erases types); others embed it
        return r.schema(schema).option("header", True).option(
            "nullValue", "\\N"
        ).csv(path)
    if schema is not None:
        r = r.schema(schema)
    return r.format(fmt).load(path)


def append_csv(df: DataFrame, path: str) -> None:
    """Append semantics with header-only-on-create (streaming CSV sink,
    ExtractStreaming.py:28-33): Spark writes header per file; on append we
    only add headerless part files if data already exists."""
    exists = os.path.isdir(path) and any(
        f.endswith(".csv") for f in os.listdir(path)
    )
    df.coalesce(1).write.mode("append").option("header", not exists).csv(path)


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
    df.coalesce(1).write.mode("overwrite").option("header", False).csv(
        os.path.join(path, f"batch-{batch_id:05d}")
    )


def write_blocks_json(
    blocks_raw: DataFrame, path: str, slots_per_bucket: int = SLOTS_PER_BUCKET
) -> None:
    """Raw block documents re-emitted as gzip JSON partitioned by slot
    bucket (M8: ``slot // N * N``) — the extract-batch file layout. The
    many-file layout is deliberate: gzip is non-splittable, so file count =
    read parallelism downstream."""
    with_bucket = blocks_raw.withColumn(
        "slot_bucket", _slot_bucket(F.col("path"), slots_per_bucket)
    )
    (
        with_bucket.select("slot_bucket", F.to_json(F.struct("result")).alias("value"))
        .write.mode("overwrite")
        .partitionBy("slot_bucket")
        .option("compression", "gzip")
        .text(path)
    )


def _slot_bucket(path_col, slots_per_bucket: int = SLOTS_PER_BUCKET):
    return (
        F.floor(
            F.regexp_extract(path_col, r"(\d+)\.json", 1).cast("long")
            / slots_per_bucket
        )
        * slots_per_bucket
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
        path = os.path.join(destination_dir, name)
        if keep_subdirs:
            src = df["block"] if "block" in df.columns else df["path"]
            partitioned = df.withColumn("slot_bucket", _slot_bucket(src))
            w = partitioned.write.mode("overwrite").partitionBy("slot_bucket")
            if fmt == "csv":
                w.option("header", True).csv(path)
            elif fmt in ("parquet", "orc", "json"):
                getattr(w, fmt)(path)
            else:
                raise ValueError(f"unknown format: {fmt}")
            continue
        if fmt == "csv":
            write_csv(df, path, single_file=single_file)
        elif fmt == "parquet":
            write_parquet(df, path)
        elif fmt in ("orc", "json"):
            # beyond-reference conveniences (spark json = JSONL);
            # single_file honors the CLI contract the same way csv does
            out = df.coalesce(1) if single_file else df
            getattr(out.write.mode("overwrite"), fmt)(path)
        else:
            raise ValueError(f"unknown format: {fmt}")


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
