"""Streaming corpus ingest with incremental dedup against a PERSISTED index.

``dropDuplicatesWithinWatermark`` (streaming/windows.py) bounds exact-dedup
state by TIME — right for event streams, wrong for corpus ingest, where a
document seen six months ago must still suppress today's copy. This wiring
keeps the dedup state in the warehouse instead of the stream: the
(content-hash, LSH-bucket) index tables from ``operators/dedup.dedup_index``
are loaded per micro-batch, the batch is filtered with
``operators/dedup.incremental_dedup`` (after in-batch exact AND near-dup
passes, so results don't depend on how the stream is chunked), and the
survivors + their index rows are appended idempotently (per-batch
subdirectories keyed by batch_id, the ``append_csv_exactly_once`` pattern).

Retry safety: foreachBatch is at-least-once, so a crash after this batch's
index write but before the checkpoint commit re-runs the same batch_id —
which would then see ITS OWN index entries and classify every row as a
duplicate. The index loader therefore reads every committed ``batch=``
version (streaming/state.py) except the current batch_id's; the re-run
recomputes the same survivors and overwrites the same paths, converging
instead of erasing.

At 100 TB the index tables are small-by-construction (16-byte hashes and
band keys, not documents); per-batch cost is two anti-joins keyed on narrow
values with the batch side broadcast — no corpus re-scan, unbounded history,
bounded state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.dedup import (
    dedup_index,
    exact_dedup,
    incremental_dedup,
    lsh_duplicate_ids,
)
from solana_etl_spark.streaming import state


#: Marker file recording the schema an index table was persisted with.
#: The schema string IS the format version: any column/type change (e.g.
#: the r8 band-signature ``sig string`` → ``sig long`` narrowing) makes
#: the reader's expected schema mismatch the marker, and the read fails
#: loudly instead of silently mixing parquet schemas across the upgrade
#: boundary of a long-lived index (which would admit near-duplicates).
_FORMAT_MARKER = "_index_schema"


def _check_index_format(path: str, schema: str) -> None:
    """Fail loudly on a persisted index whose format predates ``schema``.

    Three states: marker matches → proceed; marker differs OR data
    exists without a marker (pre-versioning index; any ``batch=`` dir
    counts, committed or not) → raise with a rewrite instruction; no
    marker and no data (fresh index) → stamp the marker now, BEFORE the
    first batch write, so a crash between the first write and any later
    stamp can never produce the unversioned state. The marker lives
    beside the ``batch=`` dirs with a leading underscore, so Spark
    readers and compaction both ignore it.
    """
    marker = os.path.join(path, _FORMAT_MARKER)
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            found = fh.read().strip()
        if found != schema:
            raise ValueError(
                f"persisted index at {path} was written with schema "
                f"'{found}' but this engine expects '{schema}'; rebuild "
                "the index (re-run dedup_index over the survivors, or "
                "drop the index dir to re-bootstrap) — refusing to mix "
                "formats, which would silently admit duplicates"
            )
        return
    if state.versions(SparkSession.active(), path, "batch", False):
        raise ValueError(
            f"persisted index at {path} has no {_FORMAT_MARKER} marker "
            f"(written by a pre-versioning engine); expected schema "
            f"'{schema}'. Rebuild the index rather than risking a "
            "mixed-schema read that silently admits duplicates"
        )
    os.makedirs(path, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(schema + "\n")
    os.rename(tmp, marker)


def _read_index(
    spark: SparkSession, path: str, schema: str, exclude_batch: int | None
) -> DataFrame:
    """Read an index table: the union of its committed ``batch=``
    versions, empty before the first commit.

    Every failure (storage error, corrupt footer, or a format-marker
    mismatch — see ``_check_index_format``) must raise: silently deduping
    against an empty or mis-typed index would admit duplicates and
    permanently pollute the corpus. ``exclude_batch`` drops the current
    batch_id's own version so a foreachBatch retry never reads its
    first attempt's output (see module docstring).
    """
    _check_index_format(path, schema)
    ids = [
        b for b in state.versions(spark, path, "batch") if b != exclude_batch
    ]
    return state.read(spark, path, "batch", ids, schema).select(
        *schema.replace(",", " ").split()[::2]
    )


def dedup_batch_against_index(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """One micro-batch's survivors: in-batch exact dedup (keep min doc_id),
    in-batch LSH near-dedup (drop band-colliding non-keepers — two near-dups
    arriving in the SAME batch must not both survive), then drop anything
    exact- or near-duplicating the persisted index."""
    keepers = exact_dedup(batch_df).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    in_batch_unique = batch_df.join(keepers, "doc_id", "left_semi")
    near_drops = lsh_duplicate_ids(in_batch_unique)
    in_batch_unique = in_batch_unique.join(near_drops, "doc_id", "left_anti")
    exact_idx = _read_index(
        spark,
        os.path.join(index_dir, "exact"),
        "content_hash long",
        exclude_batch,
    )
    band_idx = _read_index(
        spark,
        os.path.join(index_dir, "bands"),
        "band int, sig long",
        exclude_batch,
    )
    return incremental_dedup(in_batch_unique, exact_idx, band_idx)


def start_streaming_corpus_ingest(
    spark: SparkSession,
    docs_stream: DataFrame,
    survivors_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """documents stream → deduped corpus + updated index, exactly-once.

    Idempotence: every write lands in ``.../batch={batch_id}`` with
    overwrite and the index loader excludes the in-flight batch_id, so
    Structured Streaming's at-least-once foreachBatch retries converge;
    readers glob the parent directory. ``compact_every`` folds committed
    index partitions every N batches
    (streaming/index_compact.compact_index) — bounds the partition/file
    count under long streams; default follows
    index_compact.DEFAULT_COMPACT_EVERY when None.
    """
    from solana_etl_spark.streaming.index_compact import (
        DEFAULT_COMPACT_EVERY,
        maybe_compact_indexes,
    )

    cadence = DEFAULT_COMPACT_EVERY if compact_every is None else compact_every

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup_batch_against_index(
            spark, batch_df, index_dir, exclude_batch=batch_id
        )
        survivors.write.mode("overwrite").parquet(
            os.path.join(survivors_dir, f"batch={batch_id}")
        )
        written = spark.read.parquet(
            os.path.join(survivors_dir, f"batch={batch_id}")
        )
        new_exact, new_bands = dedup_index(written)
        for sub, rows in (("exact", new_exact), ("bands", new_bands)):
            sub_dir = os.path.join(index_dir, sub)
            state.commit(rows, sub_dir, "batch", batch_id)
        maybe_compact_indexes(
            spark,
            [os.path.join(index_dir, "exact"), os.path.join(index_dir, "bands")],
            batch_id,
            cadence,
        )

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
