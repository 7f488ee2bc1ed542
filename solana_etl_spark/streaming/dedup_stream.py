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
from solana_etl_spark.streaming.index_compact import maybe_compact_indexes


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
    exact_idx = state.read_index(
        spark,
        os.path.join(index_dir, "exact"),
        "content_hash long",
        exclude_batch,
    )
    band_idx = state.read_index(
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

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        survivors = dedup_batch_against_index(
            spark, batch_df, index_dir, exclude_batch=batch_id
        )
        state.commit(survivors, survivors_dir, "batch", batch_id)
        written = state.read(spark, survivors_dir, "batch", [batch_id], None)
        new_exact, new_bands = dedup_index(written)
        for sub, rows in (("exact", new_exact), ("bands", new_bands)):
            sub_dir = os.path.join(index_dir, sub)
            state.commit(rows, sub_dir, "batch", batch_id)
        maybe_compact_indexes(
            spark,
            [os.path.join(index_dir, "exact"), os.path.join(index_dir, "bands")],
            batch_id,
            compact_every,
        )

    return state.start_batches(docs_stream, process_batch, checkpoint_dir)
