"""The full CorpusPipeline cleaning chain under Structured Streaming:
quality → exact-dedup → near-dedup (vs the PERSISTED warehouse index) →
n-gram decontamination, per micro-batch, converging to exactly the batch
pipeline's output.

Stage-by-stage streaming semantics:

* quality / repetition — bare per-row predicates, batch-independent by
  construction: apply directly to the micro-batch.
* exact + near dedup — the one genuinely stateful stage; delegated to
  ``streaming/dedup_stream.dedup_batch_against_index`` (in-batch passes
  first so results don't depend on stream chunking, then the warehouse
  index; per-batch partition writes + current-batch index exclusion make
  foreachBatch's at-least-once retries converge).
* decontamination — the eval corpus is STATIC model-side state (like a
  vocabulary or rate map): a per-batch anti-join against the same eval
  set the batch pipeline uses, stateless across batches.

The dedup index is updated from the DEDUP-STAGE survivors — BEFORE the
decontamination drop. The batch pipeline dedups before it
decontaminates, so a near-duplicate of a contaminated keeper is dropped
by dedup (keeper = min doc_id) even though the keeper itself is later
removed by decontamination; if the index only recorded written
survivors, a band-colliding near-dup arriving in a LATER micro-batch
whose differing region is exactly the leaked sentence would survive the
stream but not the batch run. (Exact copies alone would not need this —
they share the keeper's eval n-grams and re-drop on the decontamination
predicate — but near-dups do not.) Indexing pre-decontamination keeps
stream ≡ batch across every chunking of the corpus.

At 100 TB the per-batch cost is the pipeline's own linear stages plus
two narrow index anti-joins — no corpus re-scan, no unbounded stream
state (the index lives in the warehouse, time-unbounded by design).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.dedup import dedup_index
from solana_etl_spark.operators.text import quality_predicate
from solana_etl_spark.streaming import state
from solana_etl_spark.streaming.dedup_stream import dedup_batch_against_index
from solana_etl_spark.streaming.index_compact import maybe_compact_indexes


def dedup_stage(
    spark: SparkSession,
    batch_df: DataFrame,
    index_dir: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """quality gate + exact/near dedup vs the persisted index — the prefix
    of the chain whose output feeds BOTH the survivor write (after
    decontamination) and the index update (before it; see module doc)."""
    cleaned = batch_df.filter(quality_predicate())
    return dedup_batch_against_index(
        spark, cleaned, index_dir, exclude_batch=exclude_batch
    )


def decontaminate_stage(
    survivors: DataFrame, eval_docs: DataFrame | None
) -> DataFrame:
    """n-gram decontamination vs the static eval corpus (stateless)."""
    from solana_etl_spark.operators.decontam import contamination

    if eval_docs is None:
        return survivors
    bad = (
        contamination(survivors, eval_docs)
        .filter(F.col("is_contaminated"))
        .select("doc_id")
    )
    return survivors.join(bad, "doc_id", "left_anti")


def clean_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    eval_docs: DataFrame | None,
    index_dir: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """One micro-batch through the cleaning chain — the deterministic
    function both the streaming wiring and its tests share."""
    return decontaminate_stage(
        dedup_stage(spark, batch_df, index_dir, exclude_batch=exclude_batch),
        eval_docs,
    )


def start_streaming_corpus_pipeline(
    spark: SparkSession,
    docs_stream: DataFrame,
    eval_docs: DataFrame | None,
    survivors_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """documents stream → cleaned corpus + updated dedup index,
    exactly-once (per-batch subdirectory overwrites keyed by batch_id;
    the index loader excludes the in-flight batch_id, so at-least-once
    retries and kill/restart runs converge — same contract as
    ``start_streaming_corpus_ingest``). ``compact_every`` folds committed
    index partitions every N batches (bounded partition/file count;
    index_compact.DEFAULT_COMPACT_EVERY when None)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # One materialization feeds both writes (persist, not re-read):
        # the index must see the DEDUP-stage survivors, survivors_dir the
        # post-decontamination set — see module doc for why they differ.
        deduped = dedup_stage(
            spark, batch_df, index_dir, exclude_batch=batch_id
        ).persist()
        try:
            new_exact, new_bands = dedup_index(deduped)
            for sub, rows in (("exact", new_exact), ("bands", new_bands)):
                sub_dir = os.path.join(index_dir, sub)
                state.commit(rows, sub_dir, "batch", batch_id)
            survivors = decontaminate_stage(deduped, eval_docs)
            state.commit(survivors, survivors_dir, "batch", batch_id)
        finally:
            deduped.unpersist()
        maybe_compact_indexes(
            spark,
            [os.path.join(index_dir, "exact"), os.path.join(index_dir, "bands")],
            batch_id,
            compact_every,
        )

    return state.start_batches(docs_stream, process_batch, checkpoint_dir)
