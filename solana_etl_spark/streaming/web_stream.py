"""The WebPipeline crawl-curation chain under Structured Streaming:
canonical-URL dedup (vs a PERSISTED canonical index) → C4 line/page
rules → three-sentence-span dedup (in-batch + vs a persisted span
index), per micro-batch, converging to the batch chain's output.

Stage-by-stage streaming semantics:

* URL keep-best — in-batch keep-best FIRST (so results don't depend on
  how the stream chunks a batch), then an anti-join against the
  persisted canonical-URL index: first-batch-wins across batches. This
  equals the batch chain whenever a later duplicate of an already-kept
  canonical URL is never strictly better (longest text) than the kept
  copy — true of re-crawls/re-serves (same resource, same or shorter
  text) and of any id-ordered ingest of the gate corpora; a crawl that
  genuinely re-serves LONGER pages later needs retraction, which no
  append-only stream provides.
* C4 line/page rules — bare per-row predicates, batch-independent:
  applied directly to the micro-batch.
* span dedup — ONE occurrence pass over the batch's original
  line-filtered text (``c4_span_dedup_with_index``): the dropped set is
  in-batch non-first occurrences ∪ occurrences whose hash is in the
  persisted index, rebuilt once. (Computing windows on the REBUILT
  post-in-batch text would let line removal manufacture/destroy windows
  relative to the original page — the batch chain computes every window
  on the original text.) The index records each batch's
  post-line-filter span hashes (operators/c4.span_hashes), i.e.
  first-ARRIVED occurrences win — identical to the batch chain's
  (page, pos)-min keeper under id-ordered ingest.

Index updates are written from the URL-dedup stage (canonicals of ALL
batch rows — any seen canonical suppresses later copies, matching the
batch chain where those copies lose keep-best regardless of what the
C4 rules later do to the winner) and from the line-filtered text (the
same relation batch span dedup hashes).

Retry safety mirrors ``dedup_stream``: foreachBatch is at-least-once,
every write lands in a ``batch={id}`` subdirectory with overwrite, and
the index loaders read every committed version (streaming/state.py)
except the in-flight batch_id, so a retry never reads its first
attempt's output.

At 100 TB the per-batch cost is the chain's own map-heavy stages plus
two narrow index anti-joins (32-byte hash / canonical-URL rows) — no
corpus re-scan, no unbounded stream state.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.c4 import (
    c4_line_filter,
    c4_span_dedup_with_index,
    span_hashes,
)
from solana_etl_spark.operators.web import canonical_url, url_dedup_keep_best
from solana_etl_spark.streaming import state
from solana_etl_spark.streaming.index_compact import maybe_compact_indexes


def url_stage(
    spark: SparkSession,
    batch_pages: DataFrame,
    index_dir: str,
    exclude_batch: int | None = None,
) -> DataFrame:
    """In-batch keep-best, then drop canonicals already in the index."""
    keepers = url_dedup_keep_best(batch_pages).select("page_id")
    best = batch_pages.join(keepers, "page_id", "left_semi")
    url_idx = state.read_index(
        spark,
        os.path.join(index_dir, "urls"),
        "url_canonical string",
        exclude_batch,
    )
    return (
        best.withColumn("url_canonical", canonical_url(F.col("url")))
        .join(url_idx, "url_canonical", "left_anti")
        .drop("url_canonical")
    )


def web_clean_batch(
    spark: SparkSession,
    batch_pages: DataFrame,
    index_dir: str,
    exclude_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """One micro-batch through the crawl chain. Returns
    ``(survivors, cleaned)``: survivors are (page_id, text_final) after
    both span-dedup arms; ``cleaned`` is the line-filtered relation whose
    span hashes the caller must record in the index (the same relation
    the batch chain hashes)."""
    best = url_stage(spark, batch_pages, index_dir, exclude_batch)
    cleaned = c4_line_filter(best).select(
        "page_id", F.col("text_clean").alias("text")
    )
    span_idx = state.read_index(
        spark, os.path.join(index_dir, "spans"), "h string", exclude_batch
    )
    # ONE occurrence pass over the ORIGINAL cleaned text: in-batch
    # non-first occurrences ∪ index hits, one rebuild. Chaining
    # c4_span_dedup then strip-vs-index would recompute windows on the
    # REBUILT text, where in-batch line removal manufactures windows the
    # original page never had (wrongly stripped if indexed) and destroys
    # ones it did (missed strips) — the batch chain computes every
    # window on the original text.
    survivors = c4_span_dedup_with_index(cleaned, span_idx).select(
        "page_id", F.col("text_dedup").alias("text_final")
    )
    return survivors, cleaned


def start_streaming_web_pipeline(
    spark: SparkSession,
    pages_stream: DataFrame,
    survivors_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """pages stream → curated crawl + updated URL/span indexes,
    exactly-once (per-batch subdirectory overwrites keyed by batch_id;
    the index loaders exclude the in-flight batch_id, so at-least-once
    retries and kill/restart runs converge — the
    ``start_streaming_corpus_ingest`` contract). ``compact_every`` folds
    committed index partitions every N batches (bounded partition/file
    count; index_compact.DEFAULT_COMPACT_EVERY when None)."""

    def process_batch(batch_pages: DataFrame, batch_id: int) -> None:
        survivors, cleaned = web_clean_batch(
            spark, batch_pages, index_dir, exclude_batch=batch_id
        )
        state.commit(survivors, survivors_dir, "batch", batch_id)
        # canonicals of ALL batch rows: any seen canonical suppresses
        # later copies (see module doc)
        urls = batch_pages.select(
            canonical_url(F.col("url")).alias("url_canonical")
        ).distinct()
        spans = span_hashes(cleaned)
        state.commit(urls, os.path.join(index_dir, "urls"), "batch", batch_id)
        state.commit(spans, os.path.join(index_dir, "spans"), "batch", batch_id)
        maybe_compact_indexes(
            spark,
            [os.path.join(index_dir, "urls"), os.path.join(index_dir, "spans")],
            batch_id,
            compact_every,
        )

    return state.start_batches(pages_stream, process_batch, checkpoint_dir)
