"""Streaming media ingest with perceptual-fingerprint dedup against a
PERSISTED index — the multimodal member of the stream-equals-batch gate
family (text: dedup_stream, corpus chain: corpus_stream, crawl chain:
web_stream).

Per micro-batch of (media_id, payload): the Arrow-batched REAL decode
(operators/audio.py — vendored RIFF/FLAC parsers, routed by payload
signature) reduces each clip to its
60-bit energy-gradient fingerprint; everything after that row is
codegen. Dedup is DOMINANCE semantics, chosen because it is the one
near-dup rule an append-only stream can honor exactly:

    drop clip b ⟺ ∃ seen clip a with hamming(a, b) ≤ 3 and
                  a.media_id ≤ b.media_id

* in-batch: the banded Hamming-LSH pair join emits (a < b) pairs —
  every right-hand side is dominated, independent of how the stream
  chunks a batch.
* cross-batch: the index persists EVERY seen clip's (band, key,
  afp, media_id) rows — kept and dropped alike, because dominance is
  over all earlier clips, not earlier keepers; a batch clip joins the
  index on its four band keys (pigeonhole: hamming ≤ 3 < 4 bands
  guarantees ≥ 1 exact band match) and verifies hamming exactly — no
  LSH false drops. ``a.media_id ≤ b`` (not <) makes re-ingesting the
  same corpus idempotent: every clip is dominated by its own index row.

Ordering contract: the stream equals the single-pass batch dominance
relation under ID-ORDERED ingest (no batch may contain an id smaller
than an earlier batch's ids — the web/dedup stream gates' contract; the
gate feeds whole-corpus passes). Under unordered arrival the stream is
append-only, so an early-arriving larger id it already emitted cannot
be retracted when a smaller near-dup arrives later: survivors become a
SUPERSET of the batch relation, while every DROP is still justified by
a real ≤-id near-duplicate (no false drops, ever).

Retry safety mirrors dedup_stream: at-least-once foreachBatch, per-batch
subdirectory overwrites, index loads exclude the in-flight batch_id.

At 100 TB the payload bytes never shuffle — fingerprints are 8 bytes a
clip, the index is 4 band rows per seen clip, and the per-batch cost is
one decode pass plus two narrow band-keyed joins.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.audio import (
    AFP_BANDS,
    AFP_BITS,
    AFP_MAX_HAMMING,
    audio_fingerprints,
    fingerprint_pairs_from_sigs,
)
from solana_etl_spark.streaming import state
from solana_etl_spark.streaming.index_compact import maybe_compact_indexes

# geometry derives from operators/audio.py — the in-batch pair miner and
# this module's cross-batch index banding MUST agree or the pigeonhole
# guarantee is void
MAX_HAMMING = AFP_MAX_HAMMING
_BAND_WIDTH = AFP_BITS // AFP_BANDS


def _band_rows(sigs: DataFrame) -> DataFrame:
    """(media_id, afp, band, key): the 4 × 15-bit band keys of each
    fingerprint — the same banding banded_hamming_pairs uses, as a
    posexplode so index rows and probe rows share one definition."""
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col("afp"), b * _BAND_WIDTH).bitwiseAND(
                F.lit((1 << _BAND_WIDTH) - 1).cast("long")
            )
            for b in range(AFP_BANDS)
        ]
    )
    return sigs.select(
        "media_id", "afp", F.posexplode(bands).alias("band", "key")
    )


def media_batch_against_index(
    spark: SparkSession,
    batch_media: DataFrame,
    index_dir: str,
    exclude_batch: int | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """One micro-batch's surviving (media_id, afp) rows under dominance
    dedup: in-batch pair losers out first (chunking-independent), then
    anything hamming ≤ MAX_HAMMING from an equal-or-smaller-id indexed
    clip. ``sigs`` lets the caller pass an already-decoded (and
    checkpointed) signature relation so the Python decode kernel runs
    EXACTLY ONCE per batch — every downstream branch (in-batch pairs,
    index probe, survivor anti-joins, index write) reuses it."""
    if sigs is None:
        sigs = audio_fingerprints(batch_media).localCheckpoint(eager=False)
    in_batch_losers = fingerprint_pairs_from_sigs(
        sigs, max_hamming=MAX_HAMMING
    ).select(F.col("clip_b").alias("media_id")).distinct()
    sigs = sigs.join(in_batch_losers, "media_id", "left_anti")

    idx = state.read_index(
        spark,
        os.path.join(index_dir, "fps"),
        "media_id long, afp long, band int, key long",
        exclude_batch,
    )
    probe = _band_rows(sigs)
    dominated = (
        probe.alias("p")
        .join(
            idx.alias("i"),
            (F.col("p.band") == F.col("i.band"))
            & (F.col("p.key") == F.col("i.key"))
            & (F.col("i.media_id") <= F.col("p.media_id")),
        )
        .filter(
            F.bit_count(
                F.col("p.afp").bitwiseXOR(F.col("i.afp"))
            )
            <= MAX_HAMMING
        )
        .select(F.col("p.media_id").alias("media_id"))
        .distinct()
    )
    return sigs.join(dominated, "media_id", "left_anti")


def start_streaming_media_dedup(
    spark: SparkSession,
    media_stream: DataFrame,
    survivors_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
) -> StreamingQuery:
    """media stream → deduped (media_id, afp) survivors + fingerprint
    index, exactly-once (per-batch subdirectory overwrites; the index
    loader excludes the in-flight batch_id — the
    start_streaming_corpus_ingest contract). The index records EVERY
    batch clip (survivor or not): dominance is over all seen clips.
    ``compact_every`` folds committed index partitions every N batches
    (bounded partition/file count; index_compact.DEFAULT_COMPACT_EVERY
    when None)."""

    def process_batch(batch_media: DataFrame, batch_id: int) -> None:
        # decode ONCE: the checkpointed signatures feed the survivor
        # computation AND the index write — the payload bytes go through
        # the Python kernel a single time per batch
        sigs = audio_fingerprints(batch_media).localCheckpoint(eager=False)
        survivors = media_batch_against_index(
            spark, batch_media, index_dir, exclude_batch=batch_id, sigs=sigs
        )
        state.commit(survivors, survivors_dir, "batch", batch_id)
        state.commit(
            _band_rows(sigs), os.path.join(index_dir, "fps"), "batch", batch_id
        )
        maybe_compact_indexes(
            spark, [os.path.join(index_dir, "fps")], batch_id, compact_every
        )

    return state.start_batches(media_stream, process_batch, checkpoint_dir)
