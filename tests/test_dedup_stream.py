"""Streaming corpus ingest with a persisted dedup index: duplicates are
suppressed ACROSS restarts and micro-batches (warehouse state, not stream
state), survivors land exactly once."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from solana_etl_spark.streaming.dedup_stream import (
    dedup_batch_against_index,
    start_streaming_corpus_ingest,
)
from solana_etl_spark.streaming.state import await_end

SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _run_ingest(spark, stream_dir, out):
    stream = spark.readStream.schema(SCHEMA).parquet(f"{stream_dir}/*.parquet")
    q = start_streaming_corpus_ingest(
        spark,
        stream,
        survivors_dir=f"{out}/survivors",
        index_dir=f"{out}/index",
        checkpoint_dir=f"{out}/ckpt",
    )
    await_end(q, 120)


def test_streaming_ingest_dedups_across_restarts(spark, tmp_path):
    out = str(tmp_path / "out")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir, exist_ok=True)

    # batch 1: one exact in-batch duplicate pair (1, 2), one unique (3)
    _docs(
        spark,
        [
            (1, "alpha beta gamma delta", "en", "s0", 22),
            (2, "  Alpha   beta GAMMA delta ", "en", "s0", 27),  # exact dup of 1 after normalization
            (3, "epsilon zeta eta theta", "en", "s0", 22),
        ],
    ).write.parquet(f"{stream_dir}/b1.parquet")
    _run_ingest(spark, stream_dir, out)

    s1 = spark.read.parquet(f"{out}/survivors")
    assert sorted(r["doc_id"] for r in s1.collect()) == [1, 3]

    # batch 2 (after the first query fully stopped — a restart): an exact dup
    # of doc 1, a shingle-identical near-dup of doc 3, and a fresh doc
    _docs(
        spark,
        [
            (10, "alpha beta gamma delta", "en", "s0", 22),  # exact dup of indexed 1
            (11, "epsilon zeta eta theta", "en", "s1", 22),  # content dup of indexed 3 (different source)
            (12, "iota kappa lambda mu nu", "en", "s0", 23),
        ],
    ).write.parquet(f"{stream_dir}/b2.parquet")
    _run_ingest(spark, stream_dir, out)

    survivors = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/survivors").collect()
    )
    assert survivors == [1, 3, 12]

    # the index accumulated both batches' survivor keys
    exact_idx = spark.read.parquet(f"{out}/index/exact")
    assert exact_idx.select("content_hash").distinct().count() == 3


def test_batch_against_index_is_idempotent(spark, tmp_path):
    """Re-filtering the same batch against the index built FROM its own
    survivors drops everything — the retry/replay safety property."""
    from solana_etl_spark.operators.dedup import dedup_index

    out = str(tmp_path / "idx")
    batch = _docs(
        spark,
        [
            (1, "one two three four", "en", "s0", 18),
            (2, "five six seven eight", "en", "s0", 20),
        ],
    )
    survivors = dedup_batch_against_index(spark, batch, out)
    assert survivors.count() == 2
    exact, bands = dedup_index(survivors)
    exact.write.parquet(f"{out}/exact/batch=0")
    bands.write.parquet(f"{out}/bands/batch=0")
    again = dedup_batch_against_index(spark, batch, out)
    assert again.count() == 0


def test_retry_of_same_batch_converges(spark, tmp_path):
    """A foreachBatch retry (same batch_id) must NOT see its first attempt's
    own index rows — it recomputes the same survivors instead of erasing
    them."""
    from solana_etl_spark.operators.dedup import dedup_index

    out = str(tmp_path / "retry")
    batch = _docs(
        spark,
        [
            (1, "one two three four", "en", "s0", 18),
            (2, "five six seven eight", "en", "s0", 20),
        ],
    )
    # attempt 1: survivors computed and index written under batch=7
    first = dedup_batch_against_index(spark, batch, f"{out}/index", exclude_batch=7)
    exact, bands = dedup_index(first)
    exact.write.parquet(f"{out}/index/exact/batch=7")
    bands.write.parquet(f"{out}/index/bands/batch=7")
    # attempt 2 (retry, same batch_id): must again keep both docs
    retry = dedup_batch_against_index(spark, batch, f"{out}/index", exclude_batch=7)
    assert retry.count() == 2
    # a LATER batch (different id) is deduped against batch 7's index
    later = dedup_batch_against_index(spark, batch, f"{out}/index", exclude_batch=8)
    assert later.count() == 0


def test_in_batch_near_dups_collapse(spark, tmp_path):
    """Two LSH-colliding near-dup docs in the SAME batch: only the smaller
    doc_id survives — results don't depend on batch chunking."""
    out = str(tmp_path / "nb")
    text = "the quick brown fox jumps over the lazy dog again and again"
    batch = _docs(
        spark,
        [
            (1, text, "en", "s0", len(text)),
            (2, text + " extra", "en", "s0", len(text) + 6),  # near-dup, not exact
            (3, "completely different words here entirely", "en", "s0", 40),
        ],
    )
    survivors = dedup_batch_against_index(spark, batch, f"{out}/index")
    ids = sorted(r["doc_id"] for r in survivors.collect())
    assert 1 in ids and 2 not in ids and 3 in ids


def test_index_format_mismatch_fails_loudly(spark, tmp_path):
    """A persisted index written under a different schema (e.g. the
    pre-r8 'sig string' band signatures) must fail the read loudly, not
    silently mix parquet schemas and admit near-duplicates."""
    from solana_etl_spark.streaming.state import FORMAT_MARKER, read_index

    idx = str(tmp_path / "index" / "bands")
    os.makedirs(idx, exist_ok=True)
    # legacy engine: string signatures, stamped with the old schema
    with open(os.path.join(idx, FORMAT_MARKER), "w") as fh:
        fh.write("band int, sig string\n")
    spark.createDataFrame(
        [(0, "deadbeef")], "band int, sig string"
    ).write.mode("overwrite").parquet(os.path.join(idx, "batch=0"))
    with pytest.raises(ValueError, match="refusing to mix"):
        read_index(spark, idx, "band int, sig long", exclude_batch=None)


def test_unversioned_index_with_data_fails_loudly(spark, tmp_path):
    """Committed batch partitions with no format marker = an index from a
    pre-versioning engine; the read must refuse rather than guess."""
    from solana_etl_spark.streaming.state import read_index

    idx = str(tmp_path / "index" / "bands")
    spark.createDataFrame(
        [(0, "deadbeef")], "band int, sig string"
    ).write.mode("overwrite").parquet(os.path.join(idx, "batch=0"))
    with pytest.raises(ValueError, match="no _index_schema marker"):
        read_index(spark, idx, "band int, sig long", exclude_batch=None)


def test_fresh_index_is_stamped_at_first_read(spark, tmp_path):
    """First read of a not-yet-existing index stamps the marker BEFORE
    any batch write, so the unversioned-with-data state can never arise
    from a crash; the second read round-trips against the stamp."""
    from solana_etl_spark.streaming.state import FORMAT_MARKER, read_index

    idx = str(tmp_path / "index" / "exact")
    df = read_index(spark, idx, "content_hash long", exclude_batch=None)
    assert df.count() == 0
    with open(os.path.join(idx, FORMAT_MARKER)) as fh:
        assert fh.read().strip() == "content_hash long"
    assert read_index(
        spark, idx, "content_hash long", exclude_batch=None
    ).count() == 0
