"""Streaming media dedup (streaming/media_stream.py): dominance
semantics per batch, cross-batch suppression via the fingerprint index,
restart idempotence."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from solana_etl_spark.functions.wav import encode_pcm16
from solana_etl_spark.streaming.media_stream import (
    media_batch_against_index,
    start_streaming_media_dedup,
)
from solana_etl_spark.streaming.state import await_end

MEDIA = "media_id long, payload binary"


def _clip(seed: int, n: int = 1200) -> bytes:
    rng = np.random.default_rng(seed)
    # peak ≤ ~7800 so an amplitude-×4 twin stays inside int16
    amp = np.linspace(300.0, 6500.0, n) * (1.0 + 0.2 * np.sin(seed))
    x = (amp * np.sin(np.arange(n) * (0.05 + 0.001 * seed))).astype(np.int64)
    return encode_pcm16(8000, np.clip(x, -32768, 32767))


def _scaled(payload: bytes, k: int = 2) -> bytes:
    from solana_etl_spark.functions.wav import decode

    rate, samples = decode(payload)
    return encode_pcm16(rate, samples * k)


def _run(spark, src_dir, out):
    stream = (
        spark.readStream.schema(MEDIA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src_dir}/*.parquet")
    )
    q = start_streaming_media_dedup(
        spark,
        stream,
        survivors_dir=f"{out}/surv",
        index_dir=f"{out}/idx",
        checkpoint_dir=f"{out}/ckpt",
    )
    await_end(q, 120)


def test_stream_dominance_and_cross_batch_suppression(spark, tmp_path):
    a, b, c = _clip(1), _clip(2), _clip(3)
    # batch 1: clip 1, its amplitude-doubled twin (same fingerprint —
    # dominated in-batch), and an unrelated clip
    b1 = [(1, a), (2, _scaled(a)), (5, c)]
    # batch 2: another twin of clip 1 (cross-batch dominated via the
    # index — even though the in-batch loser 2 was never a survivor,
    # dominance is over all SEEN clips) + a fresh clip
    b2 = [(10, _scaled(a, 4)), (11, b)]

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    spark.createDataFrame(b1, MEDIA).coalesce(1).write.parquet(
        f"{src}/p1.parquet"
    )
    _run(spark, src, out)
    spark.createDataFrame(b2, MEDIA).coalesce(1).write.parquet(
        f"{src}/p2.parquet"
    )
    _run(spark, src, out)

    got = sorted(
        r["media_id"]
        for r in spark.read.parquet(f"{out}/surv/batch=*").collect()
    )
    assert got == [1, 5, 11]

    # re-ingest the SAME corpus as a third pass: fully suppressed
    # (every clip dominated by its own index row — the <= rule)
    spark.createDataFrame(b1 + b2, MEDIA).coalesce(1).write.parquet(
        f"{src}/p3.parquet"
    )
    _run(spark, src, out)
    again = sorted(
        r["media_id"]
        for r in spark.read.parquet(f"{out}/surv/batch=*").collect()
    )
    assert again == [1, 5, 11]


def test_batch_retry_converges(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the same batch_id must
    produce the same survivors (the index loader excludes the in-flight
    batch id)."""
    out = str(tmp_path / "o")
    b1 = spark.createDataFrame([(1, _clip(7)), (2, _scaled(_clip(7)))], MEDIA)

    first = media_batch_against_index(spark, b1, f"{out}/idx", 0)
    ids1 = sorted(r["media_id"] for r in first.collect())
    # simulate the index write having landed before the retry
    from solana_etl_spark.operators.audio import audio_fingerprints
    from solana_etl_spark.streaming.media_stream import _band_rows

    _band_rows(audio_fingerprints(b1)).write.mode("overwrite").parquet(
        f"{out}/idx/fps/batch=0"
    )
    retry = media_batch_against_index(spark, b1, f"{out}/idx", 0)
    assert sorted(r["media_id"] for r in retry.collect()) == ids1 == [1]
