"""Streaming materialized join view: stream result equals the batch join
over all appends, delta-delta pairs land, retries converge."""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import functions as F

from solana_etl_spark.streaming.state import await_end
from solana_etl_spark.streaming.view_stream import (
    apply_view_batch,
    current_view,
    start_view_stream,
)

SCHEMA = "user_id long, ts timestamp, event_type string, value double"


def _ev(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _t(h, m=0):
    return datetime(2024, 1, 1, h, m)


_BATCHES = [
    # batch 0: u1 signs up; u2 purchases (no signup yet -> no rows)
    [
        (1, _t(0), "signup", None),
        (2, _t(0, 30), "purchase", 5.0),
    ],
    # batch 1: u1 purchases (old signup x new purchase);
    # u2 signs up (new signup x old purchase)
    [
        (1, _t(1), "purchase", 10.0),
        (2, _t(1, 30), "signup", None),
    ],
    # batch 2: u3 signs up AND purchases in the same batch (delta-delta)
    [
        (3, _t(2), "signup", None),
        (3, _t(2, 30), "purchase", 7.0),
        (1, _t(2, 45), "purchase", 11.0),
    ],
]


def _expected(spark):
    all_rows = [r for b in _BATCHES for r in b]
    ev = _ev(spark, all_rows)
    s = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "value"
    )
    return sorted(tuple(r) for r in s.join(p, "user_id").collect())


def test_view_stream_equals_batch_join(spark, tmp_path):
    state = str(tmp_path / "state")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir)
    for i, rows in enumerate(_BATCHES):
        _ev(spark, rows).coalesce(1).write.parquet(f"{stream_dir}/b{i}.parquet")

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*.parquet")
    )
    q = start_view_stream(
        spark, stream, state_dir=state, checkpoint_dir=str(tmp_path / "ckpt")
    )
    await_end(q, 180)

    got = sorted(tuple(r) for r in current_view(spark, state).collect())
    assert got == _expected(spark)
    # delta-delta: u3's same-batch signup x purchase must be present
    assert any(r[0] == 3 for r in got)


def test_view_batch_retry_converges(spark, tmp_path):
    state = str(tmp_path / "state")
    for i, rows in enumerate(_BATCHES):
        apply_view_batch(spark, _ev(spark, rows), state, i)
    before = sorted(tuple(r) for r in current_view(spark, state).collect())
    # redeliver the last batch (at-least-once): same committed state < 2,
    # same overwrite -> identical view
    apply_view_batch(spark, _ev(spark, _BATCHES[2]), state, 2)
    after = sorted(tuple(r) for r in current_view(spark, state).collect())
    assert before == after == _expected(spark)


def test_view_stream_prunes_old_versions(spark, tmp_path):
    """retain=2 keeps only the newest two v=N dirs (storage would otherwise
    grow quadratically in batch count) without changing the final view."""
    from solana_etl_spark.streaming.view_stream import prune_view_versions

    state = str(tmp_path / "state")
    for i, rows in enumerate(_BATCHES):
        apply_view_batch(spark, _ev(spark, rows), state, i)
        prune_view_versions(state, retain=2)
    versions = sorted(
        d for d in os.listdir(os.path.join(state, "view")) if d.startswith("v=")
    )
    assert versions == ["v=1", "v=2"]
    got = sorted(tuple(r) for r in current_view(spark, state).collect())
    assert got == _expected(spark)
    # retry of the last batch still converges with the pruned parent present
    apply_view_batch(spark, _ev(spark, _BATCHES[2]), state, 2)
    assert sorted(tuple(r) for r in current_view(spark, state).collect()) == got


def test_view_stream_retain_guard():
    import pytest

    from solana_etl_spark.streaming.view_stream import start_view_stream

    with pytest.raises(ValueError, match="retain must be >= 2"):
        start_view_stream(None, None, "", "", retain=1)
