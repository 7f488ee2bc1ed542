"""Streaming CDC snapshot maintenance: change batches applied in order,
restart convergence, retry idempotence, time travel, pruning."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from solana_etl_spark.streaming.merge_stream import (
    apply_changes_batch,
    current_snapshot,
    prune_snapshots,
    snapshot_versions,
    start_merge_stream,
)
from solana_etl_spark.streaming.state import await_end

SCHEMA = "k long, payload string, price double, op string, version int"


def _changes(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _run(spark, stream_dir, out):
    stream = spark.readStream.schema(SCHEMA).parquet(f"{stream_dir}/*.parquet")
    q = start_merge_stream(
        spark,
        stream,
        snapshot_dir=f"{out}/snap",
        checkpoint_dir=f"{out}/ckpt",
        keys=["k"],
    )
    await_end(q, 120)


def _rows(df):
    return sorted(tuple(r) for r in df.select("k", "payload", "price").collect())


def test_merge_stream_applies_batches_in_order(spark, tmp_path):
    out = str(tmp_path / "out")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir, exist_ok=True)

    # batch A: initial inserts
    _changes(
        spark,
        [(1, "a", 10.0, "U", 1), (2, "b", 20.0, "U", 1), (3, "c", 30.0, "U", 1)],
    ).write.parquet(f"{stream_dir}/b1.parquet")
    _run(spark, stream_dir, out)
    assert _rows(current_snapshot(spark, f"{out}/snap")) == [
        (1, "a", 10.0),
        (2, "b", 20.0),
        (3, "c", 30.0),
    ]

    # batch B after a full stop (a restart): update 1, delete 2, insert 4
    _changes(
        spark,
        [(1, "a2", 11.0, "U", 2), (2, "b", 20.0, "D", 2), (4, "d", 40.0, "U", 1)],
    ).write.parquet(f"{stream_dir}/b2.parquet")
    _run(spark, stream_dir, out)
    assert _rows(current_snapshot(spark, f"{out}/snap")) == [
        (1, "a2", 11.0),
        (3, "c", 30.0),
        (4, "d", 40.0),
    ]
    # both versions retained -> time travel to the pre-update snapshot
    versions = snapshot_versions(f"{out}/snap")
    assert len(versions) == 2
    old = spark.read.parquet(f"{out}/snap/v={versions[0]}")
    assert _rows(old) == [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)]


def test_batch_retry_converges(spark, tmp_path):
    snap = str(tmp_path / "snap")
    b0 = _changes(spark, [(1, "a", 10.0, "U", 1), (2, "b", 20.0, "U", 1)])
    b1 = _changes(spark, [(1, "a2", 11.0, "U", 2), (3, "c", 30.0, "U", 1)])
    apply_changes_batch(spark, b0, snap, 0, ["k"])
    apply_changes_batch(spark, b1, snap, 1, ["k"])
    after_first = _rows(spark.read.parquet(f"{snap}/v=1"))
    # simulate a foreachBatch retry of batch 1 (crash before checkpoint
    # commit): same batch id, parent must again be v=0, output identical
    apply_changes_batch(spark, b1, snap, 1, ["k"])
    assert _rows(spark.read.parquet(f"{snap}/v=1")) == after_first
    assert snapshot_versions(snap) == [0, 1]


def test_prune_keeps_newest(spark, tmp_path):
    snap = str(tmp_path / "snap")
    for i in range(4):
        apply_changes_batch(
            spark,
            _changes(spark, [(1, f"p{i}", float(i), "U", i + 1)]),
            snap,
            i,
            ["k"],
        )
    prune_snapshots(snap, retain=2)
    assert snapshot_versions(snap) == [2, 3]
    assert _rows(current_snapshot(spark, snap)) == [(1, "p3", 3.0)]


def test_retain_guard(spark, tmp_path):
    stream = spark.readStream.schema(SCHEMA).parquet(str(tmp_path / "*.parquet"))
    with pytest.raises(ValueError, match="retain"):
        start_merge_stream(
            spark, stream, str(tmp_path / "s"), str(tmp_path / "c"), ["k"], retain=1
        )
