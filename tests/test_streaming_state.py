"""Committed-version rules shared by every micro-batch stream
(streaming/state.py): a version directory that a crash left without
``_SUCCESS`` — holding only ``_temporary/``, or part files but no marker
— is never chosen as the parent by any stream's reader, a retry of that
batch converges, and listing versions and choosing the newest one run
on the driver without a Spark job."""

from __future__ import annotations

import ast
import os
import pathlib
import shutil
import threading
import time
from datetime import datetime

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from solana_etl_spark.streaming import state
from solana_etl_spark.streaming.hll_stream import (
    read_hll_state,
    update_hll_batch,
)
from solana_etl_spark.streaming.merge_stream import (
    apply_changes_batch,
    current_snapshot,
)
from solana_etl_spark.streaming.sample_stream import (
    read_sample,
    update_sample_batch,
)
from solana_etl_spark.streaming.view_stream import (
    apply_view_batch,
    current_view,
)
from solana_etl_spark.streaming.vocab_stream import (
    read_word_state,
    update_word_batch,
)


def _sample(spark, d, k):
    df = spark.range(k * 50, k * 50 + 50).select(F.col("id").alias("doc_id"))
    update_sample_batch(spark, df, d, k, n=10)


def _hll(spark, d, k):
    df = spark.range(k * 500, k * 500 + 500).select(
        F.concat(F.lit("k"), F.col("id")).alias("k")
    )
    update_hll_batch(spark, df, d, k, key_col="k")


def _vocab(spark, d, k):
    df = spark.createDataFrame(
        [(k, f"shared word{k} word{k}")], "doc_id long, text string"
    )
    update_word_batch(spark, df, d, k)


def _view(spark, d, k):
    t = datetime(2024, 1, 1, k)
    rows = [(k, t, "signup", None), (k, t, "purchase", float(k + 1))]
    apply_view_batch(
        spark,
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string, value double"
        ),
        d,
        k,
    )


def _merge(spark, d, k):
    df = spark.createDataFrame(
        [(1, f"p{k}", float(k), "U", k + 1)],
        "k long, payload string, price double, op string, version int",
    )
    apply_changes_batch(spark, df, d, k, ["k"])


def _index(spark, d, k):
    state.check_index_format(d, "h long")
    spark.createDataFrame([(k,)], "h long").write.mode("overwrite").parquet(
        os.path.join(d, f"batch={k}")
    )


# stream -> (write version k, read the current state, dir of version k)
STREAMS = {
    "sample": (
        _sample,
        lambda spark, d: read_sample(spark, d),
        lambda d, k: os.path.join(d, f"batch={k}"),
    ),
    "hll": (
        _hll,
        lambda spark, d: read_hll_state(spark, d),
        lambda d, k: os.path.join(d, f"batch={k}"),
    ),
    "vocab": (
        _vocab,
        lambda spark, d: read_word_state(spark, d),
        lambda d, k: os.path.join(d, f"batch={k}"),
    ),
    "view": (
        _view,
        current_view,
        lambda d, k: os.path.join(d, "view", f"v={k}"),
    ),
    "merge": (
        _merge,
        current_snapshot,
        lambda d, k: os.path.join(d, f"v={k}"),
    ),
    "index": (
        _index,
        lambda spark, d: state.read_index(spark, d, "h long", None),
        lambda d, k: os.path.join(d, f"batch={k}"),
    ),
}


def _uncommit(version_dir: str, crash: str) -> None:
    """Turn a committed version into what a crash leaves behind."""
    for marker in ("_SUCCESS", "._SUCCESS.crc"):
        if os.path.exists(os.path.join(version_dir, marker)):
            os.remove(os.path.join(version_dir, marker))
    if crash == "temporary_only":
        # the job died before commitJob moved the task output up
        task_dir = os.path.join(version_dir, "_temporary", "0", "task_0000")
        os.makedirs(task_dir)
        for name in os.listdir(version_dir):
            if name != "_temporary":
                shutil.move(os.path.join(version_dir, name), task_dir)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("crash", ["temporary_only", "no_success"])
@pytest.mark.parametrize("stream", sorted(STREAMS))
def test_uncommitted_version_is_never_the_parent(
    spark, tmp_path, stream, crash
):
    write, read, version_dir = STREAMS[stream]
    d = str(tmp_path / "state")
    write(spark, d, 0)
    v0 = _rows(read(spark, d))
    write(spark, d, 1)
    v1 = _rows(read(spark, d))
    assert v1 != v0  # once committed, version 1 is what readers see
    _uncommit(version_dir(d, 1), crash)
    assert _rows(read(spark, d)) == v0
    # the retry of batch 1 overwrites the half-written dir and converges
    write(spark, d, 1)
    assert _rows(read(spark, d)) == v1


def test_listing_and_choosing_launch_no_spark_job(spark, tmp_path):
    d = str(tmp_path / "state")
    for k in range(3):
        spark.createDataFrame([(k,)], "h long").write.parquet(
            os.path.join(d, f"batch={k}")
        )
    _uncommit(os.path.join(d, "batch=2"), "no_success")
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    sc.setJobGroup("state-listing", "list and choose versions")
    try:
        committed = state.versions(spark, d, "batch")
        every = state.versions(spark, d, "batch", committed=False)
        newest = state.latest(spark, d, "batch")
        parent = state.latest(spark, d, "batch", before=newest)
        missing = state.versions(spark, str(tmp_path / "nope"), "batch")
        # a control job after the listing: listener events arrive in
        # order, so once it is visible any listing job would be too
        sc.setJobGroup("state-control", "one job after the listing")
        sc.parallelize([1]).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup("state-control"):
        assert time.time() < deadline, "control job never reported"
        time.sleep(0.05)
    assert list(tracker.getJobIdsForGroup("state-listing")) == []
    assert (committed, every, newest, parent, missing) == (
        [0, 1],
        [0, 1, 2],
        1,
        0,
        [],
    )


def test_compaction_and_format_check_count_uncommitted_dirs(spark, tmp_path):
    """Index compaction picks its fresh generation id, and the format
    check detects existing data, over EVERY ``batch=`` dir: a marker-less
    dir still occupies its id (renaming onto it would fail with
    ENOTEMPTY) and still is data written without a format marker."""
    from solana_etl_spark.streaming.index_compact import compact_index

    idx = str(tmp_path / "idx")
    for k in range(-1, 4):
        _index(spark, idx, k)
    _uncommit(os.path.join(idx, "batch=-1"), "no_success")
    assert compact_index(spark, idx, before_batch=3, min_partitions=2) == 4
    assert state.versions(spark, idx, "batch", committed=False) == [-2, 3]

    bare = str(tmp_path / "bare")
    spark.createDataFrame([(0,)], "h long").write.parquet(
        os.path.join(bare, "batch=0")
    )
    _uncommit(os.path.join(bare, "batch=0"), "no_success")
    with pytest.raises(ValueError, match="no _index_schema marker"):
        state.check_index_format(bare, "h long")


# --- stream lifecycle: start_batches / await_end ----------------------------


def _id_stream(spark, tmp_path):
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    return spark.readStream.schema("id long").parquet(src)


def test_await_end_stops_a_stalled_stream_and_raises(spark, tmp_path):
    """A stream still running at the timeout is stopped and raises: its
    state is partial, and a caller that read it would compare half a
    stream (awaitTermination alone returns False and carries on)."""

    def slow_batch(batch_df, batch_id):
        time.sleep(8)

    q = state.start_batches(
        _id_stream(spark, tmp_path), slow_batch, str(tmp_path / "ckpt")
    )
    with pytest.raises(TimeoutError, match="did not end within 2"):
        state.await_end(q, 2)
    assert not q.isActive


def test_await_end_raises_when_a_batch_never_returns(spark, tmp_path):
    """A batch that blocks far past the timeout cannot hang the caller:
    the stop waits at most the session's spark.sql.streaming.stopTimeout,
    then await_end raises TimeoutError all the same."""
    release = threading.Event()

    def stuck_batch(batch_df, batch_id):
        release.wait(600)

    q = state.start_batches(
        _id_stream(spark, tmp_path), stuck_batch, str(tmp_path / "ckpt")
    )
    t0 = time.monotonic()
    try:
        with pytest.raises(TimeoutError, match="did not return either"):
            state.await_end(q, 2)
        assert time.monotonic() - t0 < 12
        assert not q.isActive
    finally:
        release.set()  # let the stuck batch return so its thread ends
        q.awaitTermination(60)


def test_await_end_propagates_a_failed_batch(spark, tmp_path):
    def failing_batch(batch_df, batch_id):
        raise ValueError("batch exploded")

    q = state.start_batches(
        _id_stream(spark, tmp_path), failing_batch, str(tmp_path / "ckpt")
    )
    with pytest.raises(StreamingQueryException, match="batch exploded"):
        state.await_end(q, 120)
    assert not q.isActive


def test_await_end_returns_once_the_stream_drains(spark, tmp_path):
    seen = []
    q = state.start_batches(
        _id_stream(spark, tmp_path),
        lambda df, batch_id: seen.extend(r.id for r in df.collect()),
        str(tmp_path / "ckpt"),
    )
    state.await_end(q, 120)
    assert sorted(seen) == [0, 1, 2] and not q.isActive


# --- source guard -----------------------------------------------------------

PKG = pathlib.Path(state.__file__).resolve().parent.parent
STATE = PKG / "streaming" / "state.py"


def _lifecycle_sites(path: pathlib.Path, streaming: bool) -> list[str]:
    """A ``.foreachBatch(`` call (streams start through
    state.start_batches), and — for a streaming module — an import of an
    ``_``-prefixed name from another streaming module."""
    found = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "foreachBatch"
        ):
            found.append(f"{path.name}:{node.lineno} .foreachBatch(")
        elif (
            streaming
            and isinstance(node, ast.ImportFrom)
            and (
                node.level > 0
                or (node.module or "").startswith("solana_etl_spark.streaming")
            )
        ):
            found += [
                f"{path.name}:{node.lineno} import {a.name}"
                for a in node.names
                if a.name.startswith("_")
            ]
    return found


def test_streams_start_only_through_state():
    sites = [
        s
        for p in sorted(PKG.rglob("*.py"))
        if p != STATE
        for s in _lifecycle_sites(p, p.parent.name == "streaming")
    ]
    assert sites == [], f"start via streaming/state.start_batches: {sites}"


def test_lifecycle_guard_sees_a_private_start(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "from solana_etl_spark.streaming.dedup_stream import _read_index\n"
        "from .state import _fs, versions\n"
        "q = df.writeStream.foreachBatch(f).start()\n"
    )
    assert len(_lifecycle_sites(probe, streaming=True)) == 3
    assert len(_lifecycle_sites(probe, streaming=False)) == 1
    assert len(_lifecycle_sites(STATE, streaming=True)) == 1
