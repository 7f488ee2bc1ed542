"""Streaming deterministic sample: restart convergence and
stream-equals-batch over a real checkpointed Structured-Streaming run
(the `stream_reservoir_sample` gate row covers the oracle equality; this
covers the restart path the gate's single run cannot)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from solana_etl_spark.functions.hashing import hash64
from solana_etl_spark.streaming.sample_stream import (
    read_sample,
    start_streaming_sample,
)
from solana_etl_spark.streaming.state import await_end

N = 10


def _run(spark, stream_dir, out):
    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{stream_dir}/*.parquet")
    )
    q = start_streaming_sample(
        spark,
        stream,
        state_dir=f"{out}/state",
        checkpoint_dir=f"{out}/ckpt",
        n=N,
    )
    await_end(q, 120)


def _batch_expected(spark, ids):
    df = spark.createDataFrame([(i,) for i in ids], ["doc_id"]).select(
        "doc_id",
        hash64(F.concat(F.lit("sample|"), F.col("doc_id").cast("string"))).alias(
            "sample_rank"
        ),
    )
    return sorted(
        (r["doc_id"], r["sample_rank"])
        for r in df.orderBy("sample_rank", "doc_id").limit(N).collect()
    )


def test_sample_stream_restart_converges_to_batch(spark, tmp_path):
    out = str(tmp_path / "out")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir, exist_ok=True)

    ids1 = list(range(0, 60))
    spark.createDataFrame([(i,) for i in ids1], ["doc_id"]).write.parquet(
        f"{stream_dir}/b1.parquet"
    )
    _run(spark, stream_dir, out)  # first run: stops at availableNow
    got1 = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in read_sample(spark, f"{out}/state").collect()
    )
    assert got1 == _batch_expected(spark, ids1)

    # new files arrive; RESTART from the checkpoint — only the new batch
    # is processed, and the maintained sample equals the batch answer
    # over the full union
    ids2 = list(range(1000, 1060))
    spark.createDataFrame([(i,) for i in ids2], ["doc_id"]).write.parquet(
        f"{stream_dir}/b2.parquet"
    )
    _run(spark, stream_dir, out)
    got2 = sorted(
        (r["doc_id"], r["sample_rank"])
        for r in read_sample(spark, f"{out}/state").collect()
    )
    assert got2 == _batch_expected(spark, ids1 + ids2)
    assert len(got2) == N


def test_sample_batch_string_keys(spark, tmp_path):
    """State schema derives from the batch key type — string ids must
    work end-to-end, not just the long default."""
    from solana_etl_spark.streaming.sample_stream import (
        read_sample,
        update_sample_batch,
    )

    state = str(tmp_path / "state")
    b0 = spark.createDataFrame([(f"u{i}",) for i in range(40)], ["doc_id"])
    b1 = spark.createDataFrame([(f"v{i}",) for i in range(40)], ["doc_id"])
    update_sample_batch(spark, b0, state, 0, n=N)
    update_sample_batch(spark, b1, state, 1, n=N)
    got = read_sample(spark, state, key_type="string").collect()
    assert len(got) == N
    assert all(isinstance(r["doc_id"], str) for r in got)
    expected = _batch_expected(spark, [f"u{i}" for i in range(40)]
                               + [f"v{i}" for i in range(40)])
    assert sorted((r["doc_id"], r["sample_rank"]) for r in got) == expected


def test_sample_state_pruned_to_two_versions(spark, tmp_path):
    """Old state partitions are deleted after each successful write:
    only batch=k and its predecessor survive (the predecessor stays for
    retry convergence), so a long-running stream's state listing stays
    O(1) instead of one partition per micro-batch."""
    from solana_etl_spark.streaming.sample_stream import (
        read_sample,
        update_sample_batch,
    )

    state = tmp_path / "state"
    for bid in range(5):
        df = spark.createDataFrame(
            [(bid * 100 + i,) for i in range(30)], ["doc_id"]
        )
        update_sample_batch(spark, df, str(state), bid, n=N)
    kept = sorted(
        p.name for p in state.iterdir() if p.name.startswith("batch=")
    )
    assert kept == ["batch=3", "batch=4"]
    # the sample itself is still the full-prefix sample
    got = read_sample(spark, str(state)).collect()
    assert len(got) == N
    expected = _batch_expected(
        spark, [b * 100 + i for b in range(5) for i in range(30)]
    )
    assert sorted((r["doc_id"], r["sample_rank"]) for r in got) == expected
