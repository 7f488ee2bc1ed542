"""ST1/ST2 integration: the extract loop lands block files; the streaming
load tails the directory incrementally, appending outputs exactly once per
block across restarts (checkpointed)."""

from __future__ import annotations

import glob
import os
import shutil

from solana_etl_spark.sources.extract import extract_batch
from solana_etl_spark.streaming.pipeline import start_streaming_load
from solana_etl_spark.streaming.state import await_end
from tests.conftest import BLOCK_110130000


def _count_rows(path):
    n = 0
    for f in glob.glob(os.path.join(path, "**", "*.csv"), recursive=True):
        with open(f) as fh:
            n += sum(1 for line in fh if line.strip())
    return n


def test_extract_then_incremental_stream(spark, tmp_path):
    blocks_dir = tmp_path / "blocks"
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")

    # batch 1: extract two synthetic slots via the extract loop
    fixture_fetch = lambda slot: {  # noqa: E731
        "jsonrpc": "2.0",
        "result": {
            "blockHeight": slot,
            "blockTime": 1700000000 + slot,
            "blockhash": f"H{slot}",
            "parentSlot": slot - 1,
            "previousBlockhash": f"H{slot - 1}",
            "transactions": [],
        },
    }
    extract_batch(
        fixture_fetch, blocks_dir / "0", 1, 2, sleep=lambda _: None, log=lambda _: None
    )
    q = start_streaming_load(spark, f"{blocks_dir}/*", dest, ckpt)
    await_end(q, 120)

    blocks_rows_1 = _count_rows(os.path.join(dest, "blocks"))
    assert blocks_rows_1 == 2 + 1  # two empty blocks + header

    # batch 2: a real fixture block arrives later; restart picks up ONLY it
    shutil.copy(BLOCK_110130000, blocks_dir / "0" / "110130000.json.gz")
    q2 = start_streaming_load(spark, f"{blocks_dir}/*", dest, ckpt)
    await_end(q2, 180)

    assert _count_rows(os.path.join(dest, "blocks")) == blocks_rows_1 + 1
    assert _count_rows(os.path.join(dest, "transfers")) == 394 + 1
    assert _count_rows(os.path.join(dest, "transactions")) == 3439 + 1

    # restart with NO new files: checkpoint prevents reprocessing
    q3 = start_streaming_load(spark, f"{blocks_dir}/*", dest, ckpt)
    await_end(q3, 60)
    assert _count_rows(os.path.join(dest, "transfers")) == 394 + 1


def test_midstream_kill_restart_matches_batch(spark, tmp_path):
    """Exactly-once under a MID-STREAM kill: stream the 240-block corpus in
    small micro-batches, stop the query as soon as the first batch commits
    (leaving later batches unprocessed or half-written), restart from the
    checkpoint, and assert the final streamed output row-for-row equals the
    batch pipeline over the same corpus. Idempotent per-batch-directory
    writes make a replayed batch overwrite its own partial output — this is
    the claim streaming/pipeline.py makes, verified."""
    import time

    import pyspark.sql.functions as F

    from solana_etl_spark.plans.tasks import run_all_tasks
    from solana_etl_spark.sources import read_blocks
    from solana_etl_spark.sources.synth import ensure_e2e_corpus

    corpus = ensure_e2e_corpus()
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")

    q = start_streaming_load(
        spark, f"{corpus}/*", dest, ckpt, max_files_per_trigger=48
    )
    # wait for the FIRST committed batch, then kill mid-stream
    deadline = time.time() + 180
    while time.time() < deadline:
        if glob.glob(os.path.join(dest, "transactions", "batch-*")):
            break
        time.sleep(0.5)
    q.stop()
    await_end(q, 60)
    n_after_kill = _count_rows(os.path.join(dest, "transactions"))

    # restart from the checkpoint; availableNow drains the rest
    q2 = start_streaming_load(
        spark, f"{corpus}/*", dest, ckpt, max_files_per_trigger=48
    )
    await_end(q2, 300)
    assert not q2.isActive

    streamed = spark.read.option("header", False).csv(
        os.path.join(dest, "transactions", "batch-*")
    )
    batch = run_all_tasks(read_blocks(spark, f"{corpus}/*/*.json.gz"))[
        "transactions"
    ]

    # row-for-row: same signatures (no dups, no gaps), same fee total
    assert streamed.count() == batch.count() > n_after_kill - 1
    sigs_stream = streamed.select(F.col("_c1").alias("s"))
    sigs_batch = batch.select(F.col("signature").alias("s"))
    assert sigs_stream.distinct().count() == streamed.count()
    assert sigs_stream.exceptAll(sigs_batch).count() == 0
    assert sigs_batch.exceptAll(sigs_stream).count() == 0
    assert (
        streamed.agg(F.sum(F.col("_c2").cast("long"))).first()[0]
        == batch.agg(F.sum("fee")).first()[0]
    )
