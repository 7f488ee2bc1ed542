"""Streaming CorpusPipeline (streaming/corpus_stream.py): the full
quality→dedup→decontaminate chain per micro-batch equals the batch
pipeline, survives kill/restart, and converges on foreachBatch retries."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from solana_etl_spark.streaming.corpus_stream import (
    clean_batch,
    start_streaming_corpus_pipeline,
)
from solana_etl_spark.streaming.state import await_end

SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

# quality gate needs >= 10 tokens, low punctuation; build conforming docs
_GOOD = "the quick brown fox jumps over the lazy dog again and again today"
_NEAR = "the quick brown fox jumps over the lazy dog again and again tonight"
_EVAL = "held out evaluation benchmark sentence with its own distinct words"
_LEAK = (
    "prefix words then held out evaluation benchmark sentence with its own"
    " distinct words too"
)
_OTHER = (
    "completely different content about spark engines and their shuffle"
    " plans today"
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _run(spark, stream_dir, out, eval_docs):
    stream = spark.readStream.schema(SCHEMA).parquet(f"{stream_dir}/*.parquet")
    q = start_streaming_corpus_pipeline(
        spark,
        stream,
        eval_docs,
        survivors_dir=f"{out}/survivors",
        index_dir=f"{out}/index",
        checkpoint_dir=f"{out}/ckpt",
    )
    await_end(q, 120)


def test_stream_equals_batch_and_restart_suppresses(spark, tmp_path):
    """Batch 1 output == the batch CorpusPipeline on the same docs; a
    kill/restart run over a second file of dups/leaks adds only the
    genuinely new survivor."""
    from solana_etl_spark.corpus import CorpusPipeline

    out = str(tmp_path / "out")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir, exist_ok=True)
    eval_docs = _docs(spark, [(100, _EVAL, "en", "eval", len(_EVAL))])

    b1 = [
        (1, _GOOD, "en", "s0", len(_GOOD)),
        (2, _GOOD.upper(), "en", "s0", len(_GOOD)),  # exact dup after norm
        (3, "short low", "en", "s0", 9),             # fails quality (<10 toks)
        (4, _LEAK, "en", "s0", len(_LEAK)),          # eval 5-gram leak
        (5, _OTHER, "en", "s0", len(_OTHER)),
    ]
    _docs(spark, b1).write.parquet(f"{stream_dir}/b1.parquet")
    _run(spark, stream_dir, out, eval_docs)

    got1 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/survivors").collect()
    )
    batch_ref = sorted(
        r["doc_id"]
        for r in CorpusPipeline(_docs(spark, b1))
        .quality_filter()
        .dedup_exact()
        .dedup_near()
        .decontaminate(eval_docs)
        .df.collect()
    )
    assert got1 == batch_ref == [1, 5]

    # restart (fresh query, same checkpoint/index) with a second file:
    # exact dup of indexed 1, near dup of indexed 1, a new leak, one new doc
    b2 = [
        (10, _GOOD, "en", "s0", len(_GOOD)),
        (11, _NEAR, "en", "s0", len(_NEAR)),
        (12, _LEAK + " another", "en", "s0", len(_LEAK) + 8),
        (
            13,
            "a genuinely fresh document describing streaming watermarks"
            " and state stores in depth",
            "en",
            "s0",
            88,
        ),
    ]
    _docs(spark, b2).write.parquet(f"{stream_dir}/b2.parquet")
    _run(spark, stream_dir, out, eval_docs)

    got2 = sorted(
        r["doc_id"]
        for r in spark.read.parquet(f"{out}/survivors").collect()
    )
    assert got2 == [1, 5, 13]


def test_clean_batch_retry_converges(spark, tmp_path):
    """A foreachBatch retry re-running the SAME batch_id must not see its
    first attempt's index rows (else every row classifies as duplicate):
    clean_batch with exclude_batch reproduces the identical survivors."""
    from solana_etl_spark.operators.dedup import dedup_index

    idx = str(tmp_path / "idx")
    eval_docs = _docs(spark, [(100, _EVAL, "en", "eval", len(_EVAL))])
    batch = _docs(
        spark,
        [
            (1, _GOOD, "en", "s0", len(_GOOD)),
            (2, _OTHER, "en", "s0", len(_OTHER)),
        ],
    )
    first = clean_batch(spark, batch, eval_docs, idx, exclude_batch=0)
    ids_first = sorted(r["doc_id"] for r in first.collect())
    # simulate the crash-after-index-write: batch 0's index rows persisted
    ex, bands = dedup_index(first)
    ex.write.parquet(f"{idx}/exact/batch=0")
    bands.write.parquet(f"{idx}/bands/batch=0")
    # retry of batch 0: excluding its own partition reproduces the output
    retry = clean_batch(spark, batch, eval_docs, idx, exclude_batch=0)
    assert sorted(r["doc_id"] for r in retry.collect()) == ids_first == [1, 2]
    # whereas a LATER batch (exclude_batch=1) is suppressed by the index
    later = clean_batch(spark, batch, eval_docs, idx, exclude_batch=1)
    assert later.count() == 0


def test_near_dup_of_contaminated_keeper_across_batches(spark, tmp_path):
    """The index must record DEDUP-stage survivors BEFORE decontamination:
    a contaminated keeper's near-dup arriving in a LATER micro-batch (with
    the leaked sentence as its differing region, so the near-dup itself is
    clean) must still be dropped — the batch pipeline dedups before it
    decontaminates, so batch-over-everything keeps neither doc."""
    from solana_etl_spark.corpus import CorpusPipeline
    from solana_etl_spark.operators.dedup import lsh_duplicate_ids

    # X leaks an eval 5-gram; Y differs from X in exactly the leaked words.
    # A long shared tail keeps the pair inside LSH near-dup range while the
    # two word edits break every eval 5-gram on Y's side.
    tail = " ".join(
        f"shared narrative sentence number {i} about partition planning"
        for i in range(8)
    )
    leak_x = _LEAK + " " + tail
    clean_y = (
        _LEAK.replace("benchmark", "reference").replace("own", "new")
        + " "
        + tail
    )
    eval_docs = _docs(spark, [(100, _EVAL, "en", "eval", len(_EVAL))])
    x_row = (1, leak_x, "en", "s0", len(leak_x))
    y_row = (2, clean_y, "en", "s0", len(clean_y))

    # precondition 1: Y alone is NOT contaminated
    from solana_etl_spark.operators.decontam import contamination

    assert (
        contamination(_docs(spark, [y_row]), eval_docs)
        .filter(F.col("is_contaminated"))
        .count()
        == 0
    )
    # precondition 2: (X, Y) IS an LSH near-dup pair (Y the non-keeper)
    both = _docs(spark, [x_row, y_row])
    assert sorted(
        r["doc_id"] for r in lsh_duplicate_ids(both).collect()
    ) == [2]

    out = str(tmp_path / "out")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir, exist_ok=True)
    _docs(spark, [x_row]).write.parquet(f"{stream_dir}/b1.parquet")
    _run(spark, stream_dir, out, eval_docs)
    _docs(spark, [y_row]).write.parquet(f"{stream_dir}/b2.parquet")
    _run(spark, stream_dir, out, eval_docs)

    got = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{out}/survivors").collect()
    )
    batch_ref = sorted(
        r["doc_id"]
        for r in CorpusPipeline(both)
        .quality_filter()
        .dedup_exact()
        .dedup_near()
        .decontaminate(eval_docs)
        .df.collect()
    )
    assert got == batch_ref == []
