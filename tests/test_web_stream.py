"""Streaming WebPipeline (streaming/web_stream.py): the URL-dedup →
C4 → span-dedup chain per micro-batch equals the batch chain, survives
kill/restart, and converges on foreachBatch retries."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from solana_etl_spark.streaming.state import await_end
from solana_etl_spark.streaming.web_stream import (
    start_streaming_web_pipeline,
    web_clean_batch,
)

PAGES = "page_id long, url string, text string"


def _sent(tag: str, i: int) -> str:
    return f"{tag} sentence number {i} has exactly enough words."


def _page_text(tag: str, n: int = 4) -> str:
    return "\n".join(_sent(tag, i) for i in range(n))


def _pages(spark, rows):
    return spark.createDataFrame(rows, PAGES)


def _run(spark, stream_dir, out):
    stream = spark.readStream.schema(
        _pages(spark, []).schema
    ).parquet(f"{stream_dir}/*.parquet")
    q = start_streaming_web_pipeline(
        spark,
        stream,
        survivors_dir=f"{out}/survivors",
        index_dir=f"{out}/index",
        checkpoint_dir=f"{out}/ckpt",
    )
    await_end(q, 120)


def _batch_chain(spark, rows):
    from solana_etl_spark.operators.c4 import c4_line_filter, c4_span_dedup
    from solana_etl_spark.operators.web import url_dedup_keep_best

    pages = _pages(spark, rows)
    keepers = url_dedup_keep_best(pages).select("page_id")
    best = pages.join(keepers, "page_id", "left_semi")
    clean = c4_line_filter(best).select(
        "page_id", F.col("text_clean").alias("text")
    )
    return c4_span_dedup(clean).select(
        "page_id", F.col("text_dedup").alias("text_final")
    )


def test_stream_equals_batch_and_restart_suppresses(spark, tmp_path):
    """Batch 1 output == the batch chain on the same pages; a
    kill/restart run over a second file of URL re-serves / syndicated
    spans adds only the genuinely new content."""
    out = str(tmp_path / "out")
    stream_dir = str(tmp_path / "stream")
    os.makedirs(stream_dir, exist_ok=True)

    block = _page_text("shared", 3)
    b1 = [
        (1, "https://a.co.uk/x", _page_text("alpha")),
        # URL variant of page 1's canonical form, shorter text: loses
        # in-batch keep-best
        (2, "HTTPS://WWW.A.co.uk:443/x?utm_source=f", _page_text("alpha", 3)),
        (3, "https://b.co.uk/y", block + "\n" + _sent("btail", 0)),
        # syndicates page 3's block: span dedup strips it
        (4, "https://c.com/z", block + "\n" + _page_text("gamma", 3)),
        (5, "https://thin.com/t", "too short."),  # C4 drops (< 3 lines)
    ]
    _pages(spark, b1).write.parquet(f"{stream_dir}/b1.parquet")
    _run(spark, stream_dir, out)

    got1 = {
        r["page_id"]: r["text_final"]
        for r in spark.read.parquet(f"{out}/survivors").collect()
    }
    want1 = {
        r["page_id"]: r["text_final"]
        for r in _batch_chain(spark, b1).collect()
    }
    assert got1 == want1
    assert set(got1) == {1, 3, 4}
    assert got1[4] == _page_text("gamma", 3)  # block stripped

    # restart (fresh query, same checkpoint/index) with a second file:
    # re-serve of indexed canonical 1, a NEW page syndicating batch-1's
    # block, and a genuinely fresh page
    b2 = [
        (10, "https://a.co.uk/x#frag", _page_text("alpha")),
        (11, "https://d.com/w", block + "\n" + _page_text("delta", 3)),
        (12, "https://e.com/v", _page_text("epsilon")),
    ]
    _pages(spark, b2).write.parquet(f"{stream_dir}/b2.parquet")
    _run(spark, stream_dir, out)

    got2 = {
        r["page_id"]: r["text_final"]
        for r in spark.read.parquet(f"{out}/survivors").collect()
    }
    assert set(got2) == {1, 3, 4, 11, 12}
    # the cross-batch span index stripped batch-1's block from page 11
    assert got2[11] == _page_text("delta", 3)
    assert got2[12] == _page_text("epsilon")


def test_web_clean_batch_retry_converges(spark, tmp_path):
    """A foreachBatch retry re-running the SAME batch_id must not see
    its first attempt's index rows (else every page classifies as an
    already-seen canonical / span): web_clean_batch with exclude_batch
    reproduces identical survivors, while a LATER batch is suppressed."""
    from solana_etl_spark.operators.c4 import span_hashes
    from solana_etl_spark.operators.web import canonical_url

    idx = str(tmp_path / "idx")
    rows = [
        (1, "https://a.co.uk/x", _page_text("alpha")),
        (2, "https://b.co.uk/y", _page_text("beta")),
    ]
    batch = _pages(spark, rows)
    first, cleaned = web_clean_batch(spark, batch, idx, exclude_batch=0)
    ids_first = sorted(r["page_id"] for r in first.collect())
    # simulate the crash-after-index-write: batch 0's rows persisted
    batch.select(
        canonical_url(F.col("url")).alias("url_canonical")
    ).distinct().write.parquet(f"{idx}/urls/batch=0")
    span_hashes(cleaned).write.parquet(f"{idx}/spans/batch=0")
    retry, _ = web_clean_batch(spark, batch, idx, exclude_batch=0)
    assert sorted(r["page_id"] for r in retry.collect()) == ids_first == [1, 2]
    # whereas a LATER batch (exclude_batch=1) is suppressed by the index
    later, _ = web_clean_batch(spark, batch, idx, exclude_batch=1)
    assert later.count() == 0


def test_cross_batch_strip_uses_original_windows(spark, tmp_path):
    """The manufactured-window corner: batch 1 indexes span (P,T,U);
    batch 2's page Y = [P,Q,R,S,T,U,V] loses (Q,R,S) to IN-BATCH dedup.
    Windows recomputed on the REBUILT text would contain (P,T,U) — in
    the index — and wrongly strip P,T,U; Y's ORIGINAL text never had
    that window, so the batch chain keeps those lines. Guards the
    one-occurrence-pass form of web_clean_batch."""
    P, Q, R, S, T, U, V = (_sent(t, 0) for t in "pqrstuv")
    b1 = [
        # batch-1 pages: span (P,T,U), syndicated twice so batch 1 both
        # records it in the index AND dedups it in-batch like the batch
        # chain would
        (1, "http://a.com/1", "\n".join([P, T, U, _sent("f1", 1)])),
        (2, "http://a.com/2", "\n".join([P, T, U, _sent("f2", 1)])),
    ]
    # batch 2: page 3 holds the (Q,R,S) keeper; Y = [P,Q,R,S,T,U,V]
    # loses Q,R,S to IN-BATCH dedup within this same micro-batch. The
    # rebuilt-text formulation then saw window (P,T,U) — in the batch-1
    # index — and wrongly stripped P,T,U; Y's ORIGINAL windows never
    # include it.
    y_lines = [P, Q, R, S, T, U, V]
    b2 = [
        (3, "http://b.com/3", "\n".join([Q, R, S, _sent("f3", 1)])),
        (10, "http://b.com/y", "\n".join(y_lines)),
    ]

    stream_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    os.makedirs(stream_dir, exist_ok=True)
    _pages(spark, b1).coalesce(1).write.parquet(f"{stream_dir}/p1.parquet")
    _run(spark, stream_dir, out)
    _pages(spark, b2).coalesce(1).write.parquet(f"{stream_dir}/p2.parquet")
    _run(spark, stream_dir, out)

    got = {
        r["page_id"]: r["text_final"]
        for r in spark.read.parquet(f"{out}/survivors/batch=*").collect()
    }
    # Y keeps P,T,U,V — only the cross-batch duplicate (Q,R,S) lines go.
    # (The rebuilt-text formulation stripped P,T,U here.)
    assert got[10] == "\n".join([P, T, U, V])

    # and the full corpus still equals the batch chain
    expect = {
        r["page_id"]: r["text_final"]
        for r in _batch_chain(spark, b1 + b2).collect()
    }
    assert got == expect
