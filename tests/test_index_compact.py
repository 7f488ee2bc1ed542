"""Bounded persisted state for the append-only index streams
(streaming/index_compact.py): compaction folds committed batch
partitions without changing any reader-visible row set, the stream
writers keep the partition count bounded under many micro-batches, and
retry exclusion still works across a compaction."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from solana_etl_spark.streaming import state
from solana_etl_spark.streaming.dedup_stream import (
    start_streaming_corpus_ingest,
)
from solana_etl_spark.streaming.index_compact import compact_index

SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _batch_dirs(path):
    """Every ``batch=<int>`` id under ``path``, committed or not."""
    return state.versions(SparkSession.active(), path, "batch", False)


def _write_batches(spark, path, n_batches, rows_per_batch=3):
    # stamp the format marker the way the stream's first read would
    state.check_index_format(path, "h long, v string")
    for b in range(n_batches):
        spark.createDataFrame(
            [(b * 100 + i, f"k{b}_{i}") for i in range(rows_per_batch)],
            "h long, v string",
        ).write.mode("overwrite").parquet(os.path.join(path, f"batch={b}"))


def test_compact_preserves_row_set_and_bounds_dirs(spark, tmp_path):
    idx = str(tmp_path / "idx")
    _write_batches(spark, idx, 10)
    before = {
        (r["h"], r["v"])
        for r in spark.read.option("basePath", idx).parquet(idx).collect()
    }
    folded = compact_index(spark, idx, before_batch=8)
    assert folded == 8
    dirs = _batch_dirs(idx)
    # one fresh compacted generation (-1) + the two uncovered batches 8, 9
    assert sorted(dirs) == [-1, 8, 9]
    after = {
        (r["h"], r["v"])
        for r in spark.read.option("basePath", idx).parquet(idx).collect()
    }
    assert after == before
    # recompaction folds the prior generation too, into a fresh id
    assert compact_index(spark, idx, before_batch=10, min_partitions=2) == 3
    assert sorted(_batch_dirs(idx)) == [-2]
    final = {
        (r["h"], r["v"])
        for r in spark.read.option("basePath", idx).parquet(idx).collect()
    }
    assert final == before


def test_compact_below_min_partitions_is_noop(spark, tmp_path):
    idx = str(tmp_path / "idx")
    _write_batches(spark, idx, 3)
    assert compact_index(spark, idx, before_batch=3, min_partitions=4) == 0
    assert sorted(_batch_dirs(idx)) == [0, 1, 2]
    assert compact_index(spark, str(tmp_path / "nope"), before_batch=9) == 0


def test_retry_exclusion_survives_compaction(spark, tmp_path):
    """A retrying batch k still excludes only its own partition after
    earlier batches were folded into a negative generation."""
    idx = str(tmp_path / "idx")
    _write_batches(spark, idx, 5)
    compact_index(spark, idx, before_batch=4)
    # batch 4 retries: must see batches 0-3 (now generation -1), not 4
    seen = state.read_index(spark, idx, "h long, v string", exclude_batch=4)
    hs = sorted(r["h"] for r in seen.collect())
    assert hs == sorted(b * 100 + i for b in range(4) for i in range(3))


def test_retried_compaction_after_crash_never_wedges(spark, tmp_path):
    """Crash window regression: a crash between the generation rename and
    the covered-dir deletes leaves the stale generation AND the covered
    dirs on disk. The retried compaction at the SAME before_batch must
    pick a fresh generation id (never rename onto the stale dir — the
    old -(before_batch)-1 scheme raised ENOTEMPTY here forever, wedging
    the stream) and must preserve the exact reader-visible row set."""
    idx = str(tmp_path / "idx")
    _write_batches(spark, idx, 6)
    before = {
        (r["h"], r["v"])
        for r in spark.read.option("basePath", idx).parquet(idx).collect()
    }
    # simulate the crash: generation written + renamed, deletes never ran
    import shutil

    src = spark.read.option("basePath", idx).parquet(
        *[os.path.join(idx, f"batch={b}") for b in range(4)]
    )
    tmp = os.path.join(idx, "_compact_tmp")
    src.select("h", "v").distinct().coalesce(1).write.parquet(tmp)
    os.rename(tmp, os.path.join(idx, "batch=-1"))
    assert sorted(_batch_dirs(idx)) == [-1, 0, 1, 2, 3, 4, 5]
    # duplicates visible mid-crash, but the row SET is unchanged
    mid = {
        (r["h"], r["v"])
        for r in spark.read.option("basePath", idx).parquet(idx).collect()
    }
    assert mid == before
    # the micro-batch retries the same compaction: must not raise, must
    # fold the stale generation + covered dirs into a fresh id
    folded = compact_index(spark, idx, before_batch=4)
    assert folded == 5  # batches 0-3 + stale generation -1
    assert sorted(_batch_dirs(idx)) == [-2, 4, 5]
    after = {
        (r["h"], r["v"])
        for r in spark.read.option("basePath", idx).parquet(idx).collect()
    }
    assert after == before
    # a second crash-retry cycle also converges (idempotent under retry)
    shutil.copytree(
        os.path.join(idx, "batch=-2"), os.path.join(idx, "batch=-3")
    )
    assert compact_index(spark, idx, before_batch=4, min_partitions=2) == 2
    assert sorted(_batch_dirs(idx)) == [-4, 4, 5]


def test_streaming_ingest_with_compaction_matches_uncompacted(
    spark, tmp_path
):
    """The dedup ingest stream run with an aggressive compaction cadence
    produces the identical survivor set as the uncompacted run, and its
    index partition count stays bounded."""
    rows_all = []
    for b in range(6):
        batch = [
            (b * 10 + i, f"text unique {b} {i} words here", "en", "s0", 20)
            for i in range(2)
        ]
        # every batch also replays doc 0's exact content — must never
        # survive twice
        batch.append((b * 10 + 9, "text unique 0 0 words here", "en", "s1", 20))
        rows_all.append(batch)

    def run(out, compact_every):
        stream_dir = str(tmp_path / f"{out}_stream")
        os.makedirs(stream_dir, exist_ok=True)
        for b, batch in enumerate(rows_all):
            spark.createDataFrame(batch, SCHEMA).write.mode(
                "overwrite"
            ).parquet(f"{stream_dir}/b{b}.parquet")
            stream = spark.readStream.schema(SCHEMA).parquet(
                f"{stream_dir}/*.parquet"
            )
            q = start_streaming_corpus_ingest(
                spark,
                stream,
                survivors_dir=str(tmp_path / out / "survivors"),
                index_dir=str(tmp_path / out / "index"),
                checkpoint_dir=str(tmp_path / out / "ckpt"),
                compact_every=compact_every,
            )
            state.await_end(q, 120)
        return sorted(
            r["doc_id"]
            for r in spark.read.parquet(
                str(tmp_path / out / "survivors")
            ).collect()
        )

    plain = run("plain", compact_every=0)  # 0 disables
    compacted = run("compacted", compact_every=2)
    assert compacted == plain
    for sub in ("exact", "bands"):
        n_dirs = len(_batch_dirs(str(tmp_path / "compacted" / "index" / sub)))
        assert n_dirs <= 4, sub  # bounded: ≤ cadence + generations
        n_plain = len(_batch_dirs(str(tmp_path / "plain" / "index" / sub)))
        assert n_plain == 6, sub  # uncompacted grows per batch
