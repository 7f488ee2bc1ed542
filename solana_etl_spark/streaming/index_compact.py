"""Compaction for the persisted append-only stream indexes.

The index streams (dedup_stream, web_stream, media_stream,
corpus_stream) append one ``batch={id}`` partition per micro-batch —
each written exactly once, so there are no obsolete VERSIONS to prune
(unlike the snapshot state of sample_stream/hll_stream). What does grow
without bound is the partition-directory and small-file count: a
long-lived stream accumulates one directory (× shuffle partitions
files) per micro-batch, and every per-batch index load lists them all.

``compact_index`` folds all committed partitions below ``before_batch``
into one compacted generation. Safety rests on two facts:

* Index rows are SETS consumed only by semi/anti joins (content hashes,
  band keys, canonical URLs, span hashes, fingerprints) — duplicate
  rows can never change a result. So the crash window between writing
  the new generation and deleting the old directories merely leaves
  duplicates, which the reader tolerates and the next compaction
  removes.
* A retrying batch k excludes only ``batch == k`` (the
  ``state.read_index`` contract), and compaction covers batches STRICTLY
  below the in-flight id — batches whose checkpoint has committed and
  can never retry. Each compacted generation gets a GUARANTEED-FRESH
  negative id (``min(existing ids, 0) − 1``), so a compaction never
  renames onto — let alone overwrites — any directory that exists,
  including a stale generation left by a crash mid-compaction; and no
  exclusion filter (always ``batch == k`` with k ≥ 0) ever matches a
  negative id.

At 100 TB this is the difference between an index load that lists tens
of directories and one that lists hundreds of thousands.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from solana_etl_spark.streaming import state

# default cadence wired into the stream writers: fold history every
# N micro-batches, keeping the live partition count ~N + 1 generation
DEFAULT_COMPACT_EVERY = 16


def compact_index(
    spark: SparkSession, path: str, before_batch: int, min_partitions: int = 4
) -> int:
    """Fold every partition with id < ``before_batch`` (including prior
    compacted generations — their ids are negative) into one single-file
    generation whose id is ``min(existing ids, 0) − 1`` over EVERY
    ``batch=<int>`` dir, committed or not — fresh by construction, so
    the rename target can NEVER pre-exist,
    even when a crash between the rename and the covered-dir deletes
    leaves a stale generation behind and the micro-batch retries the
    same compaction. (The previous ``-(before_batch)-1`` scheme wedged
    exactly there: the retry recomputed the same id and ``os.rename``
    onto the surviving non-empty dir raised ENOTEMPTY on every retry.)
    Returns the number of partitions folded (0 = nothing to do). Never
    touches ``batch >= before_batch`` — those may still retry.

    Crash-safe ordering: (1) write to a Spark-invisible ``_compact_tmp``
    dir, (2) rename it into the fresh generation, (3) delete the covered
    dirs. A crash after (2) leaves BOTH the new generation and the old
    dirs visible — duplicate index rows, which semi/anti-join readers
    tolerate and the next compaction folds; a crash before (2) changes
    nothing readers see. There is no window where committed rows are
    unreadable. (The rename is atomic on a real filesystem; on an
    object store, substitute its commit protocol.)"""
    ids = state.versions(spark, path, "batch", committed=False)
    covered = [b for b in ids if b < before_batch]
    if len(covered) < min_partitions:
        return 0
    target = min(0, min(ids)) - 1
    tmp = os.path.join(path, "_compact_tmp")
    src = state.read(spark, path, "batch", covered, None)
    # one file: the compacted generation is small by construction
    # (hashes/keys, not documents) and is broadcast into per-batch joins
    src.distinct().coalesce(1).write.mode("overwrite").parquet(tmp)
    os.rename(tmp, state.version_path(path, "batch", target))
    state.drop(spark, path, "batch", covered)
    return len(covered)


def maybe_compact_indexes(
    spark: SparkSession,
    index_paths: list[str],
    batch_id: int,
    compact_every: int | None,
) -> None:
    """Stream-writer hook: compact each index every ``compact_every``
    micro-batches (None means DEFAULT_COMPACT_EVERY, 0 disables). Runs
    AFTER the batch's own index write, covering only batches < batch_id."""
    if compact_every is None:
        compact_every = DEFAULT_COMPACT_EVERY
    if not compact_every or batch_id <= 0 or batch_id % compact_every:
        return
    for p in index_paths:
        compact_index(spark, p, before_batch=batch_id)
