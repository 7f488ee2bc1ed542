"""Streaming CDC snapshot maintenance: a change stream continuously merged
into a versioned table snapshot.

``operators/merge.merge_snapshot`` applies one changeset; this wiring runs
it per micro-batch so a CDC feed (upserts + deletes with versions)
maintains a queryable snapshot with exactly-once semantics and time
travel:

* snapshot ``v=N`` is a pure function of (latest snapshot with version
  < N, batch N's changes) — foreachBatch retries of batch N re-read the
  SAME parent (their own half-written output is excluded by construction)
  and overwrite the same directory, so at-least-once delivery converges;
* every retained ``v=N`` directory is a consistent point-in-time snapshot
  (time travel for free); ``prune_snapshots`` keeps the newest ``retain``;
* within a batch, conflicting changes to one key resolve by the operator's
  latest-writer-wins contract; across batches, later batches win by
  construction (they merge onto the previous snapshot).

Scale: the per-batch cost is the broadcast-anti-join merge — the snapshot
side is scanned once and never shuffled; only the (small) changeset is.
The full-rewrite-per-batch shape matches parquet's immutability; swap the
write for a partition-overwrite (layout.cluster_and_compact on the merge
keys) when snapshots outgrow single-directory rewrites.

The reference's streaming load is append-only per block
(`/root/reference/src/extract/Extract.py:88-129` + CSV append); keyed
maintenance is charter scale machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.merge import merge_snapshot
from solana_etl_spark.streaming import state


def snapshot_versions(snapshot_dir: str) -> list[int]:
    """Committed snapshot versions, oldest first (streaming/state.py)."""
    return state.versions(SparkSession.active(), snapshot_dir, "v")


def current_snapshot(spark: SparkSession, snapshot_dir: str) -> DataFrame:
    return state.read_latest(spark, snapshot_dir, "v")


def prune_snapshots(snapshot_dir: str, retain: int = 3) -> None:
    state.prune(SparkSession.active(), snapshot_dir, "v", retain)


def apply_changes_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    snapshot_dir: str,
    batch_id: int,
    keys: list[str],
    version_col: str = "version",
    op_col: str = "op",
) -> None:
    """Merge one micro-batch of changes into snapshot ``v=batch_id``."""
    base_cols = [c for c in batch_df.columns if c not in (op_col, version_col)]
    base = state.read_latest(
        spark,
        snapshot_dir,
        "v",
        batch_df.select(*base_cols).schema,
        before=batch_id,
    ).select(*base_cols)
    merged = merge_snapshot(
        base, batch_df, keys, version_col=version_col, op_col=op_col
    )
    state.commit(merged, snapshot_dir, "v", batch_id)


def start_merge_stream(
    spark: SparkSession,
    changes_stream: DataFrame,
    snapshot_dir: str,
    checkpoint_dir: str,
    keys: list[str],
    version_col: str = "version",
    op_col: str = "op",
    retain: int | None = None,
) -> StreamingQuery:
    """CDC stream → maintained snapshot. ``retain`` prunes old versions
    after each batch (None keeps all — full time travel)."""
    if retain is not None and retain < 2:
        # a foreachBatch retry of batch N re-merges onto the newest version
        # < N; pruning that parent away would silently restart from empty
        raise ValueError("retain must be >= 2 (retry needs the parent snapshot)")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_changes_batch(
            spark, batch_df, snapshot_dir, batch_id, keys, version_col, op_col
        )
        if retain is not None:
            prune_snapshots(snapshot_dir, retain)

    return state.start_batches(changes_stream, process_batch, checkpoint_dir)
