"""Streaming materialized JOIN view: one event stream continuously
maintains signups ⋈ purchases (per-user attribution history) with the
append-only delta rule — the streaming face of
``operators/incremental.maintain_join_append``.

Per micro-batch N:

* the batch splits into side deltas (ΔA = signups, ΔB = purchases), each
  written to an idempotent per-batch directory (``a/batch=N``,
  ``b/batch=N`` — a foreachBatch retry overwrites the same paths);
* the view advances by the delta rule only::

      v=N  =  parent ∪ ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB

  where ``parent`` is the newest committed view version < N and
  A_old/B_old are the committed side batches < N — the dominant
  A_old⋈B_old term is carried forward verbatim, never recomputed;
* ``v=N`` is a pure function of committed state strictly below N, so
  at-least-once redelivery converges (same inputs → same overwrite) —
  the same exactly-once recipe as the CDC merge stream, with the
  committed version/batch directories of streaming/state.py standing in
  for a transaction log.

Scale: per batch, only delta-sized joins run (each delta side broadcasts
against the accumulated other side); the view grows append-only, so the
"write v=N" full rewrite should become a partition append
(``partitionBy(batch)``) once the view outgrows directory rewrites — the
delta terms ARE the new partition.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.incremental import maintain_join_append
from solana_etl_spark.streaming import state


def _side_union(
    spark: SparkSession, side_dir: str, below: int, schema
) -> DataFrame:
    older = [b for b in state.versions(spark, side_dir, "batch") if b < below]
    return state.read(spark, side_dir, "batch", older, schema)


def _split_sides(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    da = batch_df.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("signup_ts")
    )
    db = batch_df.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts"), "value"
    )
    return da, db


def apply_view_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
) -> None:
    """Advance the attribution view to ``v=batch_id`` from one micro-batch
    of raw events. Pure function of committed state < batch_id →
    redelivery-convergent."""
    da, db = _split_sides(batch_df)
    a_dir = os.path.join(state_dir, "a")
    b_dir = os.path.join(state_dir, "b")
    state.commit(da, a_dir, "batch", batch_id)
    state.commit(db, b_dir, "batch", batch_id)
    a_old = _side_union(spark, a_dir, batch_id, da.schema)
    b_old = _side_union(spark, b_dir, batch_id, db.schema)

    view_dir = os.path.join(state_dir, "view")
    cols = ["user_id", "signup_ts", "purchase_ts", "value"]
    parent = state.read_latest(
        spark,
        view_dir,
        "v",
        a_old.join(db, "user_id").select(*cols).schema,
        before=batch_id,
    )
    # one shared implementation of the delta rule (batch + streaming)
    new_view = maintain_join_append(
        parent, a_old, b_old, da, db, ["user_id"]
    ).select(*cols)
    state.commit(new_view, view_dir, "v", batch_id)


def prune_view_versions(state_dir: str, retain: int = 3) -> None:
    """Drop all but the newest ``retain`` committed view versions. Without
    pruning, every micro-batch rewrites the FULL view into a fresh ``v=N``
    directory and storage grows quadratically in batch count (the same
    guard :func:`merge_stream.prune_snapshots` applies to CDC snapshots)."""
    state.prune(
        SparkSession.active(), os.path.join(state_dir, "view"), "v", retain
    )


def current_view(spark: SparkSession, state_dir: str) -> DataFrame:
    return state.read_latest(spark, os.path.join(state_dir, "view"), "v")


def start_view_stream(
    spark: SparkSession,
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    retain: int | None = 3,
) -> StreamingQuery:
    """Maintain the attribution view from an event stream. ``retain`` prunes
    old view versions after each batch (None keeps all — full time travel,
    at quadratic storage in batch count)."""
    if retain is not None and retain < 2:
        # a foreachBatch retry of batch N re-joins onto the newest version
        # < N; pruning that parent away would silently restart from empty
        raise ValueError("retain must be >= 2 (retry needs the parent view)")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_view_batch(spark, batch_df, state_dir, batch_id)
        if retain is not None:
            prune_view_versions(state_dir, retain)

    return state.start_batches(events_stream, process_batch, checkpoint_dir)
