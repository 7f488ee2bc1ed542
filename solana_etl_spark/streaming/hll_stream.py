"""Streaming HyperLogLog distinct counting: the register table IS the
state — groups × 2^p rows regardless of how much data has streamed.

HLL registers merge by ``max`` per bucket, which is idempotent and
commutative under union — so, exactly like the hash-rank sample
(streaming/sample_stream.py), the maintained sketch is a pure function
of the SET of rows seen: micro-batch replays after a crash converge to
the same registers, arrival order never matters, and the streaming
result equals the batch sketch over the same files — hence value-hash
oracle-checkable (the tenth stream-equals-batch family).

State is versioned through streaming/state.py: ``batch=k`` holds the
registers AFTER batch k; a retry re-reads the newest committed version
below its own id, recomputes, and overwrites only its own directory;
the two newest committed versions are kept after each write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.sketch import HLL_P, hll_registers
from solana_etl_spark.streaming import state


def _state_schema(
    group_cols: tuple[str, ...], group_types: tuple[str, ...] | None
) -> str:
    # group-column types come from the live batch schema (the
    # sample-stream key-type lesson) — an int tenant id must round-trip
    # through the empty no-state-yet frame as int, or the first batch's
    # unionByName miscoerces
    if group_types is None:
        group_types = tuple("string" for _ in group_cols)
    gs = "".join(f"{g} {t}, " for g, t in zip(group_cols, group_types))
    return f"{gs}bucket long, reg int"


def read_hll_state(
    spark: SparkSession,
    state_dir: str,
    group_cols: tuple[str, ...] = (),
    before_batch: int | None = None,
    group_types: tuple[str, ...] | None = None,
) -> DataFrame:
    """The current register table: newest committed ``batch=k`` (or the
    newest below ``before_batch`` for a retrying batch)."""
    return state.read_latest(
        spark,
        state_dir,
        "batch",
        _state_schema(group_cols, group_types),
        before_batch,
    ).select(*group_cols, "bucket", "reg")


def update_hll_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P,
) -> None:
    """Fold one micro-batch into the registers: sketch the batch, union
    the predecessor state, keep max(reg) per (group, bucket)."""
    batch_regs = hll_registers(batch_df, key_col, group_cols, p).select(
        *group_cols, "bucket", F.col("reg").cast("int").alias("reg")
    )
    group_types = tuple(
        batch_df.schema[g].dataType.simpleString() for g in group_cols
    )
    prev = read_hll_state(
        spark,
        state_dir,
        group_cols,
        before_batch=batch_id,
        group_types=group_types,
    )
    new_state = (
        batch_regs.unionByName(prev)
        .groupBy(*group_cols, "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    state.commit(new_state, state_dir, "batch", batch_id)
    state.prune(spark, state_dir, "batch", retain=2)


def start_streaming_hll(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P,
) -> StreamingQuery:
    """stream → maintained HLL register state (estimate via
    :func:`hll_estimate_from_state`)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_hll_batch(
            spark,
            batch_df,
            state_dir,
            batch_id,
            key_col,
            group_cols=group_cols,
            p=p,
        )

    return state.start_batches(docs_stream, process_batch, checkpoint_dir)


def hll_estimate_from_state(
    regs: DataFrame, group_cols: tuple[str, ...] = (), p: int = HLL_P
) -> DataFrame:
    """(group cols, m_used, hll_estimate) from a register table — the
    shared exact-integer estimator (operators/sketch.hll_estimate), so a
    streamed state scores identically to the batch sketch."""
    from solana_etl_spark.operators.sketch import hll_estimate

    return hll_estimate(regs, group_cols, p)
