"""Streaming deterministic sampling: a hash-rank "reservoir" whose state
is the sample itself.

Classic reservoir sampling is ORDER-dependent — replays, retries, and file
reordering all shift which rows survive, so an at-least-once stream cannot
reproduce it. Ranking every row by the cross-engine content hash and
keeping the n SMALLEST ranks instead makes the sample a pure function of
the SET of rows seen so far: min-n is idempotent and commutative under
union, so

* a micro-batch replayed after a crash converges to the same sample,
* the file/batch arrival order never matters, and
* the streaming result equals the batch ``ORDER BY rank LIMIT n`` —
  batch-SQL-expressible, hence value-hash oracle-checkable.

State is versioned per micro-batch (``batch=k`` = the sample AFTER batch
k, a pure function of the batch prefix) through streaming/state.py: a
retry re-reads the newest committed version below its own id,
recomputes the same output and overwrites only its own directory, and
the two newest committed versions are kept. At 100 TB the state is
n rows regardless of corpus size and the per-batch cost is one
TakeOrderedAndProject over (batch ∪ n state rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.functions.hashing import hash64
from solana_etl_spark.streaming import state

SAMPLE_N = 100


def _state_schema(key_type: str) -> str:
    return f"doc_id {key_type}, sample_rank long"


def sample_rank(key: Column) -> Column:
    """The rank every engine agrees on: hash64 of the salted key string."""
    return hash64(F.concat(F.lit("sample|"), key.cast("string")))


def read_sample(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
    key_type: str = "long",
) -> DataFrame:
    """The current sample: the newest committed ``batch=k`` state (or the
    newest with k < before_batch, which a retrying batch uses so it never
    reads its own first attempt). ``key_type`` shapes the empty
    no-state-yet frame so non-long keys (string ids) union cleanly with
    their first batch."""
    return state.read_latest(
        spark, state_dir, "batch", _state_schema(key_type), before_batch
    ).select("doc_id", "sample_rank")


def update_sample_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    key_col: str = "doc_id",
    n: int = SAMPLE_N,
) -> None:
    """Fold one micro-batch into the sample: rank the batch's keys, union
    the predecessor state, keep the n smallest (key tie-break is moot —
    the rank is a function of the key — but distinct() collapses re-seen
    keys so replayed rows can't occupy two slots)."""
    ranked = batch_df.select(
        F.col(key_col).alias("doc_id"),
        sample_rank(F.col(key_col)).alias("sample_rank"),
    )
    key_type = batch_df.schema[key_col].dataType.simpleString()
    prev = read_sample(
        spark, state_dir, before_batch=batch_id, key_type=key_type
    )
    new_state = (
        ranked.unionByName(prev)
        .distinct()
        .orderBy("sample_rank", "doc_id")
        .limit(n)
    )
    state.commit(new_state, state_dir, "batch", batch_id)
    # the predecessor stays for a retry of batch_id; anything older is
    # dead weight that would grow the listing by one dir per batch
    state.prune(spark, state_dir, "batch", retain=2)


def start_streaming_sample(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "doc_id",
    n: int = SAMPLE_N,
) -> StreamingQuery:
    """documents stream → maintained n-row deterministic sample."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_sample_batch(
            spark, batch_df, state_dir, batch_id, key_col=key_col, n=n
        )

    return state.start_batches(docs_stream, process_batch, checkpoint_dir)
