"""Streaming tokenizer-vocabulary maintenance: the (word, freq) table IS
the state — Zipf-bounded (10^6-10^8 rows at any corpus size, the
operators/lm.py argument), so a stream can keep it current per
micro-batch and re-train a BPE/WordPiece vocabulary on demand with the
driver-side hybrid trainer (operators/vocab_driver.py) in seconds,
without ever re-scanning the corpus.

State recipe: versioned snapshots through streaming/state.py —
``batch=k`` holds the word counts AFTER batch k; a foreachBatch retry
re-reads the newest committed version below its own id and overwrites
only its own directory, so at-least-once replays converge (word-count
summation is not an idempotent merge, but the version chain makes each
batch's fold exactly-once); the two newest committed versions are kept
after each write.

Because counts are additive, the maintained table over a stream equals
``word_freq_table`` over the same rows as one batch — bit-exactly. So a
vocabulary trained from the stream state equals the batch-trained one,
and the whole family sits under the cross-engine TRAINING oracle
(queries.text_bpe_vocab_train's unrolled merge loop): the eleventh
stream-equals-batch gate family, and the streaming completion of the r8
hybrid trainer — ingest maintains the bounded state, training is a
seconds-scale driver pass over it.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.operators.vocab import train_on_words, word_freq_table
from solana_etl_spark.operators.vocab_driver import (
    DRIVER_WORD_TABLE_CAP,
    MAX_PIECE_LEN,
    bpe_merges_from_word_freqs,
    wordpiece_vocab_from_word_freqs,
)
from solana_etl_spark.streaming import state

_STATE_SCHEMA = "word string, freq long"


def read_word_state(
    spark: SparkSession,
    state_dir: str,
    before_batch: int | None = None,
) -> DataFrame:
    """The current (word, freq) table: newest committed ``batch=k`` (or
    the newest below ``before_batch`` for a retrying batch)."""
    return state.read_latest(
        spark, state_dir, "batch", _STATE_SCHEMA, before_batch
    ).select("word", "freq")


def update_word_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    text_col: str = "text",
) -> None:
    """Fold one micro-batch into the word table: count the batch's
    words, union the predecessor state, sum per word."""
    batch_counts = word_freq_table(batch_df, text_col).select(
        "word", F.col("freq").cast("long").alias("freq")
    )
    prev = read_word_state(spark, state_dir, before_batch=batch_id)
    new_state = (
        batch_counts.unionByName(prev)
        .groupBy("word")
        .agg(F.sum("freq").cast("long").alias("freq"))
    )
    state.commit(new_state, state_dir, "batch", batch_id)
    state.prune(spark, state_dir, "batch", retain=2)


def start_streaming_word_counts(
    spark: SparkSession,
    docs_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
) -> StreamingQuery:
    """stream → maintained (word, freq) state (train from it with
    :func:`train_bpe_from_state` / :func:`train_wordpiece_from_state`)."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        update_word_batch(spark, batch_df, state_dir, batch_id, text_col)

    return state.start_batches(docs_stream, process_batch, checkpoint_dir)


def _train_from_state(spark: SparkSession, state_dir: str, word_cap, driver):
    """``vocab.train_on_words`` over the state; an over-cap table raises
    instead of running the distributed rounds."""
    cap = DRIVER_WORD_TABLE_CAP if word_cap is None else word_cap

    def over_cap(_words: DataFrame):
        raise ValueError(
            f"streamed word table exceeds word_cap={cap}; raise the "
            "cap or train with the distributed loop over read_word_state"
        )

    words = read_word_state(spark, state_dir)
    return train_on_words(words, driver, over_cap, cap=cap)


def train_bpe_from_state(
    spark: SparkSession,
    state_dir: str,
    n_merges: int,
    append_eow: bool = True,
    word_cap: int | None = None,
) -> list[tuple[str, str]]:
    """BPE merges from the maintained word state — bit-equal to batch
    training over the same streamed rows (counts are additive)."""
    train = partial(
        bpe_merges_from_word_freqs, n_merges=n_merges, append_eow=append_eow
    )
    return _train_from_state(spark, state_dir, word_cap, train)


def train_wordpiece_from_state(
    spark: SparkSession,
    state_dir: str,
    n_merges: int,
    max_piece_len: int = MAX_PIECE_LEN,
    word_cap: int | None = None,
) -> list[str]:
    """WordPiece vocabulary from the maintained word state."""
    train = partial(
        wordpiece_vocab_from_word_freqs,
        n_merges=n_merges,
        max_piece_len=max_piece_len,
    )
    return _train_from_state(spark, state_dir, word_cap, train)
