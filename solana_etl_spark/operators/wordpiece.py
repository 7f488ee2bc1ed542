"""WordPiece tokenizer (the BERT family) — the THIRD tokenizer family
next to BPE (operators/vocab.py) and unigram-LM (operators/unigram.py).

Training (Schuster & Nakajima 2012; the public BERT/HF recipe): BPE-style
merge loop where each round merges the adjacent symbol pair maximizing
``count(a,b) / (count(a) * count(b))`` — the pair whose merge most
increases corpus likelihood under a unigram LM — instead of raw pair
frequency. Continuation symbols carry the ``##`` prefix; merging
``(a, ##b)`` produces ``a + b`` (``##`` stays only on the left piece's
prefix). Like BPE, training has two engines behind one distributed
(word, freq) scan: the driver loop (operators/vocab_driver.py) when the
table fits under ``DRIVER_WORD_TABLE_CAP``, else a distributed loop that
reuses vocab.py's fold-based greedy pair merge — one merge per round,
each round one pair-count shuffle + one bounded symbol-count aggregate,
with only the argmax row collected (driver state = the vocabulary, like
BPE merges / k-means centroids).

Encoding (greedy longest-match-first, HF ``WordPieceTokenizer``
semantics): per word, repeatedly take the LONGEST vocabulary piece
matching at the cursor (continuation positions match only ``##`` pieces);
if no piece matches at some cursor the ENTIRE word becomes ``unk_token``.
Greedy is deliberately NOT the unigram min-cost DP — it is the published
WordPiece inference rule and differs on real inputs.

Both halves run on the shared tokenizer core (operators/vocab.py):
training is :func:`~solana_etl_spark.operators.vocab.train_on_words`
over the (word, freq) table with this module's driver loop and its
score/filter for ``merge_rounds``; encoding segments each DISTINCT word
once (Zipf-bounded) through ``encode_distinct_words``, with a
``piece_map`` membership map (one bounded-candidate shuffle) and a
per-row cursor fold — zero Python anywhere."""

from __future__ import annotations

from functools import partial

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_spark.operators.vocab import (
    encode_distinct_words,
    merge_rounds,
    piece_at,
    piece_map,
    train_on_words,
    word_freq_table,
)
from solana_etl_spark.operators.vocab_driver import (
    CONT,
    MAX_PIECE_LEN,
    strip_cont,
    wordpiece_vocab_from_word_freqs,
)

UNK = "[UNK]"


def _initial_wp_symbols(word: Column) -> Column:
    """['h', '##e', '##y'] — first char bare, the rest ##-prefixed."""
    chars = F.split(word, "")
    return F.transform(
        chars,
        lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit(CONT), c)),
    )


def _likelihood(pairs: DataFrame, words: DataFrame) -> DataFrame:
    """WordPiece's pair score count(ab) / (count(a)·count(b)), the exact
    integer counts compared as doubles; the symbol counts are one bounded
    aggregate broadcast into both sides."""
    syms = (
        words.select(F.explode("symbols").alias("s"), "freq")
        .groupBy("s")
        .agg(F.sum("freq").alias("scnt"))
    )

    def counts(side: str) -> DataFrame:
        side_counts = syms.withColumnsRenamed({"s": side, "scnt": "c" + side})
        return F.broadcast(side_counts)

    ca_cb = (F.col("ca") * F.col("cb")).cast("double")
    scored = pairs.join(counts("a"), "a").join(counts("b"), "b")
    return scored.withColumn("score", F.col("cnt").cast("double") / ca_cb)


def _wp_merged(a: str, b: str) -> str:
    return a + strip_cont(b)


def train_wordpiece_vocab(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 16,
    max_piece_len: int = MAX_PIECE_LEN,
    strategy: str = "auto",
    driver_word_cap: int | None = None,
) -> list[str]:
    """Learn a WordPiece vocabulary: the corpus alphabet (bare +
    ##-prefixed forms, count-bearing only) plus one merged piece per
    round, in merge order. Score ties break (pair lexical) like BPE.
    The likelihood score is the exact integer ratio compared in doubles
    — deterministic on any partitioning (each ratio is a pure function
    of exact counts; no accumulation order).

    Merge candidates whose merged CONTENT (##-stripped) would exceed
    ``max_piece_len`` are skipped: the greedy encoder
    (:func:`wordpiece_segment`) only matches pieces up to that many word
    chars, so a longer merged piece would be silently unreachable —
    trained but never matched, shifting encode segmentations toward
    shorter pieces. Training and encoding therefore share one bound by
    construction. (No fixture merge ever reached the bound, so learned
    vocabularies at the defaults are unchanged.)

    ``strategy`` picks the engine through ``vocab.train_on_words``:
    ``"auto"`` (default) runs the merge loop DRIVER-SIDE
    (operators/vocab_driver.py:wordpiece_vocab_from_word_freqs) when the
    collected (word, freq) table fits under ``driver_word_cap`` — the
    table is Zipf-bounded at any corpus size, so this is the production
    path for large vocabularies — and falls back to the distributed
    rounds past the cap; ``"distributed"`` forces ``vocab.merge_rounds``
    with the likelihood score and the piece-length filter. The learned
    vocabulary is bit-identical in both modes."""

    def distributed(words_tbl: DataFrame) -> list[str]:
        words = words_tbl.withColumn(
            "symbols", _initial_wp_symbols(F.col("word"))
        ).persist()
        try:
            # Python's code-point sort == Spark's binary UTF-8 order
            syms = words.select(F.explode("symbols").alias("s")).distinct()
            alphabet = sorted(r["s"] for r in syms.collect())
            len_a, len_b = (
                F.length(F.regexp_replace(c, f"^{CONT}", "")) for c in "ab"
            )
            fits = len_a + len_b <= max_piece_len  # encoder-matchable only
            merges = merge_rounds(
                words, n_merges, _likelihood, fits, _wp_merged
            )
            return alphabet + [_wp_merged(a, b) for a, b in merges]
        finally:
            words.unpersist()

    driver = partial(
        wordpiece_vocab_from_word_freqs,
        n_merges=n_merges,
        max_piece_len=max_piece_len,
    )
    return train_on_words(
        word_freq_table(docs, text_col),
        driver,
        distributed,
        strategy,
        driver_word_cap,
    )


def wordpiece_segment(
    words: DataFrame,
    vocab_df: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    unk_token: str = UNK,
) -> DataFrame:
    """words(word, …) -> (word, …, pieces): greedy longest-match-first.
    The membership map is ``vocab.piece_map`` over the vocabulary pieces
    (the ## continuation form at start0 > 0); the greedy cursor walk is
    a per-row fold (each iteration advances one token or no-ops —
    ``length(word)`` iterations always suffice)."""
    hits = piece_map(
        words,
        max_piece_len,
        lambda cand: cand.join(
            F.broadcast(vocab_df), "piece", "left_semi"
        ).withColumn("v", F.lit(1)),
        CONT,
    )
    staged = words.join(hits, "word", "left")
    word = F.col("word")
    hit_map = F.col("_map")

    def step(acc: Column, _: Column) -> Column:
        pos = acc["pos"]  # 0-based cursor
        best = F.array_max(
            F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.least(F.lit(max_piece_len), F.length(word) - pos),
                    ),
                    lambda j: F.when(
                        piece_at(hit_map, pos, j).isNotNull(), j
                    ),
                ),
                lambda x: x.isNotNull(),
            )
        )
        tok = F.concat(
            F.when(pos > 0, F.lit(CONT)).otherwise(F.lit("")),
            word.substr(pos + 1, best),
        )
        return (
            F.when(acc["failed"] | (pos >= F.length(word)), acc)
            .when(
                best.isNull(),
                F.struct(
                    F.length(word).cast("int").alias("pos"),
                    acc["toks"].alias("toks"),
                    F.lit(True).alias("failed"),
                ),
            )
            .otherwise(
                F.struct(
                    (pos + best).cast("int").alias("pos"),
                    F.concat(acc["toks"], F.array(tok)).alias("toks"),
                    F.lit(False).alias("failed"),
                )
            )
        )

    walk = F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        F.struct(
            F.lit(0).cast("int").alias("pos"),
            F.array().cast("array<string>").alias("toks"),
            F.lit(False).alias("failed"),
        ),
        step,
        lambda acc: F.when(
            acc["failed"], F.array(F.lit(unk_token))
        ).otherwise(acc["toks"]),
    )
    return staged.withColumn("pieces", walk).select(*words.columns, "pieces")


def _vocab_df(spark: SparkSession, vocab: list[str]) -> DataFrame:
    return spark.createDataFrame(
        [(p,) for p in vocab], schema="piece string"
    )


def apply_wordpiece(
    docs: DataFrame,
    vocab: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "wp_tokens",
    max_piece_len: int = MAX_PIECE_LEN,
    unk_token: str = UNK,
) -> DataFrame:
    """Tokenize a corpus with a shipped WordPiece vocabulary:
    ``vocab.encode_distinct_words`` with :func:`wordpiece_segment` as the
    segmenter — greedy segmentation once per DISTINCT word, join-back in
    word order (lowercase, split \\s+; NULL text -> NULL tokens, empty ->
    empty array)."""
    vocab_df = _vocab_df(docs.sparkSession, vocab)
    return encode_distinct_words(
        docs,
        lambda words: wordpiece_segment(
            words, vocab_df, max_piece_len, unk_token
        ),
        text_col,
        id_col,
        out_col,
    )
