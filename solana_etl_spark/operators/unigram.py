"""Distributed unigram-LM (SentencePiece-style) tokenizer: the second
tokenizer family next to BPE (operators/vocab.py), trained and applied
where the data is.

Kudo's unigram LM [Kudo 2018, SentencePiece] models a word as the
max-probability segmentation over a piece vocabulary; training is EM over
piece probabilities with vocabulary pruning. This implementation is the
hard-EM (Viterbi-EM) variant, factorized for a 100 TB corpus exactly like
the BPE trainer:

1. ONE corpus scan reduces text to the (word, freq) table — Zipf-bounded
   (10^6-10^8 rows regardless of corpus size), cached for all rounds;
2. the seed vocabulary is the top-K most frequent substrings (≤
   ``max_piece_len`` chars) plus every single character — selected
   in-plan with TakeOrdered (orderBy+limit, never a global window over
   the full candidate table);
3. each EM round: E-step segments every DISTINCT word with Viterbi under
   the current piece costs (a per-row DP fold over the word — zero
   Python, zero per-row shuffle) and aggregates piece counts weighted by
   word freq; M-step turns counts into costs. The model (bounded vocab,
   ≤ a few thousand rows) is the ONLY driver state — the same contract
   as BPE merge decisions and k-means centroids;
4. pruning keeps the top ``vocab_size`` multi-char pieces by final count
   plus all single characters (coverage guarantee), renormalized.

Cross-engine exactness: piece costs are −log10(p) ROUNDED TO 9 DECIMALS
and carried as DECIMAL(12,9); every DP sum is exact decimal addition and
every DP comparison is exact, so Spark and the DuckDB oracle (an unrolled
shortest-path DP over the same edge relation) agree bit-for-bit — float
cost accumulation would make tie-adjacent segmentations engine-dependent.
Ties on path cost break toward the LONGER piece ending at the position
(deterministic: at a given end position each candidate has a distinct
length).

Encoding a corpus with a shipped vocabulary runs Viterbi once per
DISTINCT word (the Zipf-bounded table again), then joins segments back
to the in-order word stream and reassembles per document — two linear
shuffles (word join + per-doc regroup), never a per-row Python UDF.
Out-of-vocabulary characters take a fixed-cost single-char fallback
(the byte-fallback analog), so every word is segmentable.

Shared tokenizer core (operators/vocab.py): the word split and the
(word, freq) table, the (start, length) piece lattice packed into one
map per word (``piece_spans`` / ``piece_map`` / ``piece_at`` — the same
lattice WordPiece's longest-match encoder indexes), and the distinct-word
encoder ``encode_distinct_words``; this module keeps the Viterbi DP, the
EM loop and the costs.

The reference has no text surface; this is charter LLM-pipeline
machinery (SURVEY §2.11 family).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_spark.operators.vocab import (
    KEY_BASE,  # noqa: F401 - the piece-map packing bound, re-exported
    encode_distinct_words,
    piece_at,
    piece_map,
    piece_spans,
    word_freq_table,
)

MAX_PIECE_LEN = 4
SEED_SIZE = 64
VOCAB_SIZE = 48
N_ITERS = 2

COST_T = "decimal(12,9)"
ACC_T = "decimal(28,9)"
# Fallback cost for a single character absent from the vocabulary —
# far above any real piece cost (total counts would need to exceed
# 10^100 to reach it), so the fallback is only taken when nothing in
# the vocabulary covers the character.
UNK_COST = Decimal("99.999999999")


def piece_candidates(
    words: DataFrame, max_piece_len: int = MAX_PIECE_LEN
) -> DataFrame:
    """(s, j, piece, freq) for every substring occurrence of every
    distinct word — the seed-harvest relation. Runs on the word-freq
    table, so its size is (words × len × max_piece_len), Zipf-bounded.
    Refuses ``max_piece_len >= KEY_BASE`` (``vocab.piece_spans``)."""
    return piece_spans(words.select("word", "freq"), max_piece_len)


def _vocab_df(
    spark: SparkSession, vocab: list[tuple[str, Decimal]]
) -> DataFrame:
    return spark.createDataFrame(
        [(p, Decimal(str(c))) for p, c in vocab],
        schema=f"piece string, cost {COST_T}",
    )


def _with_costs(counts: DataFrame) -> DataFrame:
    """M-step: (piece, cnt) -> (piece, cnt, cost) with
    cost = ROUND(-log10(cnt/total), 9), computed IN-PLAN so the engine's
    log10/round pair matches the DuckDB oracle at the 9-decimal boundary
    (the validated cross-engine contract — see text_char_entropy)."""
    total = counts.agg(F.sum("cnt").cast("double").alias("_t"))
    cost = F.round(-F.log10(F.col("cnt").cast("double") / F.col("_t")), 9)
    return counts.crossJoin(F.broadcast(total)).select(
        "piece", "cnt", cost.alias("cost")
    )


def _costs_rows(counts: DataFrame) -> list[tuple[str, Decimal]]:
    """The collected [(piece, cost)] of :func:`_with_costs`."""
    rows = _with_costs(counts).collect()
    return [(r["piece"], Decimal(str(r["cost"]))) for r in rows]


def _top_pieces(counts: DataFrame, n: int) -> DataFrame:
    """The top ``n`` multi-char pieces by (cnt DESC, piece ASC) —
    TakeOrdered, not a global window — plus every single character."""
    multi = (
        counts.filter(F.length("piece") > 1)
        .orderBy(F.desc("cnt"), F.asc("piece"))
        .limit(n)
    )
    return multi.unionByName(counts.filter(F.length("piece") == 1))


def _edge_map(
    words: DataFrame, vocab_df: DataFrame, max_piece_len: int
) -> DataFrame:
    """word -> ``_map`` of (start0, len) -> piece cost: every in-vocab
    piece, plus every single char at UNK_COST when the vocabulary lacks
    it (``vocab.piece_map``)."""

    def edges(cand: DataFrame) -> DataFrame:
        return (
            cand.join(F.broadcast(vocab_df), "piece", "left")
            .filter((F.col("j") == 1) | F.col("cost").isNotNull())
            .withColumn(
                "v", F.coalesce("cost", F.lit(UNK_COST).cast(COST_T))
            )
        )

    return piece_map(words, max_piece_len, edges)


def viterbi_segment(
    words: DataFrame,
    vocab_df: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """words(word, freq, …) -> (word, freq, pieces array<string>): the
    exact min-cost segmentation of each distinct word under the piece
    costs, out-of-vocab single chars at UNK_COST.

    Shape: substring candidates explode from the word table (bounded),
    broadcast-join the vocabulary (bounded driver state) for costs,
    regroup to one edge map per word (one shuffle of the bounded
    candidate relation), then the DP itself is a per-row fold — two
    ``aggregate`` passes (forward costs, backtrace), exact DECIMAL sums,
    no Python, no further shuffle. Never quadratic in anything: the DP
    is O(len × max_piece_len) per distinct word."""
    with_map = words.join(_edge_map(words, vocab_df, max_piece_len), "word")

    word = F.col("word")
    emap = F.col("_map")

    def best_at(acc: Column, p: Column) -> Column:
        # candidates: struct(cost, mj, back) — lexicographic array_min is
        # (cost ASC, -j ASC) = min cost, ties to the LONGER piece
        cands = F.filter(
            F.transform(
                F.sequence(F.lit(1), F.least(F.lit(max_piece_len), p)),
                lambda j: F.struct(
                    (
                        F.when(p == j, F.lit(0).cast(ACC_T)).otherwise(
                            F.element_at(acc, (p - j).cast("int"))["cost"]
                        )
                        + piece_at(emap, p - j, j)
                    )
                    .cast(ACC_T)
                    .alias("cost"),
                    (-j).alias("mj"),
                    j.alias("back"),
                ),
            ),
            lambda c: c["cost"].isNotNull(),
        )
        best = F.array_min(cands)
        return F.struct(best["cost"].alias("cost"), best["back"].alias("back"))

    dp = F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        F.array().cast(f"array<struct<cost:{ACC_T},back:int>>"),
        lambda acc, p: F.concat(acc, F.array(best_at(acc, p))),
    )
    staged = with_map.withColumn("_dp", dp)
    dpc = F.col("_dp")
    back_at = lambda pos: F.element_at(dpc, pos)["back"]  # noqa: E731
    trace = F.aggregate(
        F.sequence(F.lit(1), F.length(word)),
        F.struct(
            F.length(word).cast("int").alias("pos"),
            F.array().cast("array<string>").alias("toks"),
        ),
        lambda acc, _: F.when(
            acc["pos"] > 0,
            F.struct(
                (acc["pos"] - back_at(acc["pos"])).cast("int").alias("pos"),
                F.concat(
                    F.array(
                        word.substr(
                            acc["pos"] - back_at(acc["pos"]) + 1,
                            back_at(acc["pos"]),
                        )
                    ),
                    acc["toks"],
                ).alias("toks"),
            ),
        ).otherwise(acc),
        lambda acc: acc["toks"],
    )
    return staged.withColumn("pieces", trace).select(*words.columns, "pieces")


def word_nll(words: DataFrame, vocab_df: DataFrame,
             max_piece_len: int = MAX_PIECE_LEN) -> DataFrame:
    """(word, freq, nll): the Viterbi path cost per word — Σ freq·nll is
    the corpus objective hard-EM monotonically improves (the property
    test's invariant)."""
    seg = viterbi_segment(words, vocab_df, max_piece_len)
    # path cost = sum of piece costs re-looked-up from the map: cheaper to
    # recompute from the DP, but this keeps word_nll independent of DP
    # internals — it is a test/audit helper on the bounded word table.
    pieces_cost = F.aggregate(
        F.col("pieces"),
        F.struct(F.lit(0).cast(ACC_T).alias("c"), F.lit(0).alias("p")),
        lambda acc, piece: F.struct(
            (
                acc["c"]
                + piece_at(F.col("_map"), acc["p"], F.length(piece))
            )
            .cast(ACC_T)
            .alias("c"),
            (acc["p"] + F.length(piece)).cast("int").alias("p"),
        ),
        lambda acc: acc["c"],
    )
    return (
        seg.join(_edge_map(words, vocab_df, max_piece_len), "word")
        .select("word", "freq", pieces_cost.alias("nll"))
    )


def seed_vocab_counts(
    words: DataFrame,
    seed_size: int = SEED_SIZE,
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(piece, cnt): top ``seed_size`` multi-char substrings by
    (freq-weighted count DESC, piece ASC) — TakeOrdered, not a global
    window — plus every single character with its count."""
    counts = piece_candidates(words, max_piece_len).groupBy("piece").agg(
        F.sum("freq").cast("long").alias("cnt")
    )
    return _top_pieces(counts, seed_size)


def _char_table(words: DataFrame) -> DataFrame:
    return (
        words.select(F.explode(F.split("word", "")).alias("piece"))
        .filter(F.col("piece") != "")
        .distinct()
    )


def em_piece_counts(
    words: DataFrame,
    vocab_df: DataFrame,
    chars: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """One hard-EM E-step: Viterbi-segment every word, count pieces
    weighted by word freq; multi-char pieces keep their raw count
    (zero-count pieces drop out — the pruning pressure), single chars
    are floored at 1 so coverage never dies."""
    seg = viterbi_segment(words, vocab_df, max_piece_len)
    counts = (
        seg.select(F.explode("pieces").alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    multi = counts.filter(F.length("piece") > 1)
    floored = chars.join(counts, "piece", "left").select(
        "piece",
        F.greatest(F.coalesce("cnt", F.lit(0)), F.lit(1))
        .cast("long")
        .alias("cnt"),
    )
    return multi.unionByName(floored)


def train_unigram_vocab(
    docs: DataFrame,
    text_col: str = "text",
    seed_size: int = SEED_SIZE,
    vocab_size: int = VOCAB_SIZE,
    n_iters: int = N_ITERS,
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """Learn a unigram-LM vocabulary over the corpus. Returns the final
    (piece, cnt, cost) table — cnt from the last E-step restricted to the
    kept pieces, cost renormalized over the kept set (DOUBLE, 9-dec).

    Driver state per round: the bounded vocabulary only (like BPE merges
    / k-means centroids); everything row-shaped stays distributed."""
    if n_iters < 0:
        raise ValueError(f"n_iters must be >= 0, got {n_iters}")
    spark = docs.sparkSession
    words = word_freq_table(docs, text_col).persist()
    chars = _char_table(words).persist()
    counts = None  # the persisted last E-step (n_iters >= 1)
    try:
        # n_iters=0 degrades to the pruned SEED vocabulary (no EM): the
        # seed counts table plays the role of the last E-step.
        last = seed_vocab_counts(words, seed_size, max_piece_len)
        vocab = _costs_rows(last)
        for _ in range(n_iters):
            new_counts = em_piece_counts(
                words, _vocab_df(spark, vocab), chars, max_piece_len
            ).persist()
            new_counts.count()
            if counts is not None:
                counts.unpersist()  # rounds only need the LATEST E-step
            counts = new_counts
            last = counts
            vocab = _costs_rows(counts)
        # prune: top vocab_size multi-char by (cnt, piece) + all chars,
        # then renormalize costs over the kept set. The result is bounded
        # (vocab_size + alphabet) driver state — collect it so every
        # cache this function pinned can be released before returning.
        kept = _with_costs(_top_pieces(last, vocab_size))
        final_rows = kept.orderBy("piece").collect()
        return spark.createDataFrame(
            final_rows, schema="piece string, cnt long, cost double"
        ).orderBy("piece")
    finally:
        if counts is not None:
            counts.unpersist()
        chars.unpersist()
        words.unpersist()


def encode_unigram(
    docs: DataFrame,
    vocab: list[tuple[str, Decimal]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "unigram_tokens",
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """Tokenize a corpus with a shipped unigram vocabulary:
    ``vocab.encode_distinct_words`` with :func:`viterbi_segment` as the
    segmenter — Viterbi runs ONCE PER DISTINCT WORD (Zipf-bounded), the
    corpus word stream joins its segmentations back and reassembles per
    document in word order.

    Normalization matches the BPE encoder: lowercase, split on \\s+.
    NULL text -> NULL tokens; empty/whitespace-only -> empty array.
    Shuffles: the bounded candidate regroup inside viterbi_segment, the
    word-keyed segment join, and one per-doc regroup — all linear in the
    corpus; no Python in any hot path."""
    vocab_df = _vocab_df(docs.sparkSession, vocab)
    return encode_distinct_words(
        docs,
        lambda words: viterbi_segment(
            words.withColumn("freq", F.lit(1).cast("long")),
            vocab_df,
            max_piece_len,
        ),
        text_col,
        id_col,
        out_col,
    )
