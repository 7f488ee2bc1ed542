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

Scale shape: encoding segments each DISTINCT word once (Zipf-bounded),
as a membership-map build (one bounded-candidate shuffle) + a per-row
fold — zero Python anywhere — then joins segmentations back to the
corpus word stream (the encode_unigram pattern)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from solana_etl_spark.operators.vocab import merge_pair_sql, word_freq_table

MAX_PIECE_LEN = 12  # longest vocabulary piece the encoder will match
KEY_BASE = 64  # (start0, len) -> start0 * KEY_BASE + len, len < KEY_BASE
UNK = "[UNK]"
CONT = "##"


def _initial_wp_symbols(word: Column) -> Column:
    """['h', '##e', '##y'] — first char bare, the rest ##-prefixed."""
    chars = F.split(word, "")
    return F.transform(
        chars,
        lambda c, i: F.when(i == 0, c).otherwise(F.concat(F.lit(CONT), c)),
    )


def _strip_cont(sym: str) -> str:
    return sym[len(CONT) :] if sym.startswith(CONT) else sym


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

    ``strategy="auto"`` (default) runs the merge loop DRIVER-SIDE over
    the collected (word, freq) table when it fits under
    ``driver_word_cap`` — the table is Zipf-bounded at any corpus size,
    so this is the production path for large vocabularies (the
    SentencePiece/HF trainer shape; see
    operators/vocab_driver.py:wordpiece_vocab_from_word_freqs) — and
    falls back to the distributed rounds past the cap.
    ``strategy="distributed"`` forces the round loop: one merge per
    round, from one collected argmax row. The learned vocabulary is
    bit-identical in both modes."""
    from solana_etl_spark.operators.vocab_driver import (
        DRIVER_WORD_TABLE_CAP,
        wordpiece_vocab_from_word_freqs,
    )

    if driver_word_cap is None:
        driver_word_cap = DRIVER_WORD_TABLE_CAP
    if strategy not in ("auto", "distributed"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "auto":
        rows = (
            word_freq_table(docs, text_col)
            .limit(driver_word_cap + 1)
            .collect()
        )
        if len(rows) <= driver_word_cap:
            return wordpiece_vocab_from_word_freqs(
                ((r["word"], r["freq"]) for r in rows),
                n_merges,
                max_piece_len,
            )
    base = word_freq_table(docs, text_col).withColumn(
        "symbols", _initial_wp_symbols(F.col("word"))
    )
    base = base.persist()
    words = base
    try:
        alphabet = [
            r["s"]
            for r in words.select(
                F.explode("symbols").alias("s")
            )
            .distinct()
            .orderBy("s")
            .collect()
        ]
        merges: list[str] = []
        while len(merges) < n_merges:
            n = F.size("symbols")
            content_len = F.length(
                F.regexp_replace(F.col("p.a"), f"^{CONT}", "")
            ) + F.length(F.regexp_replace(F.col("p.b"), f"^{CONT}", ""))
            pairs = (
                words.filter(n >= 2)
                .select(
                    F.explode(
                        F.arrays_zip(
                            F.slice("symbols", 1, n - 1).alias("a"),
                            F.slice("symbols", 2, n - 1).alias("b"),
                        )
                    ).alias("p"),
                    "freq",
                )
                # encoder-matchable pieces only (see docstring)
                .filter(content_len <= max_piece_len)
                .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
                .agg(F.sum("freq").alias("cnt"))
            )
            # persisted for the round: the count table broadcasts into
            # BOTH join sides with different projections, and without the
            # persist each side re-runs the explode+sum over the full
            # word table — doubling the dominant per-round cost
            syms = (
                words.select(F.explode("symbols").alias("s"), "freq")
                .groupBy("s")
                .agg(F.sum("freq").alias("scnt"))
                .persist()
            )
            scored = (
                pairs.join(
                    F.broadcast(syms.select(F.col("s").alias("a"),
                                            F.col("scnt").alias("ca"))),
                    "a",
                )
                .join(
                    F.broadcast(syms.select(F.col("s").alias("b"),
                                            F.col("scnt").alias("cb"))),
                    "b",
                )
                .withColumn(
                    "score",
                    F.col("cnt").cast("double")
                    / (F.col("ca") * F.col("cb")).cast("double"),
                )
                .orderBy(F.desc("score"), F.asc("a"), F.asc("b"))
            )
            top = scored.limit(1).collect()
            syms.unpersist()
            if not top:
                break
            a, b = top[0]["a"], top[0]["b"]
            merged = a + _strip_cont(b)
            merges.append(merged)
            # localCheckpoint (not persist+count): the merge fold is a
            # large interpreted expression tree, and a persist keeps every
            # prior round's plan as its un-executed child — Catalyst then
            # re-canonicalizes the whole O(rounds)-deep tree on every
            # cache lookup, turning round cost superlinear (measured:
            # 24 rounds on the 31-word fixture blew past 15 min; with
            # truncation the loop is seconds per round). Same fix as the
            # pointer-jumping CC loop (dedup.connected_components).
            # The fold is SQL text, one parse per round (r10, guide §7.3).
            words = words.withColumn(
                "symbols", F.expr(merge_pair_sql("symbols", a, b, merged))
            ).localCheckpoint()
        return alphabet + merges
    finally:
        base.unpersist()


def _match_maps(
    words: DataFrame, vocab_df: DataFrame, max_piece_len: int
) -> DataFrame:
    """word -> packed membership map: key (start0 * KEY_BASE + len)
    present iff the vocabulary contains the piece starting there (with
    the ## continuation form at start0 > 0)."""
    if max_piece_len >= KEY_BASE:
        raise ValueError(
            f"max_piece_len must be < {KEY_BASE} (key packing "
            f"(start * {KEY_BASE} + len) is collision-free only below it), "
            f"got {max_piece_len}"
        )
    cand = words.select(
        "word",
        F.explode(
            F.expr(
                f"""
                flatten(transform(
                    sequence(1, length(word)),
                    s -> transform(
                        sequence(1, least({max_piece_len},
                                          length(word) - s + 1)),
                        j -> struct(
                            s AS s, j AS j,
                            CASE WHEN s = 1 THEN substr(word, s, j)
                                 ELSE '{CONT}' || substr(word, s, j)
                            END AS piece)
                    )
                ))
                """
            )
        ).alias("c"),
    ).select("word", "c.s", "c.j", "c.piece")
    hits = cand.join(F.broadcast(vocab_df), "piece", "left_semi")
    return hits.groupBy("word").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    ((F.col("s") - 1) * KEY_BASE + F.col("j")).alias("k"),
                    F.lit(1).alias("v"),
                )
            )
        ).alias("_hits")
    )


def wordpiece_segment(
    words: DataFrame,
    vocab_df: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    unk_token: str = UNK,
) -> DataFrame:
    """words(word, …) -> (word, …, pieces): greedy longest-match-first.
    One bounded-candidate shuffle builds the membership map; the greedy
    cursor walk is a per-row fold (each iteration advances one token or
    no-ops — ``length(word)`` iterations always suffice)."""
    staged = words.join(_match_maps(words, vocab_df, max_piece_len),
                        "word", "left")
    word = F.col("word")
    hits = F.col("_hits")

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
                        F.element_at(
                            hits, (pos * KEY_BASE + j).cast("int")
                        ).isNotNull(),
                        j,
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
    keep = list(words.columns)
    return staged.withColumn("pieces", walk).select(*keep, "pieces")


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
    """Tokenize a corpus with a shipped WordPiece vocabulary: greedy
    segmentation once per DISTINCT word, join-back in word order (the
    encode_unigram pattern — same normalization: lowercase, split \\s+;
    NULL text -> NULL tokens, empty -> empty array)."""
    spark = docs.sparkSession
    stream = docs.select(
        F.col(id_col).alias("_eid"),
        F.posexplode(
            F.filter(
                F.split(F.lower(F.col(text_col)), r"\s+"),
                lambda w: w != "",
            )
        ).alias("_pos", "word"),
    )
    distinct_words = stream.select("word").distinct()
    seg = wordpiece_segment(
        distinct_words, _vocab_df(spark, vocab), max_piece_len, unk_token
    ).select("word", "pieces")
    per_doc = (
        stream.join(seg, "word")
        .groupBy("_eid")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "pieces"))),
                    lambda s: s["pieces"],
                )
            ).alias("_toks")
        )
    )
    return docs.join(
        per_doc, docs[id_col] == per_doc["_eid"], "left"
    ).select(
        *docs.columns,
        F.when(F.col(text_col).isNull(), F.lit(None).cast("array<string>"))
        .otherwise(F.coalesce("_toks", F.array().cast("array<string>")))
        .alias(out_col),
    )
