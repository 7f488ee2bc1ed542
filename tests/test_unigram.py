"""Unigram-LM tokenizer (operators/unigram.py): Viterbi optimality,
round-trip conservation, hard-EM likelihood monotonicity, OOV fallback,
and the encode null/empty contract."""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import functions as F


def _seg(spark, words, vocab, L=4):
    from solana_etl_spark.operators.unigram import _vocab_df, viterbi_segment

    wdf = spark.createDataFrame(
        [(w, 1) for w in words], "word string, freq long"
    )
    out = viterbi_segment(wdf, _vocab_df(spark, vocab), L)
    return {r["word"]: list(r["pieces"]) for r in out.collect()}


def _brute_best(word, costs, unk, L=4):
    """Exponential reference: min-cost segmentation, ties to fewer —
    then longest-last?  Mirror the operator's tie rule by comparing
    (cost, reversed-greedy): enumerate all segmentations, pick min by
    (total cost, then the DP's deterministic choice is longest piece at
    every suffix position, which equals min over reversed length tuple).
    """
    best = None
    # enumerate segmentations via DFS
    stack = [(0, [], Decimal(0))]
    results = []
    while stack:
        pos, toks, cost = stack.pop()
        if pos == len(word):
            results.append((cost, toks))
            continue
        for j in range(1, min(L, len(word) - pos) + 1):
            piece = word[pos : pos + j]
            c = costs.get(piece)
            if c is None:
                if j == 1:
                    c = unk
                else:
                    continue
            stack.append((pos + j, toks + [piece], cost + c))
    mincost = min(c for c, _ in results)
    return mincost, [t for c, t in results if c == mincost]


def test_viterbi_is_min_cost_and_conserves(spark):
    from solana_etl_spark.operators.unigram import UNK_COST

    vocab = [
        ("h", Decimal("2.0")),
        ("e", Decimal("2.0")),
        ("l", Decimal("2.0")),
        ("o", Decimal("2.0")),
        ("he", Decimal("1.5")),
        ("ll", Decimal("1.5")),
        ("hell", Decimal("1.2")),
        ("lo", Decimal("3.9")),
    ]
    costs = dict(vocab)
    words = ["hello", "he", "hhh", "ohe", "lol"]
    segs = _seg(spark, words, vocab)
    for w in words:
        assert "".join(segs[w]) == w  # conservation
        mincost, opts = _brute_best(w, costs, UNK_COST)
        got = sum(
            costs.get(p, UNK_COST if len(p) == 1 else None) for p in segs[w]
        )
        assert got == mincost, (w, segs[w], opts)
    # hello: hell(1.2)+o(2.0)=3.2 beats he+ll+o (5.0) and h+e+l+lo (9.9)
    assert segs["hello"] == ["hell", "o"]


def test_viterbi_tie_prefers_longer_piece(spark):
    # two equal-cost paths for "ab": [ab] (1.0) vs [a, b] (0.5+0.5) —
    # the DP must take the LONGER piece ending the word
    vocab = [
        ("a", Decimal("0.5")),
        ("b", Decimal("0.5")),
        ("ab", Decimal("1.0")),
    ]
    segs = _seg(spark, ["ab"], vocab)
    assert segs["ab"] == ["ab"]


def test_oov_chars_take_unk_fallback(spark):
    # 'x' is not in the vocab: it must segment as a single char anyway,
    # and never absorb into a multi-char piece
    vocab = [("a", Decimal("1.0")), ("b", Decimal("1.0"))]
    segs = _seg(spark, ["axb", "xxx"], vocab)
    assert segs["axb"] == ["a", "x", "b"]
    assert segs["xxx"] == ["x", "x", "x"]


def test_hard_em_objective_monotone(spark):
    """Each Viterbi-EM round must not worsen the corpus objective
    Σ freq · pathcost (hard-EM monotonicity), measured under the costs
    the round PRODUCES."""
    from solana_etl_spark.operators.unigram import (
        _char_table,
        _costs_rows,
        _vocab_df,
        em_piece_counts,
        seed_vocab_counts,
        word_nll,
    )
    from solana_etl_spark.operators.vocab import word_freq_table

    docs = spark.createDataFrame(
        [
            (0, "banana bandana ban ban banana"),
            (1, "anana nana banana band and band"),
            (2, "na na na banana"),
        ],
        ["doc_id", "text"],
    )
    words = word_freq_table(docs).persist()
    chars = _char_table(words)
    vocab = _costs_rows(seed_vocab_counts(words, seed_size=12))
    nlls = []
    for _ in range(3):
        counts = em_piece_counts(words, _vocab_df(spark, vocab), chars)
        vocab = _costs_rows(counts)
        total = (
            word_nll(words, _vocab_df(spark, vocab))
            .agg(F.sum(F.col("freq") * F.col("nll")).alias("t"))
            .first()["t"]
        )
        nlls.append(total)
    assert nlls[1] <= nlls[0] and nlls[2] <= nlls[1], nlls


def test_encode_contract_and_order(spark):
    from solana_etl_spark.operators.unigram import encode_unigram

    vocab = [
        ("a", Decimal("1.0")),
        ("b", Decimal("1.0")),
        ("ab", Decimal("0.5")),
    ]
    docs = spark.createDataFrame(
        [
            (0, "ab ba abab"),
            (1, None),
            (2, "   "),
            (3, "AB aB"),  # lowercased before segmentation
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r["unigram_tokens"]
        for r in encode_unigram(docs, vocab).collect()
    }
    assert out[0] == ["ab", "b", "a", "ab", "ab"]  # word order preserved
    assert out[1] is None
    assert out[2] == []
    assert out[3] == ["ab", "ab"]


def test_train_vocab_contains_all_chars_and_respects_size(spark):
    from solana_etl_spark.operators.unigram import train_unigram_vocab

    docs = spark.createDataFrame(
        [(0, "banana bandana ban"), (1, "band and sand anna")],
        ["doc_id", "text"],
    )
    rows = train_unigram_vocab(
        docs, seed_size=16, vocab_size=4, n_iters=2
    ).collect()
    pieces = {r["piece"] for r in rows}
    # coverage: every character of the corpus survives pruning
    assert {"a", "b", "d", "n", "s"} <= pieces
    assert sum(1 for p in pieces if len(p) > 1) <= 4
    assert all(r["cost"] > 0 for r in rows)
    # counts positive, costs are 9-decimal doubles
    assert all(r["cnt"] >= 1 for r in rows)


@pytest.mark.parametrize("text", ["hello world", "ab", ""])
def test_roundtrip_property(spark, text):
    """Concatenating the emitted pieces reconstructs the normalized word
    stream for arbitrary corpora (conservation — no token ever lost or
    invented), even with a vocabulary missing most characters."""
    from solana_etl_spark.operators.unigram import encode_unigram

    vocab = [("l", Decimal("1.0")), ("lo", Decimal("0.9"))]
    docs = spark.createDataFrame([(0, text)], ["doc_id", "text"])
    r = encode_unigram(docs, vocab).first()
    norm = [w for w in text.lower().split() if w]
    assert "".join(r["unigram_tokens"]) == "".join(norm)


def test_key_base_guard_rejects_oversized_piece_len(spark):
    """(start, len) edge-map keys pack as start * KEY_BASE + len, so
    max_piece_len >= KEY_BASE would collide keys — the module must refuse
    loudly (vocab.piece_spans' guard, which WordPiece shares) instead of
    surfacing a duplicate-map-key error or silently wrong segmentations."""
    from solana_etl_spark.operators.unigram import (
        KEY_BASE,
        _vocab_df,
        piece_candidates,
        viterbi_segment,
    )

    wdf = spark.createDataFrame([("hello", 1)], "word string, freq long")
    with pytest.raises(ValueError, match="max_piece_len"):
        piece_candidates(wdf, max_piece_len=KEY_BASE)
    with pytest.raises(ValueError, match="max_piece_len"):
        viterbi_segment(
            wdf,
            _vocab_df(spark, [("h", Decimal("1.0"))]),
            max_piece_len=KEY_BASE + 3,
        )
