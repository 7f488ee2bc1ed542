"""WordPiece (operators/wordpiece.py): greedy longest-match-first
encoding vs a pure-Python reference, training parity with a reference
implementation of the likelihood-score merge loop, and the HF edge
semantics (whole-word [UNK], continuation prefixes)."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from solana_etl_spark.operators.wordpiece import (
    CONT,
    UNK,
    apply_wordpiece,
    train_wordpiece_vocab,
    wordpiece_segment,
    _vocab_df,
)


def _ref_segment(word, vocab, max_piece_len=12, unk=UNK):
    """The published greedy longest-match-first rule (HF WordPiece)."""
    out, pos = [], 0
    while pos < len(word):
        for j in range(min(max_piece_len, len(word) - pos), 0, -1):
            piece = word[pos : pos + j]
            lookup = piece if pos == 0 else CONT + piece
            if lookup in vocab:
                out.append(lookup)
                pos += j
                break
        else:
            return [unk]
    return out


def _ref_train(word_freqs, n_merges):
    """Pure-Python reference of the WordPiece trainer: merge the pair
    maximizing count(ab)/(count(a)count(b)), ties (a, b) lexical."""
    words = {
        tuple([w[0]] + [CONT + c for c in w[1:]]): f
        for w, f in word_freqs.items()
    }
    alphabet = sorted({s for syms in words for s in syms})
    merges = []
    for _ in range(n_merges):
        pair_counts, sym_counts = Counter(), Counter()
        for syms, f in words.items():
            for s in syms:
                sym_counts[s] += f
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] += f
        if not pair_counts:
            break
        # min over (-score, a, b): highest score, ties to the lexically
        # SMALLEST pair — tuple string comparison matches the operator's
        # orderBy(desc(score), asc(a), asc(b)) exactly (an inverted-ord
        # key got prefix-related ties wrong: [-97] < [-97, -98])
        best = min(
            pair_counts,
            key=lambda p: (
                -(pair_counts[p] / (sym_counts[p[0]] * sym_counts[p[1]])),
                p,
            ),
        )
        a, b = best
        merged = a + (b[len(CONT):] if b.startswith(CONT) else b)
        merges.append(merged)
        new_words = {}
        for syms, f in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_words[tuple(out)] = new_words.get(tuple(out), 0) + f
        words = new_words
    return alphabet + merges


def test_training_matches_reference(spark):
    rows = [(1, "hugging huggable hug bug rugged"), (2, "hug hug hugging jazz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = train_wordpiece_vocab(docs, n_merges=8)
    freqs = Counter(w for _, t in rows for w in t.split())
    want = _ref_train(dict(freqs), n_merges=8)
    assert got == want
    # distributed round loop learns the identical vocabulary
    assert train_wordpiece_vocab(docs, n_merges=8, strategy="distributed") == want
    with pytest.raises(ValueError, match="unknown strategy"):
        train_wordpiece_vocab(docs, n_merges=8, strategy="driver")


def test_greedy_segment_matches_reference(spark):
    vocab = [
        "h", "b", "r", "j", "##u", "##g", "##a", "##b", "##l", "##e",
        "##d", "##i", "##n", "##z", "##gg", "##able", "##ing", "jazz",
        "hug",
    ]
    words = ["hugging", "huggable", "hug", "bug", "rugged", "jazz", "qqq",
             "hugq", "h"]
    seg = wordpiece_segment(
        spark.createDataFrame([(w,) for w in words], "word string"),
        _vocab_df(spark, vocab),
    )
    got = {r["word"]: r["pieces"] for r in seg.collect()}
    vs = set(vocab)
    for w in words:
        assert got[w] == _ref_segment(w, vs), w
    # spot-check the published semantics directly
    assert got["hugging"] == ["hug", "##g", "##ing"]   # longest-first
    assert got["huggable"] == ["hug", "##g", "##able"]
    assert got["qqq"] == [UNK]                         # no match at pos 0
    assert got["hugq"] == [UNK]                        # mid-word failure
    assert got["jazz"] == ["jazz"]                     # whole-word piece


def test_apply_wordpiece_doc_reassembly_and_nulls(spark):
    vocab = ["h", "##i", "y", "##o"]
    docs = spark.createDataFrame(
        [(1, "hi yo hi"), (2, None), (3, "   "), (4, "hi zz")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["wp_tokens"]
        for r in apply_wordpiece(docs, vocab).collect()
    }
    assert got[1] == ["h", "##i", "y", "##o", "h", "##i"]  # word order kept
    assert got[2] is None                                  # NULL text
    assert got[3] == []                                    # whitespace-only
    assert got[4] == ["h", "##i", UNK]


def test_segment_is_greedy_not_min_pieces(spark):
    """Greedy longest-match-first can fail where a shorter first piece
    would succeed — the published behavior (whole word -> [UNK]), and
    the observable difference from the unigram DP."""
    vocab = ["ab", "a", "##bc"]
    seg = wordpiece_segment(
        spark.createDataFrame([("abc",)], "word string"),
        _vocab_df(spark, vocab),
    )
    # greedy takes 'ab' then finds no piece for '##c' -> UNK, even though
    # 'a' + '##bc' segments the word
    assert seg.first()["pieces"] == [UNK]
    assert _ref_segment("abc", set(vocab)) == [UNK]


def test_training_skips_encoder_unreachable_merges(spark):
    """Merged pieces longer (in ##-stripped content chars) than
    max_piece_len would be unreachable by the greedy encoder — training
    must skip those candidates so the shipped vocabulary and the encode
    bound agree. With a tight bound the trainer still merges, but never
    past the bound; at the default bound fixture training is unchanged."""
    rows = [(1, "hugging huggable hug bug rugged"), (2, "hug hug hugging jazz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bounded = train_wordpiece_vocab(docs, n_merges=8, max_piece_len=3)
    merged_pieces = [p for p in bounded if len(p) > 1 and not p.startswith(CONT)] + [
        p[len(CONT):] for p in bounded if p.startswith(CONT) and len(p) > len(CONT) + 1
    ]
    assert merged_pieces, "tight bound must still allow short merges"
    assert all(len(p) <= 3 for p in merged_pieces)
    # the default bound admits every fixture merge: unchanged vocabulary
    assert train_wordpiece_vocab(docs, n_merges=8) == _ref_train(
        dict(Counter(w for _, t in rows for w in t.split())), n_merges=8
    )
