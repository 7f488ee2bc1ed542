"""Distributed BPE vocabulary induction vs a pure-Python reference
implementation of the classic algorithm (Sennrich-style, same greedy-left
apply and (count desc, pair lexical) tie-break)."""

from __future__ import annotations

import ast
import pathlib
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from solana_etl_spark.operators import vocab
from solana_etl_spark.operators.vocab import (
    EOW,
    apply_bpe,
    merge_pair_expr,
    train_bpe_merges,
    word_freq_table,
)

CORPUS = [
    "the lower the better below the tower",
    "new newer newest lower lowest",
    "the newer tower is lower than the new one",
    "widest wide wider widest below",
]


def _ref_word_freqs(lines):
    c: Counter = Counter()
    for line in lines:
        for w in re.split(r"\s+", line.lower()):
            if w:
                c[w] += 1
    return c


def _ref_merge(symbols, a, b):
    out, i = [], 0
    while i < len(symbols):
        if i + 1 < len(symbols) and symbols[i] == a and symbols[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(symbols[i])
            i += 1
    return out


def _ref_train(lines, n_merges):
    freqs = {
        tuple(list(w) + [EOW]): n for w, n in _ref_word_freqs(lines).items()
    }
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for syms, n in freqs.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += n
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        freqs = {
            tuple(_ref_merge(list(s), *best)): n for s, n in freqs.items()
        }
    return merges


def test_word_freq_table(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    got = {r["word"]: r["freq"] for r in word_freq_table(docs).collect()}
    assert got == dict(_ref_word_freqs(CORPUS))


def test_greedy_merge_expr_matches_reference(spark):
    # overlapping runs: greedy-left on (a, a) over "aaaa b a aa"
    rows = [(["a", "a", "a", "a"],), (["b", "a", "a", "a"],), (["a", "b"],)]
    df = spark.createDataFrame(rows, "symbols array<string>")
    got = [
        r[0]
        for r in df.select(
            merge_pair_expr(F.col("symbols"), "a", "a")
        ).collect()
    ]
    assert got == [_ref_merge(list(r[0]), "a", "a") for r in rows]


def test_bpe_merge_sequence_matches_reference(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    # both engines of the hybrid: the driver fast path (default) and
    # the distributed round loop must learn the identical sequence
    got = train_bpe_merges(docs, n_merges=12)
    assert got == _ref_train(CORPUS, 12)
    dist = train_bpe_merges(docs, n_merges=12, strategy="distributed")
    assert dist == got


def test_distributed_loop_is_one_merge_per_round(spark):
    """bench.py's classic-anchor call shape learns the reference merges;
    batched rounds and the forced driver mode no longer exist."""
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    stats: dict = {}
    got = train_bpe_merges(
        docs, n_merges=12, strategy="distributed", batch_size=1, stats=stats
    )
    assert got == _ref_train(CORPUS, 12)
    assert stats == {"strategy": "distributed", "rounds": 12}
    with pytest.raises(ValueError, match="batch_size"):
        train_bpe_merges(docs, n_merges=12, batch_size=2)
    with pytest.raises(ValueError, match="unknown strategy"):
        train_bpe_merges(docs, n_merges=12, strategy="driver")


def test_apply_bpe_consistent_with_training(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    merges = _ref_train(CORPUS, 8)
    seg = apply_bpe(docs, merges).select("bpe_tokens").collect()
    # reference segmentation per document
    for row, line in zip(seg, CORPUS):
        expect = []
        for w in re.split(r"\s+", line.lower()):
            if not w:
                continue
            syms = list(w) + [EOW]
            for a, b in merges:
                syms = _ref_merge(syms, a, b)
            expect.extend(syms)
        assert row[0] == expect


def test_apply_bpe_replace_matches_fold(spark):
    """The codegen replace-chain encoder is output-identical to the fold
    encoder on real text, empty/whitespace/null docs, overlapping runs,
    and text containing the SEP sentinel byte (which the replace form
    strips by contract)."""
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    rows = [(i, t) for i, t in enumerate(CORPUS)] + [
        (100, None),
        (101, ""),
        (102, "   \t\n "),
        (103, "a"),
        (104, "a a a aa"),
        (105, "the\nlower\ttower  below"),
        # adjacent merge-pair occurrences: the single-SEP replace encoding
        # consumed the shared boundary SEP and left every second occurrence
        # unmerged (reviewed bug) — these pin the double-SEP fix
        (106, "erer ererer erererer"),
        (107, "eee eeee eeeee eeeeee"),
        (108, "rere ere eer"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    merges = _ref_train(CORPUS, 10)
    fold = {
        r["doc_id"]: r["t"]
        for r in apply_bpe(docs, merges)
        .select("doc_id", F.col("bpe_tokens").alias("t"))
        .collect()
    }
    rep = {
        r["doc_id"]: r["t"]
        for r in apply_bpe_replace(docs, merges)
        .select("doc_id", F.col("bpe_tokens").alias("t"))
        .collect()
    }
    assert fold == rep


def test_apply_bpe_replace_adjacent_repeats(spark):
    """Explicit pins for the non-overlapping-replace bug class: back-to-back
    (a, b) occurrences ("abab") and a == b runs ("aaaaa") must merge exactly
    like the greedy fold. With single-SEP boundaries the replace consumed
    the SEP shared by consecutive occurrences ("abab" -> [ab, a, b, </w>]);
    double-SEP boundaries restore one SEP per side so the scan is exactly
    greedy left-to-right."""
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    cases = [
        (1, "abab", [("a", "b")], ["ab", "ab", EOW]),
        (2, "ababab", [("a", "b")], ["ab", "ab", "ab", EOW]),
        (3, "aaaa", [("a", "a")], ["aa", "aa", EOW]),
        (4, "aaaaa", [("a", "a")], ["aa", "aa", "a", EOW]),
        (5, "aaab abab", [("a", "a"), ("a", "b")], None),
        (6, "abababa", [("a", "b"), ("ab", "ab")], None),
    ]
    for doc_id, text, merges, expect in cases:
        docs = spark.createDataFrame([(doc_id, text)], "doc_id int, text string")
        (fold_row,) = apply_bpe(docs, merges).select("bpe_tokens").collect()
        (rep_row,) = (
            apply_bpe_replace(docs, merges).select("bpe_tokens").collect()
        )
        assert rep_row[0] == fold_row[0], (text, merges)
        if expect is not None:
            assert rep_row[0] == expect, (text, merges)


def test_apply_bpe_replace_strips_sep_byte(spark):
    """Documented contract: literal \\x1f bytes in the input are removed
    before encoding (they are the delimiter of the symbol stream)."""
    from solana_etl_spark.operators.vocab import SEP, apply_bpe_replace

    docs = spark.createDataFrame([(f"x{SEP}y z",)], "text string")
    (row,) = apply_bpe_replace(docs, []).select("bpe_tokens").collect()
    assert row[0] == ["x", "y", EOW, "z", EOW]


def test_apply_bpe_replace_unicode_line_terminators(spark):
    """U+2028/U+2029/U+0085 survive whitespace collapse (neither engine's
    \\s matches them) — the dotall interleave must SEP-separate them like
    any other char so fold and replace stay identical (reviewed bug: Java
    '.' skips line terminators without (?s))."""
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    docs = spark.createDataFrame(
        [(1, "a\u2028b"), (2, "x\u2029y\u0085z"), (3, "p\u2028 q")],
        "doc_id int, text string",
    )
    merges = [("a", "\u2028")]
    fold = {
        r["doc_id"]: r["t"]
        for r in apply_bpe(docs, merges)
        .select("doc_id", F.col("bpe_tokens").alias("t"))
        .collect()
    }
    rep = {
        r["doc_id"]: r["t"]
        for r in apply_bpe_replace(docs, merges)
        .select("doc_id", F.col("bpe_tokens").alias("t"))
        .collect()
    }
    assert fold == rep
    assert fold[1][0] == "a\u2028"  # the merge fired on the terminator pair


def test_bpe_encode_roundtrip_reconstructs_text(spark):
    """Structural invariant of ANY correct BPE segmentation: concatenating
    the tokens and splitting on </w> reconstructs the normalized input
    exactly (merges only ever glue adjacent symbols — they can't create,
    drop, or reorder characters). A mis-merge that loses or duplicates a
    boundary breaks this; it is the invariant the round-3 adjacent-repeat
    bug class violates structurally, independent of any fold-vs-replace
    comparison."""
    import re

    from solana_etl_spark.operators.vocab import EOW, SEP, apply_bpe_replace

    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .limit(200)
    )
    merges = _ref_train(CORPUS, 10)
    rows = apply_bpe_replace(docs, merges).select("text", "bpe_tokens").collect()
    assert rows
    for r in rows:
        norm = re.sub(r"\s+", " ", r.text.lower().replace(SEP, "")).strip()
        joined = "".join(r.bpe_tokens)
        words = [w for w in joined.split(EOW) if w != ""]
        assert " ".join(words) == norm, (r.text[:80], r.bpe_tokens[:10])


# --- source guard: one word split, one piece-key packing ----------------

PKG = pathlib.Path(vocab.__file__).resolve().parent.parent
TOKENIZER_MODULES = (
    "operators/vocab.py",
    "operators/vocab_driver.py",
    "operators/wordpiece.py",
    "operators/unigram.py",
    "streaming/vocab_stream.py",
    "operators/lm.py",
)
# (module path, enclosing function) allowed to split text into words
SPLIT_ALLOWED = {("operators/vocab.py", "word_split")}
# ... and to touch KEY_BASE: its definition, the guard + packing, the read
KEY_ALLOWED = {
    ("operators/vocab.py", None),
    ("operators/vocab.py", "piece_spans"),
    ("operators/vocab.py", "piece_map"),
    ("operators/vocab.py", "piece_at"),
}


def _tokenizer_sites(path: pathlib.Path, rel: str) -> list[tuple]:
    """Every whitespace word split — a ``split`` call with the ``\\s+``
    pattern, or a ``tokens`` call (operators/text.py's split) — as
    ("split", module path, outermost enclosing function or None), and
    every ``KEY_BASE`` reference as ("key", …)."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if fn is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                inner = child.name
            if isinstance(child, ast.Call):
                f = child.func
                name = getattr(f, "attr", getattr(f, "id", None))
                args = [getattr(a, "value", None) for a in child.args]
                if (name == "split" and r"\s+" in args) or name == "tokens":
                    found.append(("split", rel, inner))
            if isinstance(child, ast.Name) and child.id == "KEY_BASE":
                found.append(("key", rel, inner))
            visit(child, inner)

    visit(ast.parse(path.read_text(), str(path)), None)
    return found


def test_word_split_and_key_packing_live_in_the_shared_helpers():
    sites = [
        s
        for rel in TOKENIZER_MODULES
        for s in _tokenizer_sites(PKG / rel, rel)
    ]
    splits = {(rel, fn) for kind, rel, fn in sites if kind == "split"}
    keys = {(rel, fn) for kind, rel, fn in sites if kind == "key"}
    assert splits == SPLIT_ALLOWED, "split words with vocab.word_split"
    assert keys == KEY_ALLOWED, "pack piece keys with vocab.piece_map/piece_at"


def test_tokenizer_guard_sees_stray_splits_and_keys(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def words(docs):\n"
        "    return F.split(F.lower(docs.text), r'\\s+')\n"
        "def toks(c):\n"
        "    return tokens(c)\n"
        "def key(s, j):\n"
        "    return s * KEY_BASE + j\n"
        "x = re.split('\\\\s+', s)\n"
        "y = F.split(c, '')\n"
    )
    assert _tokenizer_sites(probe, "probe.py") == [
        ("split", "probe.py", "words"),
        ("split", "probe.py", "toks"),
        ("key", "probe.py", "key"),
        ("split", "probe.py", None),
    ]
