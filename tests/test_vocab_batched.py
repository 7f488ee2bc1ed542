"""Batched merge rounds (train_bpe_merges / train_wordpiece_vocab with
batch_size > 1) must learn the IDENTICAL artifact as classic
one-at-a-time training — the conflict policies only ever accept a batch
they can prove classic would pick in the same order. Equality is checked
against the pure-Python reference trainers (themselves pinned to the
Spark classic mode by test_vocab / test_wordpiece), plus direct unit
tests of the selection policies' stop conditions."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from test_vocab import CORPUS, _ref_train as _bpe_ref
from test_wordpiece import _ref_train as _wp_ref

from solana_etl_spark.operators.vocab import (
    _select_bpe_batch,
    collect_adjacent_triples,
    train_bpe_merges,
)
from solana_etl_spark.operators.wordpiece import (
    _select_wp_batch,
    train_wordpiece_vocab,
)


def _docs(spark, lines):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(lines)], "doc_id long, text string"
    )


def test_bpe_batched_equals_classic_fixture_64_merges(spark):
    got = train_bpe_merges(
        _docs(spark, CORPUS), n_merges=64, batch_size=8,
        strategy="distributed",
    )
    assert got == _bpe_ref(CORPUS, 64)


def test_wordpiece_batched_equals_classic_fixture(spark):
    lines = ["hugging huggable hug bug rugged", "hug hug hugging jazz"]
    got = train_wordpiece_vocab(
        _docs(spark, lines), n_merges=24, batch_size=8,
        strategy="distributed",
    )
    freqs = Counter(w for t in lines for w in t.split())
    assert got == _wp_ref(dict(freqs), n_merges=24)


words_st = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=6),
    min_size=3,
    max_size=12,
)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(words=words_st, batch=st.integers(min_value=2, max_value=6))
def test_bpe_batched_equals_classic_property(spark, words, batch):
    lines = [" ".join(words)]
    got = train_bpe_merges(
        _docs(spark, lines), n_merges=12, batch_size=batch,
        strategy="distributed",
    )
    assert got == _bpe_ref(lines, 12)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[
        HealthCheck.too_slow,
        HealthCheck.function_scoped_fixture,
    ],
)
@given(words=words_st, batch=st.integers(min_value=2, max_value=6))
def test_wordpiece_batched_equals_classic_property(spark, words, batch):
    lines = [" ".join(words)]
    got = train_wordpiece_vocab(
        _docs(spark, lines), n_merges=10, batch_size=batch,
        strategy="distributed",
    )
    freqs = Counter(w for t in lines for w in t.split())
    assert got == _wp_ref(dict(freqs), n_merges=10)


# ---- selection-policy unit tests (driver-side, no Spark) -----------------


def _row(**kw):
    return kw


def test_select_bpe_batch_accepts_disjoint_above_triple_bound():
    cand = [
        _row(a="a", b="b", cnt=100),
        _row(a="c", b="d", cnt=50),
        _row(a="e", b="f", cnt=40),
    ]
    # created pairs from (a,b) bounded by 35 < 40; from (c,d) by 10 < 40
    # (the bound is a RUNNING max: every later candidate must beat every
    # earlier pair's created-pair ceiling)
    best = {("a", "b"): 35, ("c", "d"): 10}
    got = _select_bpe_batch(cand, 3, set("abcdef"), best, 0)
    assert got == [("a", "b"), ("c", "d"), ("e", "f")]


def test_select_bpe_batch_stops_on_triple_dominance():
    cand = [_row(a="a", b="b", cnt=100), _row(a="c", b="d", cnt=50)]
    # a created pair from (a,b) could reach 60 >= 50: classic might pick
    # it second — the batch must stop at size 1
    got = _select_bpe_batch(cand, 2, set("abcd"), {("a", "b"): 60}, 0)
    assert got == [("a", "b")]


def test_select_bpe_batch_stops_on_symbol_conflict():
    cand = [_row(a="a", b="b", cnt=100), _row(a="b", b="c", cnt=90)]
    got = _select_bpe_batch(cand, 2, set("abc"), {}, 0)
    assert got == [("a", "b")]


def test_select_bpe_batch_stops_on_merged_token_collision():
    # merging (a, b) creates token "ab" which ALREADY exists as a symbol:
    # counts conflate, so nothing after c1 is provable
    cand = [_row(a="a", b="b", cnt=100), _row(a="c", b="d", cnt=10)]
    got = _select_bpe_batch(cand, 2, {"a", "b", "c", "d", "ab"}, {}, 0)
    assert got == [("a", "b")]


def test_select_bpe_batch_respects_truncation_floor():
    cand = [_row(a="a", b="b", cnt=100), _row(a="c", b="d", cnt=50)]
    # triple collect truncated with floor 55: an uncollected created pair
    # could reach 55 >= 50
    got = _select_bpe_batch(cand, 2, set("abcd"), {}, 55)
    assert got == [("a", "b")]


WP_KNOWN = {"x", "##y", "p", "##q", "z"}


def test_select_wp_batch_floor_bound_rejects():
    # c1 boost factor = 20/10 = 2; floor row score 2/100 = 0.02 ->
    # outside-pair bound 0.02 * 4 = 0.08 > c2's 0.0225: reject c2
    cand = [
        _row(a="x", b="##y", cnt=10, ca=20, cb=20),   # score 0.025
        _row(a="p", b="##q", cnt=9, ca=20, cb=20),    # score 0.0225
        _row(a="z", b="##q", cnt=2, ca=10, cb=10),    # floor witness 0.02
    ]
    got = _select_wp_batch(cand, 2, WP_KNOWN, {}, False, {})
    assert [(a, b) for a, b, _ in got] == [("x", "##y")]


def test_select_wp_batch_accepts_above_floor_and_triples():
    # floor bound = 1e-4 * 4 = 4e-4; created-pair bound 5/(6*10) would be
    # 0.083 -- absent here (no adjacent triples), so c2 (0.02) passes
    cand = [
        _row(a="x", b="##y", cnt=10, ca=20, cb=20),   # score 0.025
        _row(a="p", b="##q", cnt=8, ca=20, cb=20),    # score 0.02
        _row(a="z", b="##q", cnt=1, ca=100, cb=100),  # floor witness 1e-4
    ]
    got = _select_wp_batch(cand, 2, WP_KNOWN, {}, False, {})
    assert [(a, b) for a, b, _ in got] == [("x", "##y"), ("p", "##q")]


def test_select_wp_batch_triple_bound_rejects():
    # created pair from c1 could score up to 5/(6*10) = 0.083 > 0.02
    cand = [
        _row(a="x", b="##y", cnt=10, ca=20, cb=20),
        _row(a="p", b="##q", cnt=8, ca=20, cb=20),
        _row(a="z", b="##q", cnt=1, ca=100, cb=100),
    ]
    adj = {("x", "##y"): [(5, "z")]}
    got = _select_wp_batch(cand, 2, WP_KNOWN, adj, False, {"z": 6})
    assert [(a, b) for a, b, _ in got] == [("x", "##y")]


def test_select_wp_batch_truncated_triples_stop():
    cand = [
        _row(a="x", b="##y", cnt=10, ca=20, cb=20),
        _row(a="p", b="##q", cnt=8, ca=20, cb=20),
        _row(a="z", b="##q", cnt=1, ca=100, cb=100),
    ]
    got = _select_wp_batch(cand, 2, WP_KNOWN, {}, True, {})
    assert [(a, b) for a, b, _ in got] == [("x", "##y")]


def test_select_wp_batch_stale_window_candidate_rejected():
    # c2 shares symbol ##y with c1: its live score is stale -> break
    cand = [
        _row(a="x", b="##y", cnt=10, ca=20, cb=20),
        _row(a="p", b="##y", cnt=8, ca=20, cb=20),
    ]
    got = _select_wp_batch(cand, 2, WP_KNOWN, {}, False, {})
    assert [(a, b) for a, b, _ in got] == [("x", "##y")]


# collect_adjacent_triples keys pairs as NUL-joined strings, so a symbol
# that itself contains NUL can FALSE-match: ("x", "y\0z") and ("x\0y",
# "z") both key as "x\0y\0z". The extra row may only add to what is
# collected: an untruncated collect still returns every true triple, and
# the floor still bounds every true triple a truncated collect leaves out.
_NUL_CAND = [{"a": "x\x00y", "b": "z"}]
_NUL_TRIPLES = [
    ("x", "y\x00z", "q", 9),  # false match: (x, y\0z) is not a candidate
    ("m", "n", "o", 7),  # not adjacent
    ("p", "x\x00y", "z", 5),  # true: (·, a, b)
    ("x\x00y", "z", "w", 4),  # true: (a, b, ·)
]


def _nul_exact():
    cand = {(c["a"], c["b"]) for c in _NUL_CAND}
    return {
        t for t in _NUL_TRIPLES if t[:2] in cand or t[1:3] in cand
    }


def _nul_collect(spark, cap):
    tri = spark.createDataFrame(
        _NUL_TRIPLES, "s1 string, s2 string, s3 string, cnt3 long"
    )
    rows, floor = collect_adjacent_triples(tri, _NUL_CAND, cap)
    got = {(r["s1"], r["s2"], r["s3"], r["cnt3"]) for r in rows}
    exact = got & _nul_exact()
    exact_floor = (
        min((t[3] for t in exact), default=0) if len(rows) == cap else 0
    )
    return got, floor, exact_floor


def test_collect_adjacent_triples_nul_symbol_false_match(spark):
    got, floor, exact_floor = _nul_collect(spark, cap=100)
    assert _nul_exact() <= got
    assert got - _nul_exact() == {("x", "y\x00z", "q", 9)}
    assert floor <= exact_floor


def test_collect_adjacent_triples_nul_symbol_truncated_floor(spark):
    # cap 2 keeps the false match (9) and one true triple (5): the floor
    # still bounds the uncollected true triple and stays at or below the
    # floor of the exactly matched rows
    got, floor, exact_floor = _nul_collect(spark, cap=2)
    assert _nul_exact() - got == {("x\x00y", "z", "w", 4)}
    assert floor <= exact_floor
    assert all(t[3] <= floor for t in _nul_exact() - got)
