"""Driver-side classic BPE / WordPiece training over the bounded
(word, freq) table — the fast engine of the two tokenizer trainers, and
the driver half of the shared tokenizer core.

Why this exists: the distributed merge loop (``vocab.merge_rounds``) is
exact but pays one or two Spark jobs PER MERGE, so a production
32k-merge vocabulary would be hours of scheduler overhead. The table the
rounds iterate on is the (word, freq) aggregate, which is Zipf-BOUNDED:
~10^6-10^8 rows regardless of corpus size — the same bounded-vocab
argument operators/lm.py and operators/unigram.py rely on. This is how
SentencePiece and the HF tokenizer trainers work: one distributed pass
reduces the corpus to word counts, and the greedy merge loop runs in one
process over that table. ``vocab.train_on_words`` is the one dispatch:
it collects the table under ``DRIVER_WORD_TABLE_CAP`` and runs the loops
here, and past the cap it runs the distributed rounds.

Both loops share one pair index (pair → count, pair → containing words)
and one per-merge step (:func:`_merge_words`): greedy-merge only the
words that hold the pair and update the index from each word's pair
diff — the textbook fast BPE trainer. Each loop keeps only its own
argmax: a lazy max-heap on (count desc, pair lexical) for BPE, and on
(score desc, pair lexical) for WordPiece, whose score also needs the
symbol counts. The learned artifact is BIT-EQUAL to the distributed mode
by construction — same counts, same tie-breaks (Python code-point string
order == Spark/DuckDB binary UTF-8 order) — and is pinned by the
property tests in tests/test_vocab_driver.py.

This module also defines the symbol alphabet both engines share:
``EOW``, ``CONT`` and WordPiece's ``MAX_PIECE_LEN``.

The reference has no tokenizer surface; charter LLM-pipeline machinery
(SURVEY §2.11 text-analysis family).
"""

from __future__ import annotations

import heapq
from collections import Counter, defaultdict
from typing import Iterable

EOW = "</w>"  # BPE end-of-word sentinel, as in the original formulation
CONT = "##"  # WordPiece continuation prefix
# Longest WordPiece piece, in word chars: the trainer's merge bound and
# the encoder's match bound, so every trained piece is reachable.
MAX_PIECE_LEN = 12

# Cap on collected (word, freq) rows for the driver path — the
# train_cap / BROADCAST_CANDIDATE_CAP discipline: count first (the
# collect is LIMIT cap+1, so an over-cap table never materializes on
# the driver), fall back to the distributed rounds past it. Measured
# driver-index footprint (tracemalloc over a Zipf-shaped 50k-word
# table, tests/test_vocab_driver.py memory-budget test): ~771 B/word
# BPE, ~1053 B/word WordPiece → ~0.7-1.0 GiB at this cap, well inside
# the 16g driver session.get_spark provisions.
DRIVER_WORD_TABLE_CAP = 1_000_000

Pair = tuple[str, str]


def strip_cont(sym: str) -> str:
    """A WordPiece symbol's word chars (the ``##`` prefix dropped)."""
    return sym[len(CONT) :] if sym.startswith(CONT) else sym


def _greedy_merge(syms: list[str], a: str, b: str, merged: str) -> list[str]:
    """Greedy left-to-right non-overlapping merge of adjacent (a, b) —
    identical to operators/vocab.py merge_pair_expr's fold."""
    out: list[str] = []
    i, n = 0, len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(merged)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _pair_index(words: list[list]):
    """(pair → freq-weighted count, pair → indexes of the words that
    hold it)."""
    pair_counts: dict[Pair, int] = defaultdict(int)
    pair_words: dict[Pair, set[int]] = defaultdict(set)
    for idx, (syms, f) in enumerate(words):
        for p in zip(syms, syms[1:]):
            pair_counts[p] += f
            pair_words[p].add(idx)
    return pair_counts, pair_words


def _merge_words(
    words: list[list],
    pair_counts: dict[Pair, int],
    pair_words: dict[Pair, set[int]],
    a: str,
    b: str,
    merged: str,
) -> tuple[set[Pair], int]:
    """Apply one merge to the words holding (a, b) and update the pair
    index from each word's pair diff; pairs whose count reaches zero
    leave the index. Returns the pairs whose count changed and the
    freq-weighted number of merges applied (each one turns an a and a b
    into one ``merged``)."""
    changed: set[Pair] = set()
    applied = 0
    for idx in sorted(pair_words.get((a, b), ())):
        syms, f = words[idx]
        new_syms = _greedy_merge(syms, a, b, merged)
        words[idx][0] = new_syms
        applied += (len(syms) - len(new_syms)) * f
        old = Counter(zip(syms, syms[1:]))
        new = Counter(zip(new_syms, new_syms[1:]))
        for p in old.keys() | new.keys():
            d = new[p] - old[p]
            if d:
                pair_counts[p] += d * f
                changed.add(p)
            if new[p]:
                pair_words[p].add(idx)
            else:
                pair_words[p].discard(idx)
    for p in changed:
        if pair_counts[p] <= 0:
            del pair_counts[p]
            pair_words.pop(p, None)
    return changed, applied


def bpe_merges_from_word_freqs(
    word_freqs: Iterable[tuple[str, int]],
    n_merges: int,
    append_eow: bool = True,
) -> list[tuple[str, str]]:
    """Classic BPE over a collected (word, freq) table: argmax pair by
    (count desc, a, b) each round, greedy-left apply. A lazy heap keeps
    the argmax O(log P): every pair whose count a merge changed gets a
    fresh entry, so an entry with each live pair's CURRENT count is
    always present and stale pops are skipped by a count check."""
    words = [
        [list(w) + [EOW] if append_eow else list(w), f] for w, f in word_freqs
    ]
    pair_counts, pair_words = _pair_index(words)
    heap = [(-c, a, b) for (a, b), c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges and heap:
        negc, a, b = heapq.heappop(heap)
        cur = pair_counts.get((a, b), 0)
        if cur <= 0 or -negc != cur:
            continue  # stale entry; a current one is elsewhere in the heap
        merges.append((a, b))
        changed, _ = _merge_words(words, pair_counts, pair_words, a, b, a + b)
        for p in changed & pair_counts.keys():
            heapq.heappush(heap, (-pair_counts[p], p[0], p[1]))
    return merges


def wordpiece_vocab_from_word_freqs(
    word_freqs: Iterable[tuple[str, int]],
    n_merges: int,
    max_piece_len: int = MAX_PIECE_LEN,
) -> list[str]:
    """Classic WordPiece over a collected (word, freq) table: merge the
    pair maximizing count(ab) / (count(a)·count(b)) (IEEE-double ratio of
    exact integer counts — the same expression the distributed trainer
    and its DuckDB-side mirrors evaluate), ties (a, b) lexical; pairs
    whose ##-stripped merged content would exceed ``max_piece_len`` are
    not candidates (they would be encoder-unreachable — see
    operators/wordpiece.py:train_wordpiece_vocab). Returns alphabet +
    merged pieces in merge order, exactly like the distributed mode.

    Heap staleness: a merge changes the counts of symbols a, b, and the
    merged token only, so the scores of exactly the pairs touching those
    symbols move — each gets a fresh entry pushed; pops verify the full
    (cnt, ca, cb) triple against current state."""
    words = [
        [[w[0]] + [CONT + c for c in w[1:]], f] for w, f in word_freqs if w
    ]
    pair_counts, pair_words = _pair_index(words)
    sym_counts: dict[str, int] = defaultdict(int)
    sym_pairs: dict[str, set[Pair]] = defaultdict(set)
    for syms, f in words:
        for s in syms:
            sym_counts[s] += f
    for p in pair_counts:
        sym_pairs[p[0]].add(p)
        sym_pairs[p[1]].add(p)
    alphabet = sorted(sym_counts)

    def push(p: Pair) -> None:
        if len(strip_cont(p[0])) + len(strip_cont(p[1])) <= max_piece_len:
            c = pair_counts[p]
            ca, cb = sym_counts[p[0]], sym_counts[p[1]]
            heapq.heappush(heap, (-(c / (ca * cb)), p[0], p[1], c, ca, cb))

    heap: list = []
    for p in pair_counts:
        push(p)

    merges: list[str] = []
    while len(merges) < n_merges and heap:
        _, a, b, c, ca, cb = heapq.heappop(heap)
        if (
            pair_counts.get((a, b), 0) != c
            or c <= 0
            or sym_counts.get(a, 0) != ca
            or sym_counts.get(b, 0) != cb
        ):
            continue
        merged = a + strip_cont(b)
        merges.append(merged)
        changed, applied = _merge_words(
            words, pair_counts, pair_words, a, b, merged
        )
        sym_counts[a] -= applied
        sym_counts[b] -= applied
        sym_counts[merged] += applied
        # scores moved for every pair whose own count changed plus every
        # pair touching a changed-count symbol (a, b, merged)
        touched = changed.union(
            *(sym_pairs.get(s, ()) for s in (a, b, merged))
        )
        for q in touched:
            if q in pair_counts:
                sym_pairs[q[0]].add(q)
                sym_pairs[q[1]].add(q)
                push(q)
                continue
            # a dead pair leaves the per-symbol index too, or every later
            # merge touching its symbols would re-push it
            for s in q:
                ps = sym_pairs.get(s)
                if ps is not None:
                    ps.discard(q)
                    if not ps:
                        del sym_pairs[s]
    return alphabet + merges
