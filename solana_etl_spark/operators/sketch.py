"""Bounded-memory frequent-items (heavy hitters): Misra-Gries candidates
verified by one exact counting pass.

``skew.hot_keys`` is the exact report — one (key, partial_count) shuffle.
That is the right plan while the DISTINCT-key count fits a shuffle; on a
100 TB corpus with ~10^11 distinct keys (URLs, n-grams) even the combined
map-side output is a full shuffle of every distinct key. This operator is
the classic two-phase alternative whose shuffle is O(candidates), not
O(distinct keys):

1. **Candidate phase** — each partition runs a Misra-Gries summary
   [Misra & Gries 1982] with k = ceil(1/phi) counters (bounded memory,
   one Arrow-batched pass via ``mapInPandas``). MG guarantees every item
   with frequency > phi * n_partition survives its partition summary, so
   the union of partition candidates is a SUPERSET of every global item
   with frequency > phi * N. Only ~k rows leave each partition.
2. **Exact phase** — candidates are collected (≤ k * n_partitions rows,
   driver-small by construction), broadcast back as a semi-join filter,
   and counted EXACTLY in one aggregation over only the candidate rows.

The final output — items with exact count >= threshold — is therefore
deterministic and independent of partitioning, task retries, or the MG
internals (the sketch only ever filters, never counts), which is what
makes a sketch-assisted operator oracle-checkable: the DuckDB oracle is
the plain ``GROUP BY ... HAVING count >= threshold``.

Caveat (declared): phi must satisfy threshold >= phi * N, else the
superset guarantee does not cover the requested threshold; the operator
raises rather than silently under-reporting.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def _mg_partition(key_col: str, k: int):
    """Per-partition Misra-Gries: keep at most k counters; decrement-all
    on overflow. Emits surviving keys (candidate superset)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            for v in pdf[key_col]:
                if v in counters:
                    counters[v] += 1
                elif len(counters) < k:
                    counters[v] = 1
                else:
                    # decrement-all; drop zeros (amortized O(1)/item)
                    dead = []
                    for c in counters:
                        counters[c] -= 1
                        if counters[c] == 0:
                            dead.append(c)
                    for c in dead:
                        del counters[c]
        yield pd.DataFrame({key_col: list(counters.keys())})

    return run


# Above this many distinct candidates the exact-verify semi-join stops
# broadcasting: k·n_partitions candidates are usually tiny, but at 10^6
# partitions with k=1000 the "bounded" union is a 10^9-row broadcast that
# would OOM the driver — past the cap the semi-join SHUFFLES instead
# (same rows out, one extra exchange of the candidate keys only).
BROADCAST_CANDIDATE_CAP = 1_000_000


def frequent_items(
    df: DataFrame,
    key_col: str,
    phi_num: int = 1,
    phi_den: int = 1000,
    min_count: int | None = None,
    broadcast_cap: int = BROADCAST_CANDIDATE_CAP,
) -> DataFrame:
    """Exact (key, n_rows) for every key with count >= threshold, found
    with O(phi_den/phi_num) memory per task and a candidate-sized shuffle.

    phi = phi_num/phi_den is an exact rational so the default threshold
    ceil(phi * N) = (phi_num*N + phi_den - 1) div phi_den is pure integer
    math — the same value on any engine, at any scale factor (the
    threshold tracks corpus growth instead of going stale). An explicit
    ``min_count`` must sit at or above the phi boundary (checked — the MG
    superset guarantee covers nothing below it).

    The exact-verify semi-join broadcasts the candidate set while it is
    ≤ ``broadcast_cap`` distinct keys (counted first — one aggregate over
    the already-sketched candidate grain) and falls back to a shuffled
    semi-join beyond it; the result is identical either way, so the
    oracle doesn't change."""
    k = math.ceil(phi_den / phi_num)
    candidates = (
        df.select(key_col)
        .mapInPandas(
            _mg_partition(key_col, k),
            schema=StructType(
                [StructField(key_col, df.schema[key_col].dataType)]
            ),
        )
        .distinct()
    )
    n = df.count()
    boundary = (phi_num * n + phi_den - 1) // phi_den
    threshold = boundary if min_count is None else min_count
    if threshold < boundary:
        raise ValueError(
            f"min_count={threshold} below the MG guarantee boundary "
            f"ceil(phi*N)={boundary}: raise min_count or lower phi"
        )
    # exact verify: count ONLY candidate rows. Candidates are ≤
    # k · n_partitions rows by construction — broadcast when that's
    # actually small, shuffle when a massive partition count makes it not
    n_cand = candidates.count()
    probe = (
        F.broadcast(candidates) if n_cand <= broadcast_cap else candidates
    )
    return (
        df.join(probe, key_col, "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") >= threshold)
    )


# --- Bloom-filter membership (shared-nothing build, broadcast probe) -------
#
# The 100 TB story: an exact membership index (the anti-join side of
# incremental dedup) is a full shuffle of every key; a Bloom filter is a
# fixed-size bitmap that BROADCASTS. Build once over the corpus (one
# scan + one m/63-row aggregate), then any later batch probes it with a
# map-side broadcast join — no shuffle of the big side at all. False
# positives (tunable via m_bits/n_hashes) route a small surplus to the
# exact path; false negatives are impossible, so the filter is safe as a
# pre-filter: "definitely new" rows skip the expensive exact index.
#
# Every position is cross-engine-deterministic arithmetic over the
# shared md5-based token hash (functions/hashing.py), so the filter
# contents — and therefore the exact false-positive set — are mirrored
# bit-for-bit by the DuckDB oracle: approximate-by-definition, not
# approximate-by-race.

BLOOM_M_BITS = 1 << 16
BLOOM_N_HASHES = 4
_BLOOM_WORD_BITS = 63  # 63 sets bits only below the int64 sign bit


def _positions_from_hash(h, m_bits: int, n_hashes: int):
    """Positions from an ALREADY-COMPUTED base hash column — pure int64
    arithmetic, safe to inline many times. Callers that probe at fact
    scale must stage the md5 hash into ONE column first: inlining
    ``hash32`` into every position expression re-evaluates the md5 +
    base-36 conv per position per row (measured ~8x the whole plain
    join's cost at 600k rows)."""
    from solana_etl_spark.functions.hashing import PERM32_P

    # pmod, not %: identical for the non-negative md5 hash (so oracles are
    # unchanged) but keeps positions in [0, m_bits) when a fast_hash
    # product wraps int64 negative — a negative position would corrupt the
    # build/probe word indexing
    h1 = F.pmod(h, F.lit(m_bits))
    h2 = F.pmod(
        h * F.lit(1048573) + F.lit(40503), F.lit(PERM32_P)
    ).bitwiseOR(F.lit(1).cast("long"))
    return [
        F.pmod(h1 + F.lit(i) * h2 + F.lit(i * i), F.lit(m_bits)).alias(f"p{i}")
        for i in range(n_hashes)
    ]


def _base_hash(col, fast_hash: bool):
    """The bloom base hash. Default: the cross-engine md5 hash32 (oracle-
    mirrorable, ~0.6s/600k rows — md5-bound). fast_hash: JVM xxhash64
    masked non-negative — ~an order of magnitude cheaper, for production
    paths that don't need a DuckDB mirror (the join-equivalence guarantee
    holds under ANY hash; only the false-positive SET changes)."""
    from solana_etl_spark.functions.hashing import hash32

    if fast_hash:
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 62) - 1))
    return hash32(col)


def _bloom_positions(
    key_col: str, m_bits: int, n_hashes: int, fast_hash: bool = False
):
    """The n_hashes bit positions of a key: double-hashing over the base
    hash — position_i = (h1 + i*h2 + i*i) % m_bits [Kirsch & Mitzenmacher
    2006: two base hashes generate k independent-enough probes]. h2 is
    forced odd so probes cycle the whole table. With the default md5 hash
    the h2 multiplier stays < 2^21 (the MINHASH_PERMS bound) so a*h+b
    < 2^53 — exact int64 in BOTH engines, no overflow divergence; under
    fast_hash the products may wrap int64, which is fine (JVM-only,
    deterministic, never mirrored)."""
    return _positions_from_hash(
        _base_hash(F.col(key_col), fast_hash), m_bits, n_hashes
    )


def _position_words(
    keys: DataFrame,
    key_col: str,
    m_bits: int,
    n_hashes: int,
    keep_key: bool,
    fast_hash: bool = False,
) -> DataFrame:
    """(word_idx, bit[, key]) for every (key, hash_i) probe — the ONE
    position/word/bit encoding both build and probe use (a drifted copy
    would silently turn guaranteed members into false negatives). The
    base hash stages into one projection before the position expressions
    so md5 evaluates ONCE per key, not once per position (the
    bloom_prefilter_join fix, applied here so build and probe share it)."""
    cols = [F.col(key_col)] if keep_key else []
    hashed = keys.select(
        *cols, _base_hash(F.col(key_col), fast_hash).alias("_bh")
    )
    pos = hashed.select(
        *cols, *_positions_from_hash(F.col("_bh"), m_bits, n_hashes)
    )
    stacked = pos.select(
        *cols,
        F.explode(F.array(*[F.col(f"p{i}") for i in range(n_hashes)])).alias(
            "p"
        ),
    )
    return stacked.select(
        *cols,
        (F.col("p") / _BLOOM_WORD_BITS).cast("long").alias("word_idx"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), "
            f"CAST(p % {_BLOOM_WORD_BITS} AS INT))"
        ).alias("bit"),
    )


def bloom_build(
    keys: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_N_HASHES,
    fast_hash: bool = False,
) -> DataFrame:
    """Build the filter: (word_idx, word) int64 bitmap rows — at most
    ceil(m_bits/63) of them, independent of corpus size. One scan, one
    explode to n_hashes position rows/key, one BIT_OR aggregate."""
    return (
        _position_words(
            keys, key_col, m_bits, n_hashes, keep_key=False,
            fast_hash=fast_hash,
        )
        .groupBy("word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )


def bloom_probe(
    keys: DataFrame,
    bloom: DataFrame,
    key_col: str = "key",
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_N_HASHES,
    fast_hash: bool = False,
) -> DataFrame:
    """Probe: (key, maybe_member). maybe_member is TRUE iff every one of
    the key's n_hashes bits is set — guaranteed TRUE for every built key
    (no false negatives), FALSE proves absence. The bitmap side is
    BROADCAST (≤ m_bits/63 rows); the probe side never shuffles except
    the per-key bool_and, keyed by the probe key itself.

    m_bits / n_hashes / fast_hash MUST match the build call — positions
    are arithmetic over them."""
    stacked = _position_words(
        keys, key_col, m_bits, n_hashes, keep_key=True, fast_hash=fast_hash
    )
    probed = stacked.join(F.broadcast(bloom), "word_idx", "left").select(
        key_col,
        (
            F.col("word").isNotNull()
            & (F.col("word").bitwiseAND(F.col("bit")) != 0)
        ).alias("hit"),
    )
    return probed.groupBy(key_col).agg(
        F.bool_and("hit").alias("maybe_member")
    )


def bloom_prefilter_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    how: str = "inner",
    m_bits: int = BLOOM_M_BITS,
    n_hashes: int = BLOOM_N_HASHES,
    fast_hash: bool = False,
) -> DataFrame:
    """Join with a Bloom pre-filter on the fact side: build the bitmap
    from the dim side's keys, collect it to a literal (≤ m_bits/63 int64
    words ≈ 8 KB — bounded driver state, like codebooks/centroids), and
    prune fact rows IN THE SCAN before the join exchange.

    This is the explicit, deterministic form of the runtime row-level
    filtering AQE injects opportunistically: at 100 TB the win is when
    the dim side is too large to broadcast-join (so the join must
    shuffle BOTH sides) yet its key set is selective — the Bloom test
    fuses into the fact scan and drops non-matching rows before they pay
    the exchange, shrinking the dominant shuffle by the join selectivity.
    False positives only cost a little extra shuffle (the join re-checks
    equality exactly); false negatives are impossible, so the result is
    IDENTICAL to the plain join — which is exactly what the oracle
    asserts. Keys hash through their canonical string form on both build
    and probe (one shared cast, no engine-specific binary encodings).

    fast_hash swaps the oracle-mirrorable md5 base hash for JVM xxhash64
    (measured ~3x faster end-to-end at 600k fact rows — the md5 is the
    filter's dominant per-row cost). Join equivalence holds under ANY
    hash (the join re-checks equality); only the false-positive set —
    invisible in the result — changes, so the registry row keeps the
    default md5 form the DuckDB oracle can mirror.
    """
    from functools import reduce

    # the pre-filter drops fact rows BEFORE the join, which preserves
    # semantics only for joins that would drop those rows anyway — an
    # outer/anti join through it would silently lose (or invert) the
    # non-matching side
    if how not in ("inner", "left_semi"):
        raise ValueError(
            f"bloom_prefilter_join supports how='inner'/'left_semi' "
            f"(got {how!r}): the pre-filter discards non-matching fact "
            f"rows, which outer/anti joins must keep"
        )

    dim_keys = dim.select(F.col(dim_key).cast("string").alias("key"))
    n_words = (m_bits + _BLOOM_WORD_BITS - 1) // _BLOOM_WORD_BITS
    words = [0] * n_words
    for r in bloom_build(
        dim_keys, "key", m_bits, n_hashes, fast_hash=fast_hash
    ).collect():
        words[r["word_idx"]] = r["word"]
    # ONE array Literal, not F.array(1042 lit children): CreateArray of
    # that many children is re-built per row and knocks the filter out of
    # whole-stage codegen (measured ~4x the plain join's cost; a folded
    # Literal probes at plain-int-filter speed)
    words_lit = F.lit([int(w) for w in words]).cast("array<bigint>")

    # stage the base hash into ONE column, then derive positions with int
    # arithmetic only — inlining the hash per position re-evaluates the md5
    # n_hashes (+h2) times per fact row (measured 4.7s vs 0.5s plain join
    # at sf0.1 before this split; ~0.9s after)
    probed = fact.withColumn(
        "_bh", _base_hash(F.col(fact_key).cast("string"), fast_hash)
    ).withColumn("_bwords", words_lit)
    probed = probed.select(
        "*",
        *[
            c.alias(f"_bp{i}")
            for i, c in enumerate(
                _positions_from_hash(F.col("_bh"), m_bits, n_hashes)
            )
        ],
    )
    tests = [
        F.expr(
            f"(element_at(_bwords, CAST(_bp{i} / {_BLOOM_WORD_BITS} AS INT)"
            f" + 1) & shiftleft(CAST(1 AS BIGINT),"
            f" CAST(_bp{i} % {_BLOOM_WORD_BITS} AS INT))) != 0"
        )
        for i in range(n_hashes)
    ]
    pruned = probed.filter(reduce(lambda a, b: a & b, tests)).drop(
        "_bh", "_bwords", *[f"_bp{i}" for i in range(n_hashes)]
    )
    return pruned.join(dim, pruned[fact_key] == dim[dim_key], how)


# --- HyperLogLog distinct (deterministic registers, mergeable) ------------
#
# KMV (a14) estimates distincts from the k smallest hashes; HLL is the
# register form whose state is FIXED (m = 2^p bytes-ish) and mergeable by
# max() — the shape production telemetry uses. Registers here are pure
# integer arithmetic over the shared md5 hash: bucket = h mod m, rho =
# leading-zero rank of the remaining 50 bits via length(bin(w)) (both
# engines define bin() as minimal binary digits), so the register table —
# and therefore the estimate — is bit-identical cross-engine:
# approximate-by-definition, not approximate-by-race. The harmonic mean
# is kept EXACT by scaling: sum 2^(51 - reg) as int64 (<= 2^61), one
# double division at the end.

HLL_P = 10  # 2^10 = 1024 registers


def hll_registers(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P,
) -> DataFrame:
    """(group cols, bucket, reg): the HLL register table — ONE
    map-side-combined max aggregate with state bounded by
    groups × 2^p rows regardless of corpus size."""
    from solana_etl_spark.functions.hashing import hash64

    m = 1 << p
    h = hash64(F.col(key_col).cast("string"))
    bucket = F.pmod(h, F.lit(m))
    # exact integer h div m (h is non-negative)
    w = ((h - F.pmod(h, F.lit(m))) / m).cast("long")
    rho = F.when(w == 0, F.lit(51)).otherwise(51 - F.length(F.bin(w)))
    return (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate(
    regs: DataFrame, group_cols: tuple[str, ...] = (), p: int = HLL_P
) -> DataFrame:
    """(group cols, m_used, hll_estimate) from a register table —
    standard estimator with the small-range linear-counting correction;
    every input to the final double formula is an exact integer, so both
    engines compute the identical IEEE result (rounded to 4). Shared by
    the batch sketch and the streaming state scorer, so a streamed
    register table scores identically to the batch one."""
    m = 1 << p
    term = F.expr("shiftleft(CAST(1 AS BIGINT), CAST(51 - reg AS INT))")
    agg = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("m_used"),
        F.sum(term).alias("_s_used"),
    )
    empty = m - F.col("m_used")
    s_total = (
        F.col("_s_used") + empty * F.lit(1 << 51).cast("long")
    ).cast("double")
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = F.lit(alpha * m * m) * F.lit(float(1 << 51)) / s_total
    est = F.when(
        (raw <= 2.5 * m) & (empty > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / empty.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "m_used",
        F.round(est, 4).alias("hll_estimate"),
    )


def hll_distinct(
    df: DataFrame,
    key_col: str,
    group_cols: tuple[str, ...] = (),
    p: int = HLL_P,
) -> DataFrame:
    """HLL distinct-count estimate per group: (group cols, m_used,
    hll_estimate) — register build + shared estimator."""
    return hll_estimate(hll_registers(df, key_col, group_cols, p), group_cols, p)
