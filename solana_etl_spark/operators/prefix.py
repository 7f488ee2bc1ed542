"""Two-phase distributed prefix sums over sampled range buckets.

The pattern every exact order-statistics operator here shares (exact KS,
exact Gini): a cumulative sum over a sorted domain, computed WITHOUT an
unpartitioned global window. A ``Window.orderBy(...)`` with no partition
spec moves every row through ONE task — fine on a 16-row histogram,
fatal on a continuous 100 TB feature where the distinct-value grain IS
the row count. The standard fix is a two-phase prefix sum:

1. **Bucket** the sort key into contiguous ranges using split points from
   one ``approxQuantile`` pass (Greenwald-Khanna, driver state = the
   split list, ≤ ``n_buckets`` doubles). Split choice affects only load
   balance, never results — all rows with equal keys land in one bucket
   and buckets are monotone in the key.
2. **Local** cumulative window per bucket (``partitionBy(bucket)`` — runs
   on ~``n_buckets`` parallel tasks), plus per-bucket totals reduced to an
   EXCLUSIVE prefix via a broadcast inequality self-join over the tiny
   bucket-grain aggregate (≤ groups × n_buckets rows — a bounded
   BroadcastNestedLoopJoin, the window-free way to prefix-sum a
   literal-sized table). Global cumulative = local cumulative + the
   bucket's broadcast offset.

Identical output to the single-window form, bit for bit — the oracles of
every caller are unchanged; ``tests/test_plan_shape.py`` guards that no
caller plans an unpartitioned window.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solana_etl_spark.functions.sqltext import double_lit, ident

N_RANGE_BUCKETS = 64

# Split estimation samples 1-in-SPLIT_SAMPLE_MOD key values (by
# xxhash64 of the key): splits affect ONLY load balance, never results
# (all ties of a key land in one bucket and buckets are monotone — the
# range_bucket contract), so an estimate from a hash sample is safe by
# construction, and the hash predicate pushes down the key's lineage so
# the extra action computes ~1/MOD of the upstream plan instead of all
# of it. Tiny inputs usually sample to zero splits and fall back to the
# full pass (which is then cheap by the same token).
SPLIT_SAMPLE_MOD = 64


def quantile_splits(
    df: DataFrame,
    col: str,
    n_buckets: int = N_RANGE_BUCKETS,
    relative_error: float | None = None,
    sample_mod: int | None = SPLIT_SAMPLE_MOD,
) -> list[float]:
    """Range split points for ``col`` balancing ROW mass across
    ``n_buckets`` buckets: one approxQuantile pass over a deterministic
    1/``sample_mod`` hash sample of the key (``sample_mod=None`` or
    ``1`` forces the full pass), deduped or empty. Non-numeric / empty
    inputs degrade to ``[]`` (single bucket) — the caller's plan shape
    is unchanged, only its parallelism."""
    if n_buckets <= 1:
        return []
    if relative_error is None:
        relative_error = 1.0 / (4 * n_buckets)
    probs = [i / n_buckets for i in range(1, n_buckets)]
    if sample_mod and sample_mod > 1:
        try:
            qs = df.filter(
                F.pmod(F.xxhash64(F.col(col)), F.lit(sample_mod)) == 0
            ).approxQuantile(col, probs, relative_error)
            out = sorted({float(q) for q in qs})
            if out:
                return out
            # empty sample (tiny input): fall through to the full pass
        except Exception:
            pass  # same degrade contract as below
    try:
        qs = df.approxQuantile(col, probs, relative_error)
    except Exception:
        # broad by design: ANY sampling failure (non-numeric column,
        # empty input) degrades to a single bucket — a correctness-
        # preserving fallback (results never depend on splits), only a
        # parallelism loss. A genuine cluster failure will resurface on
        # the main plan's own action.
        return []
    return sorted({float(q) for q in qs})


def range_bucket_sql(col_expr: str, splits: list[float]) -> str:
    """:func:`range_bucket` as Spark SQL expression text. The Column-API
    chain of 63 ``F.when(...).otherwise(...)`` nodes cost ~400 py4j round
    trips per call (~0.4 s of driver time, ×3 in st_rfm — r9 cProfile);
    one parsed string builds the identical CASE-chain tree. Split
    literals go through :func:`sqltext.double_lit` (DOUBLE-pinned; handles
    the ±inf/NaN splits ``approxQuantile`` can return on data containing
    them, which the Column form's ``F.lit(float)`` always accepted)."""
    if not splits:
        return "0"
    return " + ".join(
        f"(CASE WHEN ({col_expr}) > {double_lit(s)} THEN 1 ELSE 0 END)"
        for s in splits
    )


def range_bucket(col: Column | str, splits: list[float]) -> Column:
    """Bucket id = number of splits strictly below ``col`` — a chained
    sum of comparisons against literal split points (plain codegen
    arithmetic; deliberately NOT an ``F.aggregate`` lambda, whose
    NamedLambdaVariables canonicalize unstably under exchange reuse and
    can fail attribute binding in self-joined plans). Monotone in the
    key and constant across equal keys, so per-bucket order + bucket
    offsets reproduce the global order exactly. Pass the COLUMN NAME as
    a string to build the chain as one parsed SQL string (r9 — see
    :func:`range_bucket_sql`); a Column argument keeps the py4j form."""
    if isinstance(col, str):
        return F.expr(range_bucket_sql(ident(col), splits))
    if not splits:
        return F.lit(0)
    out = F.lit(0)
    for s in splits:
        out = out + F.when(col > float(s), 1).otherwise(0)
    return out


def exclusive_offsets(
    bucketed: DataFrame,
    measures: list[str],
    bucket_col: str = "_bkt",
    group_cols: tuple[str, ...] = (),
    descending: bool = False,
) -> DataFrame:
    """Per (group, bucket) EXCLUSIVE prefix totals ``_off_<m>`` for each
    measure: the broadcast inequality self-join over the bucket-grain
    aggregate. Both join sides are ≤ groups × n_buckets rows (the
    broadcast side is ~KB), so the nested-loop expansion is bounded at
    n_buckets² per group — deliberately window-free. ``descending``
    accumulates from the TOP bucket down (for desc-ordered ranks)."""
    # expression trees built as SQL strings (r10, guide §7.3): the Column-
    # API loops cost a py4j round trip per node, ~3× per call in st_rfm's
    # build — the parsed trees are identical
    agg = bucketed.groupBy(*group_cols, bucket_col).agg(
        *[F.expr(f"sum({ident(m)})").alias(f"_t_{m}") for m in measures]
    )
    left = agg.selectExpr(
        *[f"{ident(g)} AS {ident('_l_' + g)}" for g in group_cols],
        f"{ident(bucket_col)} AS `_l_bkt`",
        *[f"{ident('_t_' + m)} AS {ident('_l_' + m)}" for m in measures],
    )
    # eqNullSafe (<=>): a NULL group key (lang-ID failure, missing tenant)
    # is a real group — plain == would drop its offsets silently
    cond = F.expr(
        " AND ".join(
            [f"{ident('_l_' + g)} <=> {ident(g)}" for g in group_cols]
            + [f"`_l_bkt` {'>' if descending else '<'} {ident(bucket_col)}"]
        )
    )
    out = (
        agg.join(F.broadcast(left), cond, "left")
        .groupBy(*group_cols, bucket_col)
        .agg(
            *[
                F.expr(
                    f"CAST(coalesce(sum({ident('_l_' + m)}), 0) AS BIGINT)"
                ).alias(f"_off_{m}")
                for m in measures
            ]
        )
    )
    # re-alias the key columns to FRESH attributes: the caller joins this
    # result back onto the same `bucketed` lineage, and grouping columns
    # keep their input exprIds — without this, the self-join resolves the
    # shared attribute to the wrong side (ATTRIBUTE_NOT_FOUND at runtime)
    return out.selectExpr(
        *[f"{ident(g)} AS {ident(g)}" for g in group_cols],
        f"{ident(bucket_col)} AS {ident(bucket_col)}",
        *[ident("_off_" + m) for m in measures],
    )


def nullsafe_offsets_join(
    bucketed: DataFrame, offs: DataFrame, keys: list[str]
) -> DataFrame:
    """Join the broadcast ``exclusive_offsets`` result back onto the
    bucketed relation, matching NULL group keys (``eqNullSafe``) — the
    null-tolerant replacement for a USING join, which silently drops
    rows whose group key is NULL (realistic in web corpora: lang-ID
    failures). Keeps the LEFT side's key columns; the right side's are
    renamed away before the join so attribute resolution is unambiguous
    even though both sides share the ``bucketed`` lineage."""
    r = offs
    for k in keys:
        r = r.withColumnRenamed(k, f"_r_{k}")
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"_r_{k}"))
    return bucketed.join(F.broadcast(r), cond, "inner").drop(
        *[f"_r_{k}" for k in keys]
    )


def two_phase_row_number(
    df: DataFrame,
    primary: str,
    order_cols: list,
    out_col: str = "_rn",
    n_buckets: int = N_RANGE_BUCKETS,
    descending: bool = False,
    splits: list[float] | None = None,
) -> DataFrame:
    """``df`` + ``out_col`` = the global ROW_NUMBER of each row under
    (``order_cols``) — computed WITHOUT an unpartitioned window.

    ``primary`` is the leading numeric sort column; range buckets come
    from its sampled quantiles, all ties of ``primary`` land in one
    bucket (so any secondary tie-break columns resolve locally), and the
    global number is the per-bucket local row_number plus the broadcast
    count of rows in preceding buckets. ``descending`` flips both the
    bucket accumulation and the expected direction of ``order_cols``
    (the caller still supplies the actual Column ordering). The quantile
    pass runs ``df``'s plan once extra on a 1/``SPLIT_SAMPLE_MOD`` hash
    sample of the key (pushdown-reduced) — persist upstream if even the
    sampled pass is expensive. A caller ranking SEVERAL metrics of the
    same frame can pass precomputed ``splits`` (e.g. one multi-column
    ``approxQuantile`` job instead of one eager job per metric — r9,
    st_rfm): split values only steer bucket load balance, the produced
    rank is exact for ANY splits (all ties of ``primary`` share a bucket
    by construction of ``range_bucket``). Raises ValueError when ``df``
    already has ``out_col`` or one of the internal ``_bkt``, ``_one``,
    ``_lrn``, ``_off__one`` columns (they would come out duplicated or
    ambiguous)."""
    in_cols = df.columns
    taken = {out_col.lower(), "_bkt", "_one", "_lrn", "_off__one"}
    clash = [c for c in in_cols if c.lower() in taken]
    if clash:
        raise ValueError(
            f"two_phase_row_number: input already has column(s) {clash}; "
            "rename them or pick another out_col"
        )
    if splits is None:
        splits = quantile_splits(df, primary, n_buckets)
    bucketed = df.selectExpr(
        "*",
        f"({range_bucket_sql(ident(primary), splits)}) AS `_bkt`",
        "1 AS `_one`",
    )
    offs = exclusive_offsets(
        bucketed, ["_one"], group_cols=(), descending=descending
    )
    w = Window.partitionBy("_bkt").orderBy(*order_cols)
    out = (
        bucketed.withColumn("_lrn", F.row_number().over(w))
        .join(F.broadcast(offs), "_bkt")
        .selectExpr(
            *[ident(c) for c in in_cols],
            f"(`_lrn` + `_off__one`) AS {ident(out_col)}",
        )
    )
    return out


def _int_div(a: Column, b: Column) -> Column:
    """Exact integer division of non-negative longs: subtract the
    remainder before dividing, so the double division is of an exact
    multiple (bit-exact ≤ 2^53, where a bare floor(a/b) can misround
    just below an integer boundary)."""
    return ((a - F.pmod(a, b)) / b).cast("long")


def ntile_from_rank(rank: Column, n_rows: Column, tiles: int) -> Column:
    """SQL NTILE(tiles) reconstructed from a global 1-based rank and the
    row count — the closed form of the standard uneven split (n = q·t +
    r: the first r buckets take q+1 rows, the rest q). Lets NTILE ride
    the two-phase row_number instead of an unpartitioned window. The
    q = 0 branch (fewer rows than tiles) stays in the first piece, so
    the integer division by q is never evaluated there (Spark Whens
    evaluate only the selected branch)."""
    q = _int_div(n_rows, F.lit(tiles))
    r = n_rows % tiles
    first = r * (q + 1)
    return F.when(
        rank <= first, _int_div(rank - 1, q + 1) + 1
    ).otherwise(r + _int_div(rank - 1 - first, q) + 1)


def ntile_from_rank_sql(rank_expr: str, n_rows: int, tiles: int) -> str:
    """:func:`ntile_from_rank` as SQL text for a KNOWN row count (r10,
    guide §7.3 — the Column form costs ~60 py4j round trips per quartile
    label; st_rfm builds three). q, r and the piece boundary fold to
    Python-int literals; the rank arithmetic keeps the exact shape of
    :func:`_int_div` (subtract the remainder, then double-divide an exact
    multiple, cast long), so values are bit-identical to the Column form.
    The q = 0 degenerate keeps every row in the first CASE piece, so the
    ELSE's division by zero is never evaluated."""
    q, r = divmod(int(n_rows), tiles)
    first = r * (q + 1)
    x = f"(({rank_expr}) - 1)"
    y = f"(({rank_expr}) - 1 - {first})"
    return (
        f"CASE WHEN ({rank_expr}) <= {first} THEN"
        f" CAST(({x} - pmod({x}, {q + 1})) / {q + 1} AS BIGINT) + 1"
        f" ELSE {r} + CAST(({y} - pmod({y}, {q})) / {q} AS BIGINT) + 1 END"
    )
