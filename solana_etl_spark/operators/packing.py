"""Sequence packing for training-data pipelines (charter §2.11 extension).

``pack_sequences`` implements concat-and-chunk packing: documents are laid
end-to-end in a deterministic order and split into fixed token-budget
sequences; the output says which sequences each document occupies and at
which token offset. This is the accounting step a pre-training data loader
needs (docs → fixed-length model sequences), kept engine-side so the
planner can co-partition downstream work by ``seq_id``.

Scale shape: one window (the running token total) = one shuffle keyed by
the pack group; the sequence-range explode is per-row. At 100 TB the pack
group (e.g. ``lang``) bounds window state, and sequences inherit the
group's partitioning — no global sort. Deterministic by construction
(hash-free order key), so it is retry-safe and cross-engine checkable:
the pytest suite verifies it against a DuckDB computation of the same
definition (the driver registry is at its 50-row gate cap).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from solana_etl_spark.functions.sqltext import ident
from solana_etl_spark.operators.text import tokens

SEQ_BUDGET = 512  # tokens per packed sequence


def pack_sequences(
    documents: DataFrame,
    budget: int = SEQ_BUDGET,
    group_cols: tuple[str, ...] = ("lang",),
    order_col: str = "doc_id",
    n_tokens: Column | None = None,
    shards_per_group: int = 1,
    order_splits: list[float] | None = None,
) -> DataFrame:
    """One row per (document, packed sequence) it occupies.

    Columns: group cols, [``shard``,] ``doc_id``, ``n_tokens``, ``seq_id``
    (0-based per group — per (group, shard) when sharded), ``seq_offset``
    (token offset of this doc's slice within the sequence),
    ``tokens_in_seq`` (how many of the doc's tokens land in this
    sequence). A document longer than ``budget`` spans multiple sequences;
    Σ tokens_in_seq == n_tokens.

    ``n_tokens`` overrides the per-document token-count expression —
    e.g. ``F.size(...)`` over a real tokenizer's output
    (vocab.apply_bpe_replace) instead of the default whitespace/BPE-ish
    regex count; the packing accounting is tokenizer-agnostic.

    ``shards_per_group`` > 1 is a 100 TB skew valve: the running-total
    window serializes each pack group through ONE reducer, so a dominant
    group (lang='en' is ~90% of a web corpus) bounds the job. Sharding
    hashes each document into one of N (group, shard) streams
    (deterministic hash64 of the order key — retry-stable,
    oracle-mirrorable) and packs each stream independently; sequences are
    then identified by (group, shard, seq_id) and window state shrinks to
    ~group/N. Training-sequence semantics are unchanged — concat-and-chunk
    never promised a global document order, only a deterministic one, and
    (group, shard, seq_id) is exactly as deterministic as (group, seq_id).

    ``order_splits`` is the SEMANTICS-PRESERVING skew valve: range split
    points over the order key (operators/prefix.py two-phase prefix sum
    — per-(group, bucket) local cumulative window + broadcast exclusive
    bucket offsets). The running totals, and therefore every seq_id /
    offset, are BIT-IDENTICAL to the single-window form — the oracle is
    unchanged — while the dominant group packs on ~n_buckets parallel
    tasks. Callers supply the splits (one cheap approxQuantile over the
    raw order-key column) so the upstream pipeline isn't computed twice.
    """
    from solana_etl_spark.functions.hashing import hash64

    n_tok = F.size(tokens(F.col("text"))) if n_tokens is None else n_tokens
    sel = documents.select(
        *group_cols,
        order_col,
        n_tok.alias("n_tokens"),
    )
    part_cols = list(group_cols)
    shard_cols: list[str] = []
    if shards_per_group > 1:
        sel = sel.withColumn(
            "shard",
            F.pmod(
                hash64(F.col(order_col).cast("string")),
                F.lit(shards_per_group),
            ).cast("int"),
        )
        part_cols.append("shard")
        shard_cols = ["shard"]
    if order_splits:
        from solana_etl_spark.operators.prefix import (
            exclusive_offsets,
            nullsafe_offsets_join,
            range_bucket,
        )

        bucketed = sel.withColumn("_bkt", range_bucket(order_col, order_splits))
        offs = exclusive_offsets(
            bucketed, ["n_tokens"], group_cols=tuple(part_cols)
        )
        # same default RANGE frame as the single-window form, so tied
        # order keys take identical cumulative values in both modes;
        # nullsafe_offsets_join keeps NULL group keys (a USING join
        # would silently drop them, breaking the bit-identical contract)
        wloc = Window.partitionBy(*part_cols, "_bkt").orderBy(order_col)
        with_cum = (
            nullsafe_offsets_join(
                bucketed.withColumn("_lend", F.sum("n_tokens").over(wloc)),
                offs,
                [*part_cols, "_bkt"],
            )
            .withColumn(
                "_end",
                (F.col("_lend") + F.col("_off_n_tokens")).cast("long"),
            )
            .drop("_bkt", "_lend", "_off_n_tokens")
        )
    else:
        w = Window.partitionBy(*part_cols).orderBy(order_col)
        with_cum = sel.withColumn("_end", F.sum("n_tokens").over(w))
    with_cum = with_cum.withColumn("_start", F.col("_end") - F.col("n_tokens"))

    first_seq = F.floor(F.col("_start") / budget)
    last_seq = F.floor((F.col("_end") - 1) / budget)
    exploded = with_cum.filter(F.col("n_tokens") > 0).select(
        *group_cols,
        *shard_cols,
        order_col,
        "n_tokens",
        "_start",
        "_end",
        F.explode(F.sequence(first_seq, last_seq)).alias("seq_id"),
    )

    seq_start = F.col("seq_id") * budget
    seq_end = seq_start + budget
    slice_start = F.greatest(F.col("_start"), seq_start)
    slice_end = F.least(F.col("_end"), seq_end)
    return exploded.select(
        *group_cols,
        *shard_cols,
        order_col,
        "n_tokens",
        "seq_id",
        (slice_start - seq_start).cast("long").alias("seq_offset"),
        (slice_end - slice_start).cast("long").alias("tokens_in_seq"),
    )


def repeated_line_ratio() -> Column:
    """Fraction of lines that are repeats of an earlier line (normalized) —
    the intra-document repetition quality signal."""
    lines = F.split(F.col("text"), r"\n")
    norm = F.transform(lines, lambda x: F.lower(F.trim(x)))
    n = F.size(lines)
    firsts = F.size(F.array_distinct(norm))
    return F.when(n > 0, F.round((n - firsts) / n, 6)).otherwise(F.lit(0.0))


def dedup_repeated_lines(documents: DataFrame) -> DataFrame:
    """Intra-document repetition removal: drop every line whose normalized
    form already appeared earlier in the SAME document, keeping first
    occurrences in order (the paragraph/line-level analog of corpus dedup —
    boilerplate headers, repeated nav text). Pure per-row array expressions,
    zero shuffle, codegen'd."""
    lines = F.split(F.col("text"), r"\n")
    norm = F.transform(lines, lambda x: F.lower(F.trim(x)))
    keep_mask = F.expr(
        "transform(_norm, (x, i) -> array_position(_norm, x) = i + 1)"
    )
    return (
        documents.withColumn("_lines", lines)
        .withColumn("_norm", norm)
        .withColumn("_keep", keep_mask)
        .select(
            "doc_id",
            F.size("_lines").alias("n_lines"),
            F.expr(
                "size(filter(_keep, k -> NOT k))"
            ).alias("n_dropped"),
            F.concat_ws(
                "\n",
                F.expr("transform(filter(arrays_zip(_lines, _keep), p -> p._keep), p -> p._lines)"),
            ).alias("text_deduped"),
            repeated_line_ratio().alias("repeat_ratio"),
        )
    )


def chunk_documents(
    documents: DataFrame,
    chunk_chars: int = 256,
    stride: int = 192,
    text_col: str = "text",
) -> DataFrame:
    """Stride-overlapped document chunking (RAG / context-window builder):
    one row per (doc, window), windows start every ``stride`` chars and
    span ``chunk_chars`` (the last window is the remainder; overlap =
    chunk_chars − stride).

    Pure per-row positional arithmetic: a ``sequence`` of start offsets,
    ``transform``+``explode`` — zero shuffle, codegen'd, embarrassingly
    parallel, and fully SQL-expressible (the oracle replays it with
    ``generate_series`` + ``substring``).
    """
    if stride <= 0 or chunk_chars <= 0 or stride > chunk_chars:
        raise ValueError("need 0 < stride <= chunk_chars")
    t = F.col(text_col)
    n = F.length(t)
    # last start = the largest multiple of stride < n (every char covered;
    # no empty trailing window on exact multiples)
    starts = F.sequence(
        F.lit(0),
        F.when(n <= chunk_chars, F.lit(0)).otherwise(
            F.floor((n - 1) / stride).cast("long") * stride
        ),
        F.lit(stride),
    )
    chunk = F.expr(
        f"substring({ident(text_col)}, CAST(s + 1 AS INT), {chunk_chars})"
    )
    return (
        documents.withColumn("s", F.explode(starts))
        .select(
            "doc_id",
            (F.col("s") / stride).cast("long").alias("chunk_idx"),
            F.col("s").alias("chunk_start"),
            F.length(chunk).alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


BUDGET_SWEEP = (128, 256, 512, 1024, 2048)


def pack_efficiency(
    documents: DataFrame,
    budgets: tuple[int, ...] = BUDGET_SWEEP,
    group_cols: tuple[str, ...] = ("lang",),
    n_tokens: Column | None = None,
) -> DataFrame:
    """The pick-your-sequence-length planning table: per (group, budget),
    ``total_tokens``, ``n_sequences`` (concat-and-chunk count =
    ceil(total/budget)), ``padded_capacity`` (n_sequences x budget) and
    ``waste`` (pad tokens in the final sequence) — the numbers that decide
    a training run's sequence length before any packing job runs.

    ONE group aggregate + a per-row explode over the budget list; every
    output is exact int64 (utilization = total/padded_capacity is left to
    the consumer — power-of-two budgets make the ratio a terminating
    decimal that lands on TRUE round-half-way digits, which engines break
    differently; integers have no such boundary)."""
    n_tok = F.size(tokens(F.col("text"))) if n_tokens is None else n_tokens
    totals = (
        documents.select(*group_cols, n_tok.cast("long").alias("n_tokens"))
        .groupBy(*group_cols)
        .agg(F.sum("n_tokens").alias("total_tokens"))
        .filter(F.col("total_tokens") > 0)
    )
    swept = totals.select(
        *group_cols,
        "total_tokens",
        F.explode(F.array(*[F.lit(b).cast("long") for b in budgets])).alias(
            "budget"
        ),
    )
    # integer `div`, not floor(double division): at 100 TB the token totals
    # are large enough that a double quotient can misround at the boundary
    n_seqs = F.expr("(total_tokens + budget - 1) div budget")
    return swept.select(
        *group_cols,
        "budget",
        "total_tokens",
        n_seqs.alias("n_sequences"),
        (n_seqs * F.col("budget")).alias("padded_capacity"),
        (n_seqs * F.col("budget") - F.col("total_tokens")).alias("waste"),
    )
