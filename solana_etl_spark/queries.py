"""Query registry: every operator family from SURVEY §2 plus the charter's
LLM-data-pipeline extensions, each as a (Spark builder, DuckDB oracle SQL)
pair over the synthetic testdata tables.

Contract (driver verify): for each name, the Spark DataFrame and the oracle
SQL must agree on row count, schema column names, and order-insensitive
value hashes at sf=0.01. Conventions that make that hold:

* money aggregates go through DECIMAL(18,4) (exact in both engines), final
  values cast to DOUBLE (deterministic conversion) — no float-sum drift;
* float folds (cosine) run sequentially over arrays in both engines
  (Spark ``aggregate`` ≡ DuckDB ``list_reduce``) → bit-identical doubles;
* every hash is the md5-based family in functions/hashing.py, defined to be
  bit-identical in both engines;
* every aggregate/computed column is aliased identically on both sides;
* deterministic tie-breaks on every top-k.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType
from pyspark.sql.window import Window

from solana_etl_spark.functions.hashing import (
    MINHASH_PERMS,
    hash32_sql,
    hash64_sql,
    minhash_sql,
    perm_hash_sql,
)
from solana_etl_spark.operators import dedup, similarity, text as text_ops
from solana_etl_spark.operators import pq as pq_ops
from solana_etl_spark.operators.sessionize import sessionize, SESSION_GAP_SECONDS
from solana_etl_spark.operators.multimodal import binary_metadata

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def _register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        # events.ts has shipped as parquet TIMESTAMP(NANOS) (no native Spark
        # type: read int64 nanos, truncate to micros — what DuckDB's reader
        # does) and as native TIMESTAMP(MICROS) (read as-is; NTZ matches
        # DuckDB's naive timestamp). Adapt to whichever this dataset has so
        # oracle comparisons stay value-identical.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            # NTZ → LTZ is value-preserving only under a UTC session tz (and
            # DuckDB's naive-timestamp epoch math assumes UTC), so pin it
            # here — the driver's gate session may not carry our session.py
            # confs.
            spark.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# The EXTERNAL driver gate certifies at most 50 rows per round, so the
# driver-facing registry is this curated 50: one strong representative
# per operator family, rotated each round toward the newest unguarded
# surface.
#
# r9 rotation (VERDICT r8 task 1) — IN: the r8 surface that only the
# local gate had certified: text_wordpiece_vocab_train (the WordPiece
# sibling of the hybrid driver trainer, DuckDB re-learns the merge
# sequence), stream_bpe_vocab (streaming vocabulary state,
# stream≡batch), mm_image_dims (the JPEG real-decode certification —
# mixed PNG+JPEG dims vs ground-truth). OUT, each r8-certified and
# shadowed by a surviving family row, all still under the 200+-row
# local gate: a12_rollup (a15_pivot keeps the multi-grouping family),
# dedup_star_edges (dedup_lsh_jaccard + dedup_clusters keep the banded
# LSH family), stream_hll_distinct (sketch_hll_distinct keeps HLL;
# stream_corpus_pipeline + stream_reservoir_sample + stream_bpe_vocab
# keep the stream≡batch gates). r8 rotation: IN a25_weighted_median,
# dq_drift_chi2, sketch_hll_distinct, stream_hll_distinct,
# text_chunk_token_windows, text_bpe_vocab_train; OUT text_token_stats,
# ts_rolling, dq_impute_median, a22_grouping_sets, a23_exact_corr,
# dq_drift_ks_exact. Earlier rotations: git history of this block.
DRIVER_ROWS: tuple[str, ...] = (
    "q1_pricing_summary", "q5_revenue_by_nation",
    "q6_forecast_revenue", "f1_filter_project", "f4_exists_semijoin",
    "a9_conditional_rollup", "m1_balance_modes",
    "j2_full_outer_coalesce", "j6_asof_join", "j7_range_join",
    "m8_bucket_rollup", "w1_topk_per_group", "set_ops",
    "j11_bloom_prefilter_join", "x1_semantic_extract",
    "mine_bitext_margin", "dedup_exact", "dedup_clusters",
    "dedup_ngram_jaccard", "dedup_lsh_jaccard",
    "dedup_url_keep_best",
    "pipeline_web_clean", "pipeline_pretrain_e2e",
    "sim_cosine_topk", "ann_sq8_topk", "ann_rp_topk",
    "text_quality", "text_unigram_encode",
    "pipeline_wordpiece_pack", "a15_pivot",
    "w5_rank_family", "st_rfm",
    "a24_gini_concentration", "sketch_frequent_tokens",
    "graph_pagerank", "stream_reservoir_sample",
    "mm_scene_cuts", "mm_audio_fp_dedup",
    "mm_phash_dedup", "st_sessionize", "solana_e2e",
    "stream_corpus_pipeline",
    "a25_weighted_median", "dq_drift_chi2",
    "sketch_hll_distinct",
    "text_chunk_token_windows", "text_bpe_vocab_train",
    "text_wordpiece_vocab_train", "stream_bpe_vocab", "mm_image_dims",
)


def queries() -> dict[str, QueryFn]:
    return {n: _REGISTRY[n] for n in DRIVER_ROWS}


def oracle_sql() -> dict[str, str]:
    # several oracles read generated corpora directly; make sure they
    # exist even if the caller runs oracles before Spark queries
    # (idempotent, sub-second once cached)
    from solana_etl_spark.sources.synth import (
        ensure_e2e_corpus,
        ensure_images_table,
        ensure_web_table,
    )

    ensure_e2e_corpus()
    ensure_images_table()
    ensure_web_table()
    return {n: _ORACLES[n] for n in DRIVER_ROWS if n in _ORACLES}


def all_queries() -> dict[str, QueryFn]:
    """Every registered query (the local gate / pytest); ``queries()`` is
    its DRIVER_ROWS subset."""
    return dict(_REGISTRY)


def all_oracle_sql() -> dict[str, str]:
    from solana_etl_spark.sources.synth import (
        ensure_audio_table,
        ensure_e2e_corpus,
        ensure_images_table,
        ensure_web_table,
    )

    ensure_e2e_corpus()
    ensure_images_table()  # mm_phash_dedup's oracle reads it directly
    ensure_web_table()  # web_/c4_ oracles read it directly
    ensure_audio_table()  # mm_audio_* oracles read it directly
    return dict(_ORACLES)


DEC = "decimal(18,4)"

# ---------------------------------------------------------------------------
# 1. Reference-surface operator families on the TPC-H-ish tables
# ---------------------------------------------------------------------------


@_register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1–A4 analog: the reference's hash-style aggregations as one wide
    hash-aggregate (partial aggregation map-side; one small shuffle)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp")
    )
    qty = F.col("l_quantity").cast(DEC)
    price = F.col("l_extendedprice").cast(DEC)
    disc = F.col("l_discount").cast(DEC)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).cast("double").alias("sum_qty"),
        F.sum(price).cast("double").alias("sum_base_price"),
        F.round(F.sum(price * (F.lit(1) - F.col("l_discount")).cast(DEC)), 4)
        .cast("double")
        .alias("sum_disc_price"),
        F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 6).alias("avg_qty"),
        F.round(F.sum(disc).cast("double") / F.count(F.lit(1)), 6).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "q3_topk_revenue",
    """
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           YEAR(o.o_orderdate) AS order_year
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, YEAR(o.o_orderdate)
    ORDER BY revenue DESC, o_orderkey ASC
    LIMIT 10
    """,
)
def q3_topk_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-join + global top-k. customer is broadcast (small dim); top-k
    runs as TakeOrderedAndProject — no full sort."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount")).cast(DEC))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", F.year("o_orderdate").alias("order_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("o_orderkey", "revenue", "order_year")
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "q5_revenue_by_nation",
    """
    SELECT n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l.l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
                  JOIN customer c ON c.c_nationkey = n.n_nationkey
                  JOIN orders o ON o.o_custkey = c.c_custkey
                  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join: all dims broadcast; the only shuffle is the final small
    group-by. Catalyst reorders the join chain; AQE coalesces."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1) - F.col("l_discount")).cast(DEC))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(rev), 4).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@_register(
    "q6_forecast_revenue",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(l_discount AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: every predicate pushes into the parquet scan; the
    aggregate is a single map-side-combined global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.09)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast(DEC) * F.col("l_discount").cast(DEC)), 4
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_register(
    "f1_filter_project",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority,
           CAST(CAST(o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS price_cents,
           YEAR(o_orderdate) AS order_year
    FROM orders
    WHERE o_orderstatus = 'F' AND o_orderdate >= TIMESTAMP '1996-01-01'
    """,
)
def f1_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2 analog: predicate filter + projection with a fixed-point value
    column (NumberWithScale M2/M9 shape: unscaled int + implied scale 2).
    Filters and the 5-column projection push into the parquet scan."""
    o = _t(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("price_cents"),
        F.year("o_orderdate").alias("order_year"),
    )


@_register(
    "f4_exists_semijoin",
    """
    SELECT o.o_orderstatus, COUNT(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o.o_orderstatus
    """,
)
def f4_exists_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 analog (`votes`: has-any-matching-child): left-semi join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_register(
    "f6_anti_join",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c.c_mktsegment
    """,
)
def f6_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (absent in the reference, free in Spark — SURVEY §2.3):
    customers with no URGENT-priority order, per segment. The urgent
    filter makes the check non-vacuous at every fixture scale (every
    customer has SOME order, so the unfiltered anti-join was 0 rows —
    18/203/1986 customers qualify at sf0.001/0.01/0.1) and pushes a
    predicate below the anti-join build side."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "a9_conditional_rollup",
    """
    SELECT YEAR(o_orderdate) AS order_year,
           COUNT(*) AS num_orders,
           CAST(COUNT_IF(o_orderstatus = 'F') AS BIGINT) AS num_finished,
           CAST(COUNT_IF(o_orderstatus = 'O') AS BIGINT) AS num_open,
           CAST(COUNT_IF(o_orderpriority = '1-URGENT') AS BIGINT) AS num_urgent,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT) AS finished_value_e4,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    GROUP BY YEAR(o_orderdate)
    """,
)
def a9_conditional_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 analog (block_info): one group-by with conditional aggregates over
    partitions of the data — exactly the blocks-task shape.

    ``finished_value_e4`` is the money sum as an unscaled fixed-point BIGINT
    (value x 10^4, the reference's NumberWithScale persistence style —
    TransformTask.py:143-144), so the checked output carries no float at all.

    The r1/r2 driver hash-red on this query was a result-TYPE mismatch, not
    value drift: DuckDB's ``COUNT_IF`` returns HUGEINT (int128) while Spark
    emits int64, and the driver's value hash is type-sensitive. The oracle
    now CASTs each conditional count to BIGINT (same class of fix as
    solana_e2e's ``list_sum`` columns)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.year("o_orderdate").alias("order_year")).agg(
        F.count(F.lit(1)).alias("num_orders"),
        F.count_if(F.col("o_orderstatus") == "F").alias("num_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("num_open"),
        F.count_if(F.col("o_orderpriority") == "1-URGENT").alias("num_urgent"),
        (
            F.sum(
                F.when(
                    F.col("o_orderstatus") == "F", F.col("o_totalprice").cast(DEC)
                ).otherwise(F.lit(0).cast(DEC))
            )
            * 10000
        )
        .cast("long")
        .alias("finished_value_e4"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@_register(
    "m1_balance_modes",
    """
    SELECT user_id,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS net_change,
           CAST(SUM(CASE WHEN value > 0 THEN CAST(value AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS change_in,
           CAST(SUM(CASE WHEN value < 0 THEN CAST(value AS DECIMAL(18,4)) ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS change_out,
           CAST(SUM(CAST(ABS(value) AS DECIMAL(18,4))) AS DOUBLE) AS change_abs
    FROM events
    GROUP BY user_id
    """,
)
def m1_balance_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1/A3: the BalanceChangeAgg ALL/IN/OUT/ABS modes as one aggregate."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast(DEC)
    zero = F.lit(0).cast(DEC)
    return e.groupBy("user_id").agg(
        F.sum(v).cast("double").alias("net_change"),
        F.sum(F.when(F.col("value") > 0, v).otherwise(zero))
        .cast("double")
        .alias("change_in"),
        F.sum(F.when(F.col("value") < 0, v).otherwise(zero))
        .cast("double")
        .alias("change_out"),
        F.sum(F.abs(F.col("value")).cast(DEC)).cast("double").alias("change_abs"),
    )


@_register(
    "j2_full_outer_coalesce",
    """
    WITH pre AS (SELECT user_id, COUNT(*) AS n_pre,
                        CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_pre
                 FROM events WHERE event_type = 'view' GROUP BY user_id),
         post AS (SELECT user_id, COUNT(*) AS n_post,
                         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v_post
                  FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT COALESCE(pre.user_id, post.user_id) AS user_id,
           COALESCE(n_pre, 0) AS n_pre,
           COALESCE(n_post, 0) AS n_post,
           COALESCE(v_post, v_pre) AS primary_value,
           (post.user_id IS NOT NULL) AS has_post
    FROM pre FULL OUTER JOIN post ON pre.user_id = post.user_id
    """,
)
def j2_full_outer_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 analog: the token pre/post full-outer join with missing-side zero
    fill and post-precedence coalesce."""
    e = _t(spark, sf_dir, "events")
    v = F.col("value").cast(DEC)
    pre = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pre"), F.sum(v).cast("double").alias("v_pre"))
    )
    post = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_post"), F.sum(v).cast("double").alias("v_post"))
    )
    p, q = pre.alias("pre"), post.alias("post")
    return p.join(q, F.col("pre.user_id") == F.col("post.user_id"), "full_outer").select(
        F.coalesce(F.col("pre.user_id"), F.col("post.user_id")).alias("user_id"),
        F.coalesce(F.col("n_pre"), F.lit(0)).alias("n_pre"),
        F.coalesce(F.col("n_post"), F.lit(0)).alias("n_post"),
        F.coalesce(F.col("v_post"), F.col("v_pre")).alias("primary_value"),
        F.col("post.user_id").isNotNull().alias("has_post"),
    )


@_register(
    "j6_asof_join",
    """
    WITH v AS (
        SELECT user_id, ts, MAX(event_id) AS view_id
        FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id AS click_id, c.user_id, v.view_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
    FROM c ASOF JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def j6_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent in reference and in Spark's join types — SURVEY
    §2.3): attribute each click to the user's most recent earlier-or-equal
    view. Union + running-window formulation (operators/asof.py): one
    shuffle by user_id, linear in input — vs the quadratic range-join
    naive form. Views pre-deduped to one per (user, ts) so the tie-break
    is deterministic in both engines; oracle is DuckDB's native ASOF JOIN.
    """
    from solana_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_id"))
        .withColumn("view_ts", F.col("ts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    return asof_join(
        clicks, views, keys=["user_id"], left_ts="ts", right_ts="ts"
    ).select(
        "click_id",
        "user_id",
        "view_id",
        (F.unix_micros("ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


@_register(
    "j10_asof_forward",
    """
    WITH p AS (
        SELECT user_id, ts, MAX(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
    ),
    c AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id AS click_id, c.user_id, p.purchase_id,
           epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
    FROM c ASOF JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
    """,
)
def j10_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: attribute each click to the user's NEXT
    purchase at-or-after it (time-to-conversion) — the mirror direction of
    j6, same single-shuffle union + running-window plan ordered by
    descending timestamp (operators/asof.py direction='forward'). Oracle:
    DuckDB's native forward ASOF JOIN (l.ts <= r.ts)."""
    from solana_etl_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
        .withColumn("purchase_ts", F.col("ts"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", "ts"
    )
    return asof_join(
        clicks,
        purchases,
        keys=["user_id"],
        left_ts="ts",
        right_ts="ts",
        direction="forward",
    ).select(
        "click_id",
        "user_id",
        "purchase_id",
        (F.unix_micros("purchase_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


@_register(
    "j7_range_join",
    f"""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM e
    ),
    iv AS (
        SELECT user_id, session_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM s GROUP BY user_id, session_id
    ),
    err AS (SELECT event_id, ts FROM events WHERE event_type = 'error')
    SELECT err.event_id, COUNT(*) AS n_active_sessions
    FROM err JOIN iv ON err.ts >= iv.start_ts AND err.ts <= iv.end_ts
    GROUP BY err.event_id
    """,
)
def j7_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/interval join (absent in reference — SURVEY §2.3): for each
    error event, how many sessions (any user) were active at that instant.
    Spark side uses the bucketized equi-join (operators/rangejoin.py) —
    hash join on time bucket + exact containment filter — where the naive
    BETWEEN join would be a cartesian BNLJ. Oracle: DuckDB's native
    inequality (IE) join.
    """
    from solana_etl_spark.operators.rangejoin import interval_point_join
    from solana_etl_spark.operators.sessionize import session_intervals

    ev = _t(spark, sf_dir, "events")
    iv = session_intervals(ev).select(
        F.col("user_id").alias("s_user"), "session_id", "start_ts", "end_ts"
    )
    err = ev.filter(F.col("event_type") == "error").select("event_id", "ts")
    return (
        interval_point_join(err, iv, "ts", "start_ts", "end_ts", bucket_seconds=3600)
        .groupBy("event_id")
        .agg(F.count(F.lit(1)).alias("n_active_sessions"))
    )


@_register(
    "j9_interval_overlap",
    f"""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events WHERE user_id < 20
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM e
    ),
    iv AS (
        SELECT user_id, session_id, MIN(ts) AS start_ts, MAX(ts) AS end_ts
        FROM s GROUP BY user_id, session_id
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS n_overlaps
    FROM iv a JOIN iv b
      ON a.user_id < b.user_id
     AND a.start_ts <= b.end_ts AND b.start_ts <= a.end_ts
    GROUP BY 1, 2
    """,
)
def j9_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval OVERLAP join (the sibling of j7's point-in-interval
    join): per user pair, how many of their sessions ran concurrently.
    Spark side is the bucketized equi-join with exactly-once
    report-at-first-overlap-bucket emission (operators/rangejoin.py
    interval_overlap_join) — a hash join on time bucket where the naive
    inequality join plans a cartesian BNLJ. Oracle: DuckDB's native IE
    join over the same session intervals."""
    from solana_etl_spark.operators.rangejoin import interval_overlap_join
    from solana_etl_spark.operators.sessionize import session_intervals

    iv = session_intervals(
        _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    )
    a = iv.select(
        F.col("user_id").alias("user_a"),
        F.col("start_ts").alias("start_a"),
        F.col("end_ts").alias("end_a"),
    )
    b = iv.select(
        F.col("user_id").alias("user_b"),
        F.col("start_ts").alias("start_b"),
        F.col("end_ts").alias("end_b"),
    )
    return (
        interval_overlap_join(
            a, b, "start_a", "end_a", "start_b", "end_b", bucket_seconds=3600
        )
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count(F.lit(1)).alias("n_overlaps"))
    )


@_register(
    "m8_bucket_rollup",
    """
    SELECT (event_id // 1000) * 1000 AS bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1
    """,
)
def m8_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8/S5: slot-bucketing (`slot // N * N`) as a group key."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        (F.floor(F.col("event_id") / 1000) * 1000).alias("bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


@_register(
    "w1_topk_per_group",
    """
    SELECT c_mktsegment, o_orderkey, o_totalprice_cents, rk FROM (
        SELECT c.c_mktsegment, o.o_orderkey,
               CAST(CAST(o.o_totalprice AS DECIMAL(18,4)) * 100 AS BIGINT) AS o_totalprice_cents,
               ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                  ORDER BY o.o_totalprice DESC, o.o_orderkey ASC) AS rk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ) WHERE rk <= 3
    """,
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window top-k per group (SURVEY §2.8 extension surface)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_mktsegment",
            "o_orderkey",
            (F.col("o_totalprice").cast(DEC) * 100).cast("long").alias("o_totalprice_cents"),
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 3)
    )


@_register(
    "w2_running_total",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
    FROM orders WHERE o_custkey <= 100
    """,
)
def w2_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative aggregate (windowed prefix sum), exact decimals."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast(DEC)).over(w).cast("double").alias("running_value"),
    )


@_register(
    "set_ops",
    """
    SELECT custkey, 'both' AS tag FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    UNION ALL
    SELECT custkey, 'building_only' AS tag FROM (
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL (absent in reference, SURVEY §2.8)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return building.intersect(urgent).select(
        "custkey", F.lit("both").alias("tag")
    ).unionAll(
        building.exceptAll(urgent).distinct().select(
            "custkey", F.lit("building_only").alias("tag")
        )
    )


@_register(
    "a12_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS grouping_level
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a12_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (grouping sets family — absent in the
    reference, free in Spark; SURVEY §2.4 'absent' row)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("long")
        .alias("grouping_level"),
    )


@_register(
    "a16_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS grouping_level
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def a16_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority): all 2^n grouping sets in ONE pass —
    Spark expands the sets before the exchange, so it stays a single shuffle
    (vs. n separate group-bys + union)."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_value"),
        (F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority"))
        .cast("long")
        .alias("grouping_level"),
    )


@_register(
    "w3_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER w AS prev_orderkey,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           DATEDIFF('day',
                    LAG(o_orderdate) OVER w,
                    o_orderdate) AS days_since_prev
    FROM orders WHERE o_custkey <= 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic offset functions (lag/lead — SURVEY §2.8 'absent in ref').
    One window spec → one sort within one shuffle; the day-diff on the
    lagged date is the sessionize-adjacent 'time since previous event'
    pattern."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).cast("long").alias("days_since_prev"),
    )


@_register(
    "w4_range_window",
    # RANGE frame keyed on epoch seconds (not ROWS): the trailing-10-minute
    # moving aggregate every event-time pipeline needs; ties in ts share one
    # frame, which ROWS frames get wrong.
    """
    SELECT user_id, event_id,
           epoch(ts) AS ts_sec,
           COUNT(*) OVER w AS n_10min,
           ROUND(SUM(value) OVER w, 6) AS sum_10min
    FROM events
    WHERE user_id <= 20
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                 RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
    """,
)
def w4_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE-frame window (trailing 10-minute moving count/sum
    per user): ``rangeBetween`` on epoch seconds — one shuffle on user_id,
    sort within partition, frame by VALUE distance so same-timestamp events
    share a frame."""
    e = _t(spark, sf_dir, "events").filter(F.col("user_id") <= 20)
    ts_sec = (F.unix_micros("ts") / F.lit(1_000_000)).cast("double")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_sec)
        .rangeBetween(-600, 0)
    )
    return e.select(
        "user_id",
        "event_id",
        ts_sec.alias("ts_sec"),
        F.count(F.lit(1)).over(w).alias("n_10min"),
        F.round(F.sum("value").over(w), 6).alias("sum_10min"),
    )


@_register(
    "q17_small_qty_revenue",
    """
    WITH part_avg AS (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
               COUNT(*) AS cnt
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS small_qty_revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN part_avg a ON l.l_partkey = a.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,4)) * 2 * a.cnt < a.sum_qty
    GROUP BY p.p_brand
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape: scalar correlated subquery ('quantity below half this
    part's average') decorrelated into a join against a per-part aggregate —
    the Spark-first form (Catalyst decorrelates to exactly this). The
    threshold test is decimal-exact (qty·2·cnt < Σqty) so both engines agree
    on boundary rows; the per-part aggregate is a partial-agg shuffle on the
    same key as the join, and at scale the part dim broadcasts."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    qty = F.col("l_quantity").cast(DEC)
    part_avg = li.groupBy("l_partkey").agg(
        F.sum(qty).alias("sum_qty"), F.count(F.lit(1)).alias("cnt")
    )
    return (
        li.join(part_avg.withColumnRenamed("l_partkey", "pa_key"),
                F.col("l_partkey") == F.col("pa_key"))
        .filter(qty * 2 * F.col("cnt") < F.col("sum_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast(DEC))
            .cast("double")
            .alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "t3_explode_json",
    # rotated out of the driver 50 late-r6 (x1_semantic_extract covers the
    # same JSON-path parse there); stays under the local gate
    """
    SELECT event_type,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type, CAST(json_extract(props, '$.k') AS BIGINT)
    """,
)
def t3_explode_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5/T3 analog: JSON-in-string column parsed and grouped (the reference
    serializes nested values to JSON strings; here we read them back)."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.get_json_object("props", "$.k").cast("long").alias("k"),
    ).agg(F.count(F.lit(1)).alias("n"))


@_register(
    "x1_semantic_extract",
    """
    SELECT event_id, user_id AS source,
           CAST(json_extract(props, '$.k') AS BIGINT) AS destination,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents,
           CAST(2 AS TINYINT) AS scale
    FROM events
    WHERE event_type = 'purchase' AND value > 0
    """,
)
def x1_semantic_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1–X3 analog: filter a typed event stream and project a transfer-shaped
    record (source, destination, fixed-point value at scale 2)."""
    e = _t(spark, sf_dir, "events")
    return e.filter((F.col("event_type") == "purchase") & (F.col("value") > 0)).select(
        "event_id",
        F.col("user_id").alias("source"),
        F.get_json_object("props", "$.k").cast("long").alias("destination"),
        F.round(F.col("value") * 100, 0).cast("long").alias("value_cents"),
        F.lit(2).cast("tinyint").alias("scale"),
    )


@_register(
    "a13_percentiles",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 6) AS p90,
           ROUND(MIN(o_totalprice), 6) AS min_price,
           ROUND(MAX(o_totalprice), 6) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def a13_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation — identical definition in
    both engines). The approx_percentile variant exists for the 100 TB path
    but can't be oracle-matched, so the exact form is the checked one."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.expr("percentile(o_totalprice, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(o_totalprice, 0.9)"), 6).alias("p90"),
        F.round(F.min("o_totalprice"), 6).alias("min_price"),
        F.round(F.max("o_totalprice"), 6).alias("max_price"),
    )


@_register(
    "m11_string_funcs",
    """
    SELECT upper(substr(p_type, 1, 5)) AS type_prefix,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           COUNT(*) AS n_parts,
           MAX(length(p_name)) AS max_name_len
    FROM part
    GROUP BY 1, 2
    """,
)
def m11_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (upper/substring/regexp_extract/length) —
    'free in Spark' per SURVEY §2.7 'absent' row."""
    p = _t(spark, sf_dir, "part")
    return p.groupBy(
        F.upper(F.substring("p_type", 1, 5)).alias("type_prefix"),
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
    ).agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.max(F.length("p_name")).alias("max_name_len"),
    )


@_register(
    "m12_date_funcs",
    """
    SELECT YEAR(o_orderdate) AS y, MONTH(o_orderdate) AS m,
           CAST(isodow(o_orderdate) AS INT) AS first_seen_dow,
           COUNT(*) AS n
    FROM orders
    WHERE o_orderdate = date_trunc('month', o_orderdate)
    GROUP BY 1, 2, 3
    """,
)
def m12_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: trunc comparison + ISO day-of-week
    (Spark weekday()+1 ≡ DuckDB isodow)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(F.col("o_orderdate") == F.date_trunc("month", F.col("o_orderdate")))
        .groupBy(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("m"),
            (F.weekday("o_orderdate") + 1).cast("int").alias("first_seen_dow"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# 2. Dedup family (charter §2.11)
# ---------------------------------------------------------------------------

_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_TOKENS_SQL = "string_split_regex(lower(trim(text)), '\\s+')"
_WS = "string_split_regex(lower(trim(text)), '\\s+')"
_SHINGLES_SQL = (
    f"list_distinct([ {_WS}[i] || ' ' || {_WS}[least(i + 1, len({_WS}))] "
    f"for i in generate_series(1, greatest(len({_WS}) - 1, 1)) ])"
)
_NGRAMS_SQL = (
    "list_distinct([ substr(lower(trim(text)), i, 3) "
    "for i in generate_series(1, greatest(length(lower(trim(text))) - 2, 1)) ])"
)


@_register(
    "dedup_exact",
    f"""
    SELECT {hash64_sql(_NORM_SQL)} AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def _bloom_oracle() -> str:
    """Mirror of operators/sketch.py bloom_build/bloom_probe: the same
    double-hashed positions (Kirsch-Mitzenmacher over the portable md5
    hash32), the same 63-bit words, the same BIT_OR/bool_and — the exact
    false-positive set is part of the contract."""
    from solana_etl_spark.functions.hashing import PERM32_P
    from solana_etl_spark.operators.sketch import (
        BLOOM_M_BITS,
        BLOOM_N_HASHES,
    )

    h = hash32_sql("key")
    base = (
        f"SELECT key, {h} % {BLOOM_M_BITS} AS h1, "
        f"(({h} * 1048573 + 40503) % {PERM32_P}) | 1 AS h2"
    )
    return f"""
    WITH bk AS (
        SELECT DISTINCT {_NORM_SQL} AS key FROM documents
        WHERE doc_id % 2 = 0 AND text IS NOT NULL
    ),
    pk AS (
        SELECT DISTINCT {_NORM_SQL} AS key FROM documents
        WHERE text IS NOT NULL
    ),
    ii AS (SELECT unnest(generate_series(0, {BLOOM_N_HASHES - 1})) AS i),
    bpos AS (
        SELECT (h1 + i * h2 + i * i) % {BLOOM_M_BITS} AS p
        FROM ({base} FROM bk) CROSS JOIN ii
    ),
    bloom AS (
        SELECT p // 63 AS word_idx,
               CAST(BIT_OR(CAST(1 AS BIGINT) << CAST(p % 63 AS INT))
                    AS BIGINT) AS word
        FROM bpos GROUP BY 1
    ),
    ppos AS (
        SELECT key, (h1 + i * h2 + i * i) % {BLOOM_M_BITS} AS p
        FROM ({base} FROM pk) CROSS JOIN ii
    )
    SELECT key,
           bool_and(b.word IS NOT NULL
                    AND (b.word & (CAST(1 AS BIGINT) << CAST(p % 63 AS INT)))
                        <> 0) AS maybe_member
    FROM ppos LEFT JOIN bloom b ON b.word_idx = p // 63
    GROUP BY key
    """


@_register("dedup_bloom_probe", _bloom_oracle())
def dedup_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (operators/sketch.py
    bloom_build/bloom_probe): the filter is built over the even-doc_id
    half of the corpus's normalized texts and probed with EVERY distinct
    normalized text — guaranteed-hit members, definite-miss novel rows,
    and the hash-determined false positives, all mirrored bit-for-bit by
    the oracle. The 100 TB posture: the bitmap (≤ m_bits/63 rows)
    BROADCASTS where an exact membership index would shuffle the whole
    probe side; FALSE proves novelty, so only maybe-members continue to
    the exact anti-join."""
    from solana_etl_spark.operators.sketch import bloom_build, bloom_probe

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    key = dedup.normalized_text().alias("key")
    build = docs.filter(F.col("doc_id") % 2 == 0).select(key).distinct()
    probe = docs.select(key).distinct()
    return bloom_probe(probe, bloom_build(build))


def _minhash_oracle(k: int) -> str:
    cols = ",\n           ".join(
        f"{minhash_sql(_SHINGLES_SQL, i)} AS h{i}" for i in range(k)
    )
    return f"SELECT doc_id,\n           {cols}\n    FROM documents"


# The k signature expressions here are the identical minhash_sql exprs the
# registered dedup_minhash_lsh_pairs oracle builds its sigs CTE from, and
# the Spark side is the same minhash_signatures() the pairs query composes.
@_register("dedup_minhash_signatures", _minhash_oracle(dedup.MINHASH_K))
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_signatures(_t(spark, sf_dir, "documents"))


def _lsh_bands_cte(k: int, band_rows: int) -> str:
    """sigs/bands CTE bodies — the shared prefix of every minhash-LSH
    oracle. Star-edge/bucket-min oracles use this ALONE (no quadratic
    pair expansion — the very thing the star-edge operator avoids).
    ``sig`` mirrors the Spark side's 8-byte hash64 of the band tuple
    (operators/dedup.py lsh_bands r8) — identical md5 recipe, so any
    hash collision merges the same buckets on both engines."""
    n_bands = k // band_rows
    sig_cols = ",\n               ".join(
        f"{minhash_sql(_SHINGLES_SQL, i)} AS h{i}" for i in range(k)
    )
    band_rows_sql = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM sigs".format(
            b=b,
            sig=hash64_sql(
                " || ',' || ".join(
                    f"CAST(h{b * band_rows + r} AS VARCHAR)"
                    for r in range(band_rows)
                )
            ),
        )
        for b in range(n_bands)
    )
    return f"""sigs AS (
        SELECT doc_id,
               {sig_cols}
        FROM documents
    ),
    bands AS ({band_rows_sql})"""


def _lsh_pairs_cte(k: int, band_rows: int, materialized: bool = False) -> str:
    """sigs/bands/pairs CTE bodies shared by the pairs and clusters oracles.

    ``materialized`` forces DuckDB to evaluate pairs once — essential under a
    recursive CTE, which otherwise re-runs the whole minhash chain every
    recursion step (measured 49s → <1s on the clusters oracle at sf0.01).
    """
    return f"""{_lsh_bands_cte(k, band_rows)},
    pairs AS {"MATERIALIZED " if materialized else ""}(
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )"""


def _lsh_pairs_oracle(k: int, band_rows: int) -> str:
    return f"""
    WITH {_lsh_pairs_cte(k, band_rows)}
    SELECT doc_a, doc_b FROM pairs
    """


def _clusters_oracle(k: int, band_rows: int) -> str:
    # ground truth = transitive closure of the pair graph: min reachable
    # doc_id per node via a recursive CTE (UNION dedups → terminates).
    return f"""
    WITH RECURSIVE {_lsh_pairs_cte(k, band_rows, materialized=True)},
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id
    FROM reach GROUP BY node
    """


@_register(
    "dedup_minhash_lsh_pairs",
    _lsh_pairs_oracle(dedup.MINHASH_K, dedup.LSH_BAND_ROWS),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def _lsh_jaccard_oracle(k: int, band_rows: int, threshold: float) -> str:
    ji = (
        "ROUND(len(list_intersect(a.grams, b.grams)) / "
        "(len(a.grams) + len(b.grams)"
        " - len(list_intersect(a.grams, b.grams))), 6)"
    )
    return f"""
    WITH {_lsh_pairs_cte(k, band_rows)},
    g AS (SELECT doc_id, lang, source, {_NGRAMS_SQL} AS grams
          FROM documents)
    SELECT p.doc_a, p.doc_b, {ji} AS jaccard
    FROM pairs p
    JOIN g a ON p.doc_a = a.doc_id
    JOIN g b ON p.doc_b = b.doc_id
    WHERE a.lang IS NOT DISTINCT FROM b.lang
      AND a.source IS NOT DISTINCT FROM b.source
      AND {ji} >= {threshold}
    """


@_register(
    "dedup_lsh_jaccard",
    _lsh_jaccard_oracle(
        dedup.MINHASH_K, dedup.LSH_BAND_ROWS, dedup.JACCARD_THRESHOLD
    ),
)
def dedup_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard VALUES on MinHash-LSH candidates
    (operators/dedup.py lsh_jaccard_pairs) — the 100 TB pair-mining
    formulation for corpora whose gram-frequency skew makes the exact
    inverted index explode (measured: 1.15B candidate rows on a 50k-doc
    Zipf corpus vs 313k LSH candidates). Candidate volume tracks true
    near-dup density; every emitted value is exact; recall is the LSH
    band recall."""
    return dedup.lsh_jaccard_pairs(_t(spark, sf_dir, "documents"))


def _dup_spans_ctes(w: int) -> str:
    h = hash64_sql(f"array_to_string(list_slice(t, i, i + {w} - 1), ' ')")
    return f"""toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ),
    win AS (
        SELECT doc_id, i - 1 AS pos, {h} AS h
        FROM (SELECT doc_id, t, unnest(generate_series(1, len(t) - {w} + 1)) AS i
              FROM toks WHERE len(t) >= {w})
    ),
    dup AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) >= 2),
    hits AS (SELECT doc_id, pos FROM win JOIN dup USING (h)),
    isl AS (
        SELECT doc_id, pos,
               CASE WHEN pos > COALESCE(MAX(pos + {w}) OVER (
                        PARTITION BY doc_id ORDER BY pos
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                    THEN 1 ELSE 0 END AS ni
        FROM hits
    ),
    isl2 AS (SELECT doc_id, pos,
                    SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
             FROM isl)"""


def _dup_spans_oracle(w: int) -> str:
    return f"""
    WITH {_dup_spans_ctes(w)}
    SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
           CAST(MAX(pos) + {w} AS BIGINT) AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_windows
    FROM isl2 GROUP BY doc_id, island
    """


def _strip_spans_oracle(w: int) -> str:
    return f"""
    WITH {_dup_spans_ctes(w)},
    spans AS (
        SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {w} AS span_end
        FROM isl2 GROUP BY doc_id, island
    ),
    tokpos AS (
        SELECT doc_id, n_tokens, i - 1 AS pos, t[i] AS tok
        FROM (SELECT doc_id, t, len(t) AS n_tokens,
                     unnest(generate_series(1, len(t))) AS i
              FROM toks)
    ),
    marked AS (
        SELECT tp.*,
               EXISTS (SELECT 1 FROM spans s
                       WHERE s.doc_id = tp.doc_id
                         AND tp.pos >= s.span_start
                         AND tp.pos < s.span_end) AS covered
        FROM tokpos tp
    )
    SELECT doc_id,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) FILTER (WHERE covered) AS BIGINT) AS n_dup_tokens,
           COALESCE(array_to_string(
               list(tok ORDER BY pos) FILTER (WHERE NOT covered), ' '),
               '') AS text_stripped
    FROM marked GROUP BY doc_id
    """


@_register("text_strip_dup_spans", _strip_spans_oracle(dedup.SPAN_W))
def text_strip_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The removal half of substring dedup (operators/dedup.py
    strip_duplicated_spans — Lee et al. 2022): every token covered by a
    duplicated span dropped, survivors rejoined in order, with per-doc
    duplicated-token accounting. The strip is a per-row codegen array
    filter on top of the span table's shuffles."""
    return dedup.strip_duplicated_spans(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_containment_pairs",
    f"""
    WITH grams AS (
        SELECT doc_id, lang, source, unnest({_NGRAMS_SQL}) AS ngram
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM grams a JOIN grams b
          ON a.ngram = b.ngram AND a.lang IS NOT DISTINCT FROM b.lang
             AND a.source IS NOT DISTINCT FROM b.source
             AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter / least(sa.n_grams, sb.n_grams), 6) AS containment
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(n_inter / least(sa.n_grams, sb.n_grams), 6)
          >= {dedup.CONTAINMENT_THRESHOLD}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup pairs by Broder containment
    (operators/dedup.py ngram_containment_pairs): |A∩B| / min(|A|,|B|) —
    catches a document contained in one much larger (quoted article,
    chrome-wrapped copy) whose Jaccard is diluted below any useful
    threshold by the big side's union. Same exact single-scan inverted
    index as the Jaccard scorer; deliberately not LSH-seeded (minhash
    bands are Jaccard-tuned and rarely collide on small-in-big pairs)."""
    return dedup.ngram_containment_pairs(_t(spark, sf_dir, "documents"))


@_register("dedup_exact_spans", _dup_spans_oracle(dedup.SPAN_W))
def dedup_exact_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate spans (operators/dedup.py
    duplicated_spans — Lee et al. 2022): maximal token spans covered by a
    w-token window occurring ≥ 2 times corpus-wide, the removal set of
    substring-level dedup that document-level exact/MinHash dedup can't
    see (templated/quoted passages inside otherwise-unique docs). One
    16-byte-hash count shuffle + a doc-bounded gaps-and-islands window."""
    return dedup.duplicated_spans(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_clusters",
    _clusters_oracle(dedup.MINHASH_K, dedup.LSH_BAND_ROWS),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup capstone: LSH collision graph → transitive duplicate clusters
    (iterative min-label propagation; oracle is a recursive-CTE closure).
    A~B, B~C ⇒ one cluster keyed by its min doc_id even when A,C never
    collide directly — what a drop-duplicates pass actually needs.
    CC is fed per-bucket STAR edges (dedup.lsh_star_edges: doc →
    bucket-min, O(N·bands) rows), not the quadratic all-pairs expansion —
    identical components (bucket co-membership is an equivalence
    generator), linear edge volume on boilerplate-heavy corpora."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.connected_components(dedup.lsh_star_edges(docs))


def _star_edges_oracle(k: int, band_rows: int) -> str:
    # bands-only prefix: the star-edge oracle must not carry the
    # quadratic pairs CTE the operator exists to avoid
    return f"""
    WITH {_lsh_bands_cte(k, band_rows)},
    bmin AS (
        SELECT band, sig, MIN(doc_id) AS m FROM bands GROUP BY band, sig
    )
    SELECT DISTINCT bmin.m AS doc_a, b.doc_id AS doc_b
    FROM bands b JOIN bmin ON b.band = bmin.band AND b.sig = bmin.sig
    WHERE b.doc_id > bmin.m
    """


@_register(
    "dedup_star_edges",
    _star_edges_oracle(dedup.MINHASH_K, dedup.LSH_BAND_ROWS),
)
def dedup_star_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket STAR edges of the LSH collision graph (operators/
    dedup.py lsh_star_edges): doc → bucket-min per (band, sig), the
    LINEAR edge list the cluster family feeds to connected components —
    O(N·bands) rows where the all-pairs expansion is Σ C(bucket, 2).
    Oracled directly so the bench scaling decades can record edge
    volume next to pair volume."""
    return dedup.lsh_star_edges(_t(spark, sf_dir, "documents"))


def _keepers_oracle(k: int, band_rows: int) -> str:
    return f"""
    WITH RECURSIVE {_lsh_pairs_cte(k, band_rows, materialized=True)},
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    clusters AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    member AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               len({_TOKENS_SQL}) AS nt
        FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
    ),
    keep AS (
        SELECT cluster_id, doc_id AS keeper_doc_id FROM (
            SELECT cluster_id, doc_id,
                   row_number() OVER (
                       PARTITION BY cluster_id ORDER BY nt DESC, doc_id
                   ) AS rn
            FROM member
        ) WHERE rn = 1
    )
    SELECT m.doc_id, m.cluster_id, k.keeper_doc_id,
           m.doc_id = k.keeper_doc_id AS is_keeper
    FROM member m JOIN keep k USING (cluster_id)
    """


@_register(
    "dedup_keepers_by_quality",
    _keepers_oracle(dedup.MINHASH_K, dedup.LSH_BAND_ROWS),
)
def dedup_keepers_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware keeper selection (operators/dedup.py
    keepers_by_quality): within each near-duplicate cluster keep the
    LONGEST version (most tokens, tie → smallest doc_id) instead of the
    min-id — what a cleaning pipeline actually wants (the un-truncated
    variant), chosen by one max-struct aggregate per cluster with no
    per-cluster sort. Oracle: recursive-CTE closure + rank window."""
    return dedup.keepers_by_quality(_t(spark, sf_dir, "documents"))


def _lsh_eval_oracle(k: int, band_rows: int, threshold: float) -> str:
    return f"""
    WITH {_lsh_pairs_cte(k, band_rows, materialized=True)},
    sh AS MATERIALIZED (
        SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ni
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE ROUND(ni / (sa.n + sb.n - ni), 6) >= {threshold}
    ),
    j AS (
        SELECT t.doc_a IS NOT NULL AS is_true, p.doc_a IS NOT NULL AS is_cand
        FROM truth t FULL OUTER JOIN pairs p
          ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b
    )
    SELECT CAST(COALESCE(SUM(CASE WHEN is_true THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_truth,
           CAST(COALESCE(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_candidates,
           CAST(COALESCE(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_hits,
           ROUND(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END)
                 / SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 6) AS precision,
           ROUND(SUM(CASE WHEN is_true AND is_cand THEN 1 ELSE 0 END)
                 / SUM(CASE WHEN is_true THEN 1 ELSE 0 END), 6) AS recall
    FROM j
    """


@_register(
    "dedup_lsh_eval",
    _lsh_eval_oracle(
        dedup.MINHASH_K, dedup.LSH_BAND_ROWS, dedup.LSH_EVAL_THRESHOLD
    ),
)
def dedup_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall of the minhash-LSH banding against exact
    shingle-Jaccard ground truth (operators/dedup.py lsh_eval) — the
    measurement that justifies a (k, bands) operating point before
    trusting the dedup index, the same way ann_recall_eval validates
    nprobe. Exact truth is the audit path: at corpus scale it runs on a
    hash_sample, never the full corpus."""
    return dedup.lsh_eval(_t(spark, sf_dir, "documents"))


def _simhash_expr_sql(bits: int) -> str:
    h = hash64_sql("t")
    terms = []
    for b in range(bits):
        bit_sum = (
            f"list_sum(list_transform(list_distinct({_TOKENS_SQL}), "
            f"t -> (({h} >> {b}) & 1) * 2 - 1))"
        )
        terms.append(f"(CASE WHEN {bit_sum} > 0 THEN {1 << b} ELSE 0 END)")
    return " + ".join(terms)


@_register(
    "dedup_simhash",
    f"""
    SELECT doc_id, CAST({_simhash_expr_sql(dedup.SIMHASH_BITS)} AS BIGINT) AS simhash
    FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_simhash_pairs",
    # The oracle is the GROUND-TRUTH all-pairs definition; the Spark plan is
    # multi-band hamming-LSH, which provably returns the same set because
    # SIMHASH_MAX_HAMMING < SIMHASH_BANDS (pigeonhole — see operators/dedup.py).
    f"""
    WITH s AS (
        SELECT doc_id,
               CAST({_simhash_expr_sql(dedup.SIMHASH_BITS)} AS BIGINT) AS simhash
        FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {dedup.SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_t(spark, sf_dir, "documents"))


@_register(
    "dedup_ngram_jaccard",
    f"""
    WITH grams AS (
        SELECT doc_id, lang, source, unnest({_NGRAMS_SQL}) AS ngram
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
        FROM grams a JOIN grams b
          ON a.ngram = b.ngram AND a.lang IS NOT DISTINCT FROM b.lang
             AND a.source IS NOT DISTINCT FROM b.source
             AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE ROUND(n_inter / (sa.n_grams + sb.n_grams - n_inter), 6) >= {dedup.JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIT-SCALE exact-recall Jaccard ground truth (operators/dedup.py
    ngram_jaccard_pairs): the oracle you validate dedup_lsh_jaccard's
    recall against on a sample — NOT a corpus-scale miner. Its pair
    stream is Σ C(df,2)-bound, and the operator now raises above a 100M
    candidate estimate unless force=True (pass-through here: the sf0.1
    fixture streams ~10M). Production near-dup paths: dedup_lsh_jaccard
    / CorpusPipeline.dedup_near's drop set."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def _quality_cond_sql() -> str:
    return (
        f"len({_TOKENS_SQL}) >= 10"
        " AND ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[^\\w\\s]', '', 'g'))) / length(trim(text)), 6) <= 0.2"
        " AND ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[0-9]', '', 'g'))) / length(trim(text)), 6) <= 0.3"
    )


def _clean_corpus_ctes(src: str) -> str:
    """The quality/exact-dedup/LSH CTE block over corpus table ``src``:
    defines sigs, bands, pairs, keepers, quality (shared by
    pipeline_clean_corpus and the pretraining capstone)."""
    k, band_rows = dedup.MINHASH_K, dedup.LSH_BAND_ROWS
    n_bands = k // band_rows
    sig_cols = ",\n               ".join(
        f"{minhash_sql(_SHINGLES_SQL, i)} AS h{i}" for i in range(k)
    )
    band_rows_sql = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, {sig} AS sig FROM sigs".format(
            b=b,
            sig=hash64_sql(
                " || ',' || ".join(
                    f"CAST(h{b * band_rows + r} AS VARCHAR)"
                    for r in range(band_rows)
                )
            ),
        )
        for b in range(n_bands)
    )
    return f"""
    sigs AS (SELECT doc_id, {sig_cols} FROM {src}),
    bands AS ({band_rows_sql}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM {src}
                GROUP BY {hash64_sql(_NORM_SQL)}),
    quality AS (SELECT doc_id FROM {src} WHERE {_quality_cond_sql()})
    """


def _clean_corpus_oracle() -> str:
    return f"""
    WITH {_clean_corpus_ctes("documents")}
    SELECT q.doc_id FROM quality q
    WHERE q.doc_id IN (SELECT doc_id FROM keepers)
      AND q.doc_id NOT IN (SELECT doc_b FROM pairs)
    """


@_register("pipeline_clean_corpus", _clean_corpus_oracle())
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline: quality filter →
    exact-dedup keepers → near-dup (MinHash LSH) removal. One declarative
    plan; every stage is the operator validated individually above."""
    from solana_etl_spark.operators.dedup import exact_dedup, lsh_duplicate_ids
    from solana_etl_spark.operators.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    quality_ids = quality_score(docs).filter("is_quality").select("doc_id")
    keepers = exact_dedup(docs).select(F.col("keeper_doc_id").alias("doc_id"))
    # near-dup drop set via the linear min-per-bucket path (lsh_duplicate_ids
    # == the doc_b set of minhash_lsh_pairs, without pair materialization)
    drops = lsh_duplicate_ids(docs)
    return quality_ids.join(keepers, "doc_id", "left_semi").join(
        drops, "doc_id", "left_anti"
    )


# ---------------------------------------------------------------------------
# 3. Similarity search (charter §2.11)
# ---------------------------------------------------------------------------

# normalize-then-dot, mirroring operators/similarity.py bit-for-bit:
# fold left with 0.0 seed (list_reduce starts at the first element; x+0.0==x
# exactly, so prepending is unnecessary), divide each element by the L2 norm.
_NEMB_CTE = """
    nemb AS (
        SELECT vec_id, label,
               [x::DOUBLE / sqrt(list_reduce(
                    [y::DOUBLE * y::DOUBLE for y in embedding], (p, q) -> p + q))
                for x in embedding] AS v
        FROM embeddings
    )
"""
_NDOT_SQL = (
    "list_reduce([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))], "
    "(x, y) -> x + y)"
)


@_register(
    "sim_cosine_topk",
    f"""
    WITH {_NEMB_CTE},
    q AS (SELECT vec_id AS q_id, v FROM nemb ORDER BY vec_id LIMIT 1)
    SELECT a.vec_id, ROUND({_NDOT_SQL}, 6) AS cosine_sim
    FROM nemb a, q b
    WHERE a.vec_id <> b.q_id
    ORDER BY cosine_sim DESC, a.vec_id ASC
    LIMIT {similarity.TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(_t(spark, sf_dir, "embeddings"))


def _lsh_bucket_sql_expr(bits: int) -> str:
    terms = [
        f"(CASE WHEN embedding[{j + 1}]::DOUBLE > embedding[{j + 1 + bits}]::DOUBLE"
        f" THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    ]
    return " + ".join(terms)


@_register(
    "sim_neardup_pairs",
    # Candidates = equal sign-LSH bucket (mirrors operators/similarity.py
    # embedding_neardup_pairs — deterministic approximate operator), verified
    # with the exact normalize-then-dot cosine.
    f"""
    WITH {_NEMB_CTE},
    buckets AS (
        SELECT vec_id,
               CAST({_lsh_bucket_sql_expr(similarity.LSH_SIGN_BITS)} AS BIGINT) AS bucket
        FROM embeddings
    ),
    space AS (SELECT n.vec_id, n.v, b.bucket FROM nemb n JOIN buckets b USING (vec_id))
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_NDOT_SQL}, 6) AS cosine_sim
    FROM space a JOIN space b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND({_NDOT_SQL}, 6) >= 0.3
    """,
)
def sim_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.3 (not the 0.95 semantic default): the synthetic embeddings
    # are near-orthogonal (max intra-bucket cosine ~0.37 at sf0.01), so the
    # production threshold would make this a vacuous 0-row check.
    return similarity.embedding_neardup_pairs(
        _t(spark, sf_dir, "embeddings"), threshold=0.3
    )


@_register(
    "sim_ann_bucketed",
    f"""
    WITH {_NEMB_CTE},
    buckets AS (
        SELECT vec_id, CAST({_lsh_bucket_sql_expr(similarity.LSH_SIGN_BITS)} AS BIGINT) AS bucket FROM embeddings
    ),
    space AS (SELECT n.vec_id, n.v, b.bucket FROM nemb n JOIN buckets b USING (vec_id)),
    q AS (SELECT vec_id AS q_id, v AS q_v, bucket AS q_bucket FROM space ORDER BY vec_id LIMIT 1)
    SELECT a.vec_id,
           ROUND(list_reduce([a.v[i] * b.q_v[i] for i in generate_series(1, len(a.v))], (x, y) -> x + y), 6) AS cosine_sim
    FROM space a, q b
    WHERE a.bucket = b.q_bucket AND a.vec_id <> b.q_id
    ORDER BY cosine_sim DESC, a.vec_id ASC
    LIMIT {similarity.TOPK}
    """,
)
def sim_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_bucketed_topk(_t(spark, sf_dir, "embeddings"))


@_register(
    "sim_lsh_buckets",
    f"""
    SELECT vec_id, label,
           CAST({_lsh_bucket_sql_expr(similarity.LSH_SIGN_BITS)} AS BIGINT) AS bucket
    FROM embeddings
    """,
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_sign_buckets(_t(spark, sf_dir, "embeddings"))


@_register(
    "sim_semantic_dedup",
    # Ground truth: transitive closure (recursive CTE) over the SAME
    # candidate-pair definition the Spark plan uses (sign-LSH bucket +
    # exact cosine ≥ t); singletons are their own keeper.
    f"""
    WITH RECURSIVE {_NEMB_CTE},
    buckets AS (
        SELECT vec_id,
               CAST({_lsh_bucket_sql_expr(similarity.LSH_SIGN_BITS)} AS BIGINT) AS bucket
        FROM embeddings
    ),
    space AS (SELECT n.vec_id, n.v, b.bucket FROM nemb n JOIN buckets b USING (vec_id)),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM space a JOIN space b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND({_NDOT_SQL}, 6) >= 0.3
    ),
    edges AS MATERIALIZED (
        SELECT vec_a AS src, vec_b AS dst FROM pairs
        UNION ALL
        SELECT vec_b AS src, vec_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    cc AS (SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT v.vec_id,
           COALESCE(cc.cluster_id, v.vec_id) AS cluster_id,
           COALESCE(cc.cluster_id, v.vec_id) = v.vec_id AS is_keeper
    FROM embeddings v LEFT JOIN cc USING (vec_id)
    """,
)
def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup capstone over embeddings: LSH-bucketed near-dup pairs
    → pointer-jumping connected components → keeper per cluster, one row per
    input vector. Threshold 0.3 for the near-orthogonal synthetic embeddings
    (see sim_neardup_pairs)."""
    return similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.3
    )


# ---------------------------------------------------------------------------
# 4. Text analysis (charter §2.11)
# ---------------------------------------------------------------------------


@_register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           len({_TOKENS_SQL}) AS n_tokens,
           len(list_distinct({_TOKENS_SQL})) AS n_uniq_tokens,
           ROUND(list_sum(list_transform({_TOKENS_SQL}, t -> length(t)))
                 / len({_TOKENS_SQL}), 6) AS avg_token_len,
           len(regexp_extract_all(text, '{text_ops.BPE_PATTERN.replace("'", "''")}')) AS n_bpe_tokens,
           ROUND(len(regexp_extract_all(text, '{text_ops.BPE_PATTERN.replace("'", "''")}'))
                 / len({_TOKENS_SQL}), 6) AS bpe_per_word
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish token stats merged into one per-row query (the
    two r1 queries text_token_stats / text_bpe_tokens — same scan)."""
    return text_ops.token_report(_t(spark, sf_dir, "documents"))


_EN_STOP_IN = ", ".join(f"'{w}'" for w in text_ops.EN_STOPWORDS)


@_register(
    "text_quality",
    f"""
    SELECT doc_id,
           length(trim(text)) AS n_chars_trim,
           len({_TOKENS_SQL}) AS n_tokens,
           ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[^\\w\\s]', '', 'g'))) / length(trim(text)), 6) AS punct_ratio,
           ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[0-9]', '', 'g'))) / length(trim(text)), 6) AS digit_ratio,
           ROUND(len(list_filter({_TOKENS_SQL}, t -> t IN ({_EN_STOP_IN}))) / len({_TOKENS_SQL}), 6) AS stopword_ratio,
           (len({_TOKENS_SQL}) >= 10
            AND ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[^\\w\\s]', '', 'g'))) / length(trim(text)), 6) <= 0.2
            AND ROUND((length(trim(text)) - length(regexp_replace(trim(text), '[0-9]', '', 'g'))) / length(trim(text)), 6) <= 0.3)
           AS is_quality
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.quality_score(_t(spark, sf_dir, "documents"))


@_register(
    "corpus_mix_report",
    f"""
    WITH d AS (
        SELECT lang, source, doc_id,
               len({_TOKENS_SQL}) AS n_tokens,
               {hash64_sql(_NORM_SQL)} AS chash
        FROM documents
    ),
    g AS (
        SELECT lang, source,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(DISTINCT chash) AS n_unique_docs
        FROM d GROUP BY lang, source
    )
    SELECT lang, source, n_docs, total_tokens, n_unique_docs,
           ROUND((n_docs - n_unique_docs) / n_docs, 6) AS dup_frac,
           ROUND(total_tokens / SUM(total_tokens) OVER (), 6) AS token_share
    FROM g
    """,
)
def corpus_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-mixing planning table: per (lang, source) stratum — doc
    count, token budget, exact-duplicate fraction (via the dedup content
    hash), and each stratum's share of total corpus tokens. This is the
    input to temperature/budgeted mixture rates (s3_mixture_sample) and
    the first number a corpus card reports. One grouped aggregate + a
    1-row broadcast total; the distinct-hash count is the only second
    phase."""
    from solana_etl_spark.functions.hashing import hash64
    from solana_etl_spark.operators.dedup import normalized_text
    from solana_etl_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        hash64(normalized_text()).alias("chash"),
    )
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.countDistinct("chash").alias("n_unique_docs"),
    )
    total = F.sum("total_tokens").over(Window.partitionBy())
    return g.select(
        "lang",
        "source",
        "n_docs",
        "total_tokens",
        "n_unique_docs",
        F.round(
            (F.col("n_docs") - F.col("n_unique_docs")) / F.col("n_docs"), 6
        ).alias("dup_frac"),
        F.round(F.col("total_tokens") / total, 6).alias("token_share"),
    )


def _lang_id_oracle() -> str:
    score = lambda words: (  # noqa: E731
        "len(list_filter("
        + _TOKENS_SQL
        + ", t -> t IN ("
        + ", ".join(f"'{w}'" for w in words)
        + ")))"
    )
    scores = {lang: score(words) for lang, words in text_ops.LANG_STOPWORDS}
    best = "greatest(" + ", ".join(scores.values()) + ")"
    pred = "'unk'"
    for lang, _ in reversed(text_ops.LANG_STOPWORDS):
        pred = (
            f"CASE WHEN {scores[lang]} = {best} AND {best} > 0 "
            f"THEN '{lang}' ELSE {pred} END"
        )
    return f"""
    SELECT doc_id, lang AS labeled_lang, {pred} AS predicted_lang
    FROM documents
    """


@_register("text_lang_id", _lang_id_oracle())
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.lang_id(_t(spark, sf_dir, "documents"))


def _fingerprint_oracle() -> str:
    a, b = MINHASH_PERMS[0]
    hashes = (
        f"list_transform({_NGRAMS_SQL}, g -> {perm_hash_sql(hash32_sql('g'), a, b)})"
    )
    return f"""
    SELECT doc_id,
           array_to_string(list_transform(
               (list_sort({hashes}))[1:{text_ops.FINGERPRINT_K}],
               h -> CAST(h AS VARCHAR)), ',') AS fingerprint
    FROM documents
    """


@_register("text_fingerprint", _fingerprint_oracle())
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.fingerprint(_t(spark, sf_dir, "documents"))


def _winnow_oracle() -> str:
    s = "lower(trim(text))"
    a, b = MINHASH_PERMS[1]
    k, w = text_ops.WINNOW_K, text_ops.WINNOW_W
    hashes = (
        f"[({hash32_sql(f'substr({s}, i, {k})')} * {a} + {b}) % 4294967291 "
        f"for i in generate_series(1, greatest(length({s}) - {k - 1}, 1))]"
    )
    return f"""
    WITH hs AS (SELECT doc_id, {hashes} AS h FROM documents)
    SELECT doc_id,
           array_to_string(list_sort(list_distinct(
               [list_min(h[j:j+{w - 1}]) for j in generate_series(1, greatest(len(h) - {w - 1}, 1))]
           )), ',') AS winnow_fp
    FROM hs
    """


@_register("text_winnow_fingerprint", _winnow_oracle())
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_ops.winnow_fingerprint(_t(spark, sf_dir, "documents"))


# The synthetic corpus contains no PII, so the redaction query injects
# deterministic URL/email/IP strings (same expression both engines) before
# redacting — the oracle then checks real match/replace behavior, not a
# no-op.
_PII_AUG_SQL = """
    SELECT doc_id,
           CASE doc_id % 4
             WHEN 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
                         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com now'
             WHEN 1 THEN text || ' see https://ex.org/p/'
                         || CAST(doc_id AS VARCHAR) || '?q=1 ok'
             WHEN 2 THEN text || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                         || '.' || CAST(doc_id % 100 AS VARCHAR) || ' logged'
             ELSE text
           END AS text
    FROM documents
"""


@_register(
    "text_redact_pii",
    f"""
    WITH aug AS ({_PII_AUG_SQL})
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{text_ops.PII_URL_RE}')) AS BIGINT) AS n_urls,
           CAST(len(regexp_extract_all(text, '{text_ops.PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{text_ops.PII_IP_RE}')) AS BIGINT) AS n_ips,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{text_ops.PII_URL_RE}', '<URL>', 'g'),
               '{text_ops.PII_EMAIL_RE}', '<EMAIL>', 'g'),
               '{text_ops.PII_IP_RE}', '<IP>', 'g') AS text_redacted
    FROM aug
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.when(
            did % 4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact u"),
                did.cast("string"),
                F.lit("@ex"),
                (did % 7).cast("string"),
                F.lit(".com now"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.col("text"),
                F.lit(" see https://ex.org/p/"),
                did.cast("string"),
                F.lit("?q=1 ok"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.col("text"),
                F.lit(" from 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
                F.lit(" logged"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return text_ops.redact_pii(aug)


def _decontam_oracle(n: int) -> str:
    toks = _TOKENS_SQL
    gram_hash = hash64_sql(f"array_to_string(toks[i:i+{n - 1}], ' ')")
    return f"""
    WITH g AS (
        SELECT doc_id, source,
               list_distinct([ {gram_hash}
                   for i in generate_series(1, greatest(len(toks) - {n - 1}, 0)) ]) AS grams
        FROM (SELECT doc_id, source, {toks} AS toks FROM documents)
    ),
    probe AS (SELECT DISTINCT unnest(grams) AS gh FROM g WHERE source = 'src19'),
    train AS (SELECT doc_id, grams FROM g WHERE source <> 'src19'),
    ov AS (
        SELECT t.doc_id, COUNT(*) AS n_overlap
        FROM (SELECT doc_id, unnest(grams) AS gh FROM train) t
        JOIN probe USING (gh) GROUP BY t.doc_id
    )
    SELECT tr.doc_id,
           CAST(len(tr.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           COALESCE(ov.n_overlap, 0) >= 1 AS is_contaminated
    FROM train tr LEFT JOIN ov USING (doc_id)
    """


@_register(
    "text_decontaminate",
    _decontam_oracle(5),
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination: flag training docs (source≠src19) sharing
    word 5-grams with the held-out eval slice (source=src19). Probe side
    broadcast; training side = explode + broadcast join + per-doc count —
    linear in corpus size (operators/decontam.py)."""
    from solana_etl_spark.operators.decontam import contamination

    docs = _t(spark, sf_dir, "documents")
    return contamination(
        docs.filter(F.col("source") != "src19"),
        docs.filter(F.col("source") == "src19"),
        n=5,
    )


@_register(
    "decontam_semantic",
    # eval slice mirrors text_decontaminate's src19 convention on vec_id;
    # normalize-then-dot shared with the sim_* oracles (_NEMB_CTE)
    f"""
    WITH {_NEMB_CTE},
    ev AS (SELECT v FROM nemb WHERE vec_id % 20 = 19),
    corpus AS (SELECT vec_id, v FROM nemb WHERE vec_id % 20 <> 19),
    scored AS (
        SELECT a.vec_id, MAX(ROUND({_NDOT_SQL}, 6)) AS max_eval_cos
        FROM corpus a, ev b
        GROUP BY a.vec_id
    )
    SELECT vec_id, max_eval_cos,
           max_eval_cos >= 0.35 AS contaminated
    FROM scored
    """,
)
def decontam_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination
    (operators/decontam.py:semantic_contamination): corpus vectors within
    cosine 0.35 of ANY eval vector (vec_id % 20 == 19 — the src19
    convention) are flagged. The operator's production default is 0.9;
    the synthetic embeddings have no true eval near-dups (max observed
    cosine ≈ 0.5), so the gate threshold is calibrated to exercise BOTH
    flag branches at every fixture scale. Normalized eval side broadcast;
    corpus streams once, per-vector max partial-aggregates map-side —
    linear in corpus size."""
    from solana_etl_spark.operators.decontam import semantic_contamination

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_contamination(
        emb.filter(F.col("vec_id") % 20 != 19),
        emb.filter(F.col("vec_id") % 20 == 19),
        threshold=0.35,
    )


@_register(
    "a15_pivot",
    """
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS P,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS F_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS O_total,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS P_total
    FROM orders GROUP BY o_orderpriority
    """,
)
def a15_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation — §2.8 'free in Spark'): order
    counts and money totals by priority × status. Explicit pivot values
    skip the extra distinct-values job Spark otherwise runs; money goes
    through DECIMAL(18,4) per the cross-engine float discipline."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total"),
        )
    )
    return piv.select(
        "o_orderpriority",
        F.col("F_n").alias("F"),
        F.col("O_n").alias("O"),
        F.col("P_n").alias("P"),
        F.col("F_total"),
        F.col("O_total"),
        F.col("P_total"),
    )


# ---------------------------------------------------------------------------
# 4b. Deterministic sampling + sketching (charter: training-data pipeline)
# ---------------------------------------------------------------------------


@_register(
    "s1_hash_sample",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {hash64_sql("CAST(doc_id AS VARCHAR)")} % 10000 < 500
    """,
)
def s1_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% Bernoulli sample keyed on doc_id hash — the
    reproducible train/eval-split primitive (operators/sampling.py):
    stateless per-row filter, no shuffle, retry-safe (vs rand())."""
    from solana_etl_spark.operators.sampling import hash_sample

    return hash_sample(_t(spark, sf_dir, "documents"), "doc_id", 500).select(
        "doc_id", "lang", "source"
    )


@_register(
    "s2_stratified_sample",
    f"""
    SELECT doc_id, lang, source FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY {hash64_sql("CAST(doc_id AS VARCHAR)")}, doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= 20
    """,
)
def s2_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly 20 docs per (lang, source) stratum, selected by key hash —
    the data-mixing primitive; one window = one shuffle on the strata key."""
    from solana_etl_spark.operators.sampling import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), ["lang", "source"], "doc_id", 20
    ).select("doc_id", "lang", "source")


_MIXTURE_RATES = {"src0": 10000, "src1": 5000, "src2": 1500}  # bp per source


@_register(
    "s3_mixture_sample",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {hash64_sql("CAST(doc_id AS VARCHAR)")} % 10000 <
          CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                      WHEN 'src2' THEN 1500 ELSE 300 END
    """,
)
def s3_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weighting ("100% of src0, 50% of src1, 15% of
    src2, 3% of the rest") — the corpus-mixing step, as a stateless
    deterministic hash predicate: zero shuffle, retry-safe, recomputable
    membership (operators/sampling.py)."""
    from solana_etl_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"), "doc_id", _MIXTURE_RATES, default_bp=300
    ).select("doc_id", "lang", "source")


@_register(
    "s5_train_val_test",
    f"""
    SELECT doc_id, source,
           CASE WHEN {hash64_sql("CAST(doc_id AS VARCHAR)")} % 10000 < 8000 THEN 'train'
                WHEN {hash64_sql("CAST(doc_id AS VARCHAR)")} % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def s5_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 corpus split: membership is a pure function
    of the doc key's hash bucket — zero shuffle, retry-safe, and no
    document migrates between splits as the corpus grows (the leakage
    guarantee row-number splits can't give)."""
    from solana_etl_spark.operators.sampling import train_val_test_split

    return train_val_test_split(
        _t(spark, sf_dir, "documents"), "doc_id"
    ).select("doc_id", "source", "split")


_EPOCH_FACTORS_BP = {"src0": 25000, "src5": 30000, "src10": 5000}


@_register(
    "s6_epoch_upsample",
    f"""
    WITH f AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 25000 WHEN 'src5' THEN 30000
                           WHEN 'src10' THEN 5000 ELSE 10000 END AS bp
        FROM documents
    ), e AS (
        SELECT doc_id, source, bp // 10000 AS nf, bp % 10000 AS fbp,
               unnest(generate_series(1, bp // 10000 + 1)) AS epoch
        FROM f
    )
    SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch
    FROM e
    WHERE epoch <= nf
       OR {hash64_sql("CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)")}
          % 10000 < fbp
    """,
)
def s6_epoch_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source repetition factors (operators/sampling.py:
    epoch_upsample): src0 ×2.5, src5 ×3, src10 ×0.5, everything else ×1 —
    the up-sampling half of a pre-training mixing recipe, emitted as
    (doc, epoch) copies. Integer part duplicates unconditionally; the
    fractional copy is a deterministic hash draw keyed by (doc, epoch),
    so the realized corpus is reproducible. Pure per-row explode, zero
    shuffle."""
    from solana_etl_spark.operators.sampling import epoch_upsample

    return epoch_upsample(
        _t(spark, sf_dir, "documents"), "doc_id", "source", _EPOCH_FACTORS_BP
    ).select("doc_id", "source", F.col("epoch").cast("long").alias("epoch"))


@_register(
    "corpus_overlap_matrix",
    # distinct (source, CDC-chunk-hash) pairs self-joined on the hash:
    # which sources share repeated SPANS (content-defined boundaries keep
    # matches under insertions; whole-doc hashes are vacuous at small SFs
    # because exact doc dups stay within one source) — the provenance /
    # mix-planning diagnostic behind joint-dedup decisions
    f"""
    WITH toks AS (
        SELECT d.doc_id, d.source, t.tok, t.pos FROM documents d,
        LATERAL (
            SELECT unnest({_TOKENS_SQL}) AS tok,
                   generate_subscripts({_TOKENS_SQL}, 1) AS pos
        ) t
        WHERE t.tok <> ''
    ),
    b AS (
        SELECT doc_id, source, tok, pos,
               CASE WHEN {hash64_sql("tok")} % {dedup.CDC_DIVISOR} = 0
                         AND pos > 1 THEN 1 ELSE 0 END AS bd
        FROM toks
    ),
    c AS (
        SELECT doc_id, source, tok, pos,
               SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        FROM b
    ),
    chunks AS (
        SELECT doc_id, source, chunk_id, COUNT(*) AS n_tokens,
               {hash64_sql("string_agg(tok, ' ' ORDER BY pos)")} AS h
        FROM c GROUP BY doc_id, source, chunk_id
    ),
    sh AS (SELECT DISTINCT source, h FROM chunks WHERE n_tokens >= 3)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS shared_chunks
    FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def corpus_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source span-duplication matrix: per source pair, how many
    distinct content-defined chunks (≥ 3 tokens) both carry — the
    provenance diagnostic that tells a mix designer which sources re-crawl
    or syndicate each other (dedup them jointly, budget them once).
    Chunk-granular + CDC boundaries so shared spans survive insertions;
    one hash-keyed self-join over distinct (source, chunk-hash) pairs,
    16-byte shuffle rows."""
    from solana_etl_spark.operators.dedup import cdc_chunks

    docs = _t(spark, sf_dir, "documents")
    sh = (
        cdc_chunks(docs)
        .filter(F.col("n_tokens") >= 3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("source", F.col("chunk_hash").alias("h"))
        .distinct()
    )
    a = sh.select(F.col("source").alias("source_a"), "h")
    b = sh.select(F.col("source").alias("source_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared_chunks"))
    )


@_register(
    "lm_bigram_score",
    # add-one conditional p(b|a) = (c_ab+1)/(c_ctx(a)+V); per-transition
    # log10 at 9 decimals, exact-decimal per-doc sums (lm.py discipline)
    f"""
    WITH pos AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok,
               generate_subscripts({_TOKENS_SQL}, 1) AS p
        FROM documents
    ),
    big AS (
        SELECT x.doc_id, x.tok AS a, y.tok AS b
        FROM pos x JOIN pos y ON x.doc_id = y.doc_id AND y.p = x.p + 1
    ),
    cab AS (SELECT a, b, COUNT(*) AS c_ab FROM big GROUP BY a, b),
    ctx AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_ctx FROM cab GROUP BY a),
    voc AS (
        SELECT COUNT(DISTINCT tok) AS v FROM (
            SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
        ) WHERE tok <> ''
    ),
    scored AS (
        SELECT g.doc_id,
               CAST(ROUND(log10((c.c_ab + 1.0) / (x.c_ctx + voc.v)), 9)
                    AS DECIMAL(28,9)) AS lp
        FROM big g JOIN cab c USING (a, b) JOIN ctx x USING (a), voc
    )
    SELECT doc_id, COUNT(*) AS n_transitions,
           ROUND(CAST(SUM(lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
)
def lm_bigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring (operators/lm.py bigram_lm_scores): every
    token transition scored by the add-one conditional probability — the
    conditional upgrade of the unigram CCNet signal (word salad with
    plausible unigrams but improbable transitions scores low). Zipf-bounded
    count tables broadcast; exact-decimal per-doc sums."""
    from solana_etl_spark.operators.lm import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


@_register(
    "text_collocations",
    # PMI collocations: rank by the RAW probability ratio (integer-count
    # arithmetic in doubles — bit-identical), log10 applied only to the
    # emitted score at 6 decimals
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ),
    t2 AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    uni AS (SELECT tok, COUNT(*) AS c FROM t2 GROUP BY tok),
    tot AS (
        SELECT CAST(SUM(greatest(len({_TOKENS_SQL}) - 1, 0)) AS BIGINT)
                   AS b_total,
               CAST(SUM(len(list_filter({_TOKENS_SQL}, x -> x <> '')))
                    AS BIGINT) AS n_total
        FROM documents
    ),
    pos AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok,
               generate_subscripts({_TOKENS_SQL}, 1) AS p
        FROM documents
    ),
    big AS (
        SELECT a.tok || ' ' || b.tok AS bigram
        FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.p = a.p + 1
    ),
    bcnt AS (
        SELECT bigram, COUNT(*) AS c_ab FROM big
        GROUP BY bigram HAVING COUNT(*) >= {text_ops.COLLOC_MIN_COUNT}
    ),
    j AS (
        SELECT bigram, c_ab, u1.c AS c_a, u2.c AS c_b
        FROM bcnt
        JOIN uni u1 ON u1.tok = string_split(bigram, ' ')[1]
        JOIN uni u2 ON u2.tok = string_split(bigram, ' ')[2]
    ),
    scored AS (
        SELECT bigram, c_ab,
               (CAST(c_ab AS DOUBLE) / b_total)
               / ((CAST(c_a AS DOUBLE) / n_total)
                  * (CAST(c_b AS DOUBLE) / n_total)) AS ratio
        FROM j, tot
    )
    SELECT bigram, c_ab, ROUND(log10(ratio), 6) AS pmi
    FROM scored ORDER BY ratio DESC, bigram LIMIT {text_ops.COLLOC_K}
    """,
)
def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining by PMI (operators/text.py collocations):
    top multiword-expression candidates with a min-count floor — the
    phrase-detection / tokenizer-merge-seeding signal. Two map-side-
    combined counts + broadcast unigram lookups + TakeOrdered; ranking by
    the raw probability ratio keeps ordering engine-exact."""
    return text_ops.collocations(_t(spark, sf_dir, "documents"))


_N_DRAWS = 1000


@_register(
    "s9_categorical_draws",
    # inverse-CDF categorical sampling, all-integer: draw i lands on the
    # token whose cumulative count interval contains hash(i) mod total;
    # items bucket-exploded (integer-domain rangejoin.py strategy)
    f"""
    WITH toks AS (SELECT unnest({_TOKENS_SQL}) AS tok FROM documents),
    t2 AS (SELECT tok FROM toks WHERE tok <> ''),
    counts AS (SELECT tok, COUNT(*) AS c FROM t2 GROUP BY tok),
    cum AS (
        SELECT tok, c,
               CAST(SUM(c) OVER (ORDER BY tok ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_end
        FROM counts
    ),
    cum2 AS (SELECT tok, cum_end - c AS cum_start, cum_end FROM cum),
    tot AS (SELECT MAX(cum_end) AS total FROM cum2),
    items AS (
        SELECT tok, cum_start, cum_end,
               unnest(generate_series(
                   CAST(cum_start // ((total + 255) // 256) AS BIGINT),
                   CAST((cum_end - 1) // ((total + 255) // 256) AS BIGINT)))
                   AS bucket
        FROM cum2, tot
    ),
    d2 AS (
        SELECT i AS draw_id,
               ((({hash64_sql("CAST(i AS VARCHAR)")} % total) + total) % total)
                   AS t,
               (total + 255) // 256 AS b
        FROM (SELECT unnest(generate_series(0, {_N_DRAWS - 1})) AS i), tot
    ),
    d3 AS (SELECT draw_id, t, t // b AS bucket FROM d2)
    SELECT d.draw_id, i.tok
    FROM d3 d JOIN items i USING (bucket)
    WHERE d.t >= i.cum_start AND d.t < i.cum_end
    """,
)
def s9_categorical_draws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted-categorical sampler (operators/sampling.py
    categorical_draws): 1000 inverse-CDF draws from the corpus unigram
    count distribution — the negative-sampling-table primitive, in
    all-integer math (no float CDF). Vocab-bounded global cumsum +
    bucketized integer range join; every draw a pure function of its
    index."""
    from solana_etl_spark.operators.sampling import categorical_draws

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(text_ops.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return categorical_draws(counts, "tok", "c", _N_DRAWS)


@_register(
    "dedup_cdc_chunks",
    # content-defined boundaries: a token starts a chunk iff its own hash
    # ≡ 0 (mod divisor) — positions are 1-based here vs 0-based posexplode,
    # hence pos > 1 mirrors Spark's pos > 0
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok,
               generate_subscripts({_TOKENS_SQL}, 1) AS pos
        FROM documents
    ), t2 AS (SELECT doc_id, tok, pos FROM toks WHERE tok <> ''),
    b AS (
        SELECT doc_id, tok, pos,
               CASE WHEN {hash64_sql("tok")} % {dedup.CDC_DIVISOR} = 0
                         AND pos > 1 THEN 1 ELSE 0 END AS bd
        FROM t2
    ), c AS (
        SELECT doc_id, tok, pos,
               SUM(bd) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
        FROM b
    ), chunks AS (
        SELECT doc_id, chunk_id, COUNT(*) AS n_tokens,
               {hash64_sql("string_agg(tok, ' ' ORDER BY pos)")} AS chunk_hash
        FROM c GROUP BY doc_id, chunk_id
    )
    SELECT chunk_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS keeper_doc,
           CAST(MAX(n_tokens) AS BIGINT) AS n_tokens
    FROM chunks GROUP BY chunk_hash HAVING COUNT(*) >= 2
    """,
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-robust chunk dedup via content-defined chunking
    (operators/dedup.py cdc_chunks): boundaries depend only on each
    token's own hash, so an insertion perturbs one chunk where
    fixed-stride chunking shifts every later boundary; repeated chunk
    hashes across documents with occurrence/doc counts and the
    first-occurrence keeper. Explode + doc-keyed window cumsum + two
    hash-keyed aggregates, all linear."""
    from solana_etl_spark.operators.dedup import cdc_duplicate_chunks

    return cdc_duplicate_chunks(_t(spark, sf_dir, "documents"))


def _cluster_safe_split_oracle() -> str:
    bucket = hash64_sql("CAST(cluster_id AS VARCHAR)")
    return f"""
    WITH RECURSIVE {_lsh_pairs_cte(dedup.MINHASH_K, dedup.LSH_BAND_ROWS, materialized=True)},
    edges AS MATERIALIZED (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    clusters AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    member AS (
        SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
        FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN {bucket} % 10000 < 8000 THEN 'train'
                WHEN {bucket} % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM member
    """


@_register("s8_cluster_safe_split", _cluster_safe_split_oracle())
def s8_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: membership hashes the NEAR-DUP
    CLUSTER id (LSH pairs → connected components, singletons self-keyed),
    not the doc id — so a near-duplicate pair can never straddle train and
    test, the leak a per-document hash split silently allows. Composes two
    individually-oracled operators; the split stays a stateless pure
    function of content (retry-safe, growth-stable)."""
    from solana_etl_spark.operators.sampling import train_val_test_split

    docs = _t(spark, sf_dir, "documents")
    clusters = dedup.connected_components(dedup.lsh_star_edges(docs))
    members = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    return train_val_test_split(members, "cluster_id").select(
        "doc_id", "cluster_id", "split"
    )


# deterministic conversation construction (operators/sft.py): 4 consecutive
# docs = one conversation, roles alternate user-first by turn parity
_SFT_TURNS_CTE = f"""
    turns AS (
        SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
               CASE WHEN (doc_id % 4) % 2 = 0 THEN 'user' ELSE 'assistant' END
                   AS role,
               len({_TOKENS_SQL}) AS n_tokens
        FROM documents
    )
"""


@_register(
    "sft_loss_masks",
    f"""
    WITH {_SFT_TURNS_CTE},
    spans AS (
        SELECT conv_id, turn_idx, role, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS span_end
        FROM turns
    )
    SELECT conv_id, turn_idx,
           CAST(span_end - n_tokens AS BIGINT) AS span_start,
           CAST(span_end AS BIGINT) AS span_end
    FROM spans WHERE role = 'assistant'
    """,
)
def sft_loss_masks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT loss-mask accounting (operators/sft.py): token-offset spans of
    assistant turns inside each flattened conversation — what a fine-tuning
    loader needs to mask user context out of the loss. One window cumsum
    keyed by conv_id is the only shuffle."""
    from solana_etl_spark.operators.sft import conversations, loss_mask_spans

    return loss_mask_spans(conversations(_t(spark, sf_dir, "documents")))


@_register(
    "sft_sample_stats",
    f"""
    WITH {_SFT_TURNS_CTE}
    SELECT conv_id, COUNT(*) AS n_turns,
           CAST(SUM(CASE WHEN role = 'user' THEN n_tokens ELSE 0 END)
                AS BIGINT) AS prompt_tokens,
           CAST(SUM(CASE WHEN role = 'assistant' THEN n_tokens ELSE 0 END)
                AS BIGINT) AS completion_tokens,
           ROUND(CAST(SUM(CASE WHEN role = 'assistant' THEN n_tokens ELSE 0
                          END) AS DOUBLE)
                 / CAST(SUM(n_tokens) AS DOUBLE), 9) AS mask_ratio
    FROM turns GROUP BY conv_id
    """,
)
def sft_sample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation SFT mix diagnostics (operators/sft.py): prompt vs
    completion token totals and the loss-mask ratio (fraction of tokens
    trained on). One partial-aggregated groupBy."""
    from solana_etl_spark.operators.sft import conversations, sft_stats

    return sft_stats(conversations(_t(spark, sf_dir, "documents")))


@_register(
    "sft_prompt_dedup",
    # first user turn of each conversation = the doc at doc_id % 4 == 0;
    # same normalize-hash-group shape (and SQL mirror) as dedup_exact
    f"""
    SELECT {hash64_sql(_NORM_SQL)} AS prompt_hash,
           MIN(doc_id // 4) AS keeper_conv,
           COUNT(*) AS n_convs
    FROM documents
    WHERE doc_id % 4 = 0
    GROUP BY 1
    """,
)
def sft_prompt_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation dedup by normalized prompt (operators/sft.py
    prompt_dedup): conversations sharing a first user turn leak
    completions across epochs/splits — the SFT analog of document exact
    dedup. One 16-byte-row hash aggregate over first turns only."""
    from solana_etl_spark.operators.sft import conversations, prompt_dedup

    return prompt_dedup(conversations(_t(spark, sf_dir, "documents")))


_SFT_PACK_BUDGET = 512


@_register(
    "pipeline_sft_e2e",
    # conversations → per-group end-to-end token stream → assistant spans at
    # ABSOLUTE offsets → overlap with fixed-budget sequences: the loss-mask
    # survives packing; integer math until the final ratio
    f"""
    WITH {_SFT_TURNS_CTE},
    t2 AS (
        SELECT conv_id, turn_idx, role, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS turn_end
        FROM turns
    ),
    glang AS (
        -- lang IS NOT NULL mirrors the Spark side's explicit NULL-group
        -- filter (pack_with_masks drops conversations whose turn-0 group
        -- value is NULL); without it a NULL lang would be its own group
        -- here and a latent cross-engine mismatch
        SELECT doc_id // 4 AS conv_id, lang AS grp FROM documents
        WHERE doc_id % 4 = 0 AND lang IS NOT NULL
    ),
    ctot AS (
        SELECT g.grp, t.conv_id, SUM(t.n_tokens) AS conv_tokens
        FROM t2 t JOIN glang g USING (conv_id) GROUP BY g.grp, t.conv_id
    ),
    coff AS (
        SELECT grp, conv_id, conv_tokens,
               SUM(conv_tokens) OVER (PARTITION BY grp ORDER BY conv_id)
                   AS conv_end
        FROM ctot
    ),
    spans AS (
        SELECT c.grp,
               c.conv_end - c.conv_tokens + t.turn_end - t.n_tokens AS s,
               c.conv_end - c.conv_tokens + t.turn_end AS e
        FROM t2 t JOIN coff c USING (conv_id)
        WHERE t.role = 'assistant' AND t.n_tokens > 0
    ),
    seqs AS (
        SELECT grp, s, e,
               unnest(generate_series(
                   CAST(s // {_SFT_PACK_BUDGET} AS BIGINT),
                   CAST((e - 1) // {_SFT_PACK_BUDGET} AS BIGINT))) AS seq_id
        FROM spans
    ),
    loss AS (
        SELECT grp, seq_id,
               SUM(least(e, (seq_id + 1) * {_SFT_PACK_BUDGET})
                   - greatest(s, seq_id * {_SFT_PACK_BUDGET})) AS loss_tokens
        FROM seqs GROUP BY grp, seq_id
    ),
    gtot AS (SELECT grp, MAX(conv_end) AS total FROM coff GROUP BY grp),
    allseq AS (
        SELECT grp, total,
               unnest(generate_series(
                   CAST(0 AS BIGINT),
                   CAST((total - 1) // {_SFT_PACK_BUDGET} AS BIGINT)))
                   AS seq_id
        FROM gtot WHERE total > 0
    )
    SELECT a.grp AS lang, CAST(a.seq_id AS BIGINT) AS seq_id,
           CAST(least({_SFT_PACK_BUDGET}, a.total - a.seq_id * {_SFT_PACK_BUDGET})
                AS BIGINT) AS seq_tokens,
           CAST(coalesce(l.loss_tokens, 0) AS BIGINT) AS loss_tokens,
           ROUND(CAST(coalesce(l.loss_tokens, 0) AS DOUBLE)
                 / CAST(least({_SFT_PACK_BUDGET},
                              a.total - a.seq_id * {_SFT_PACK_BUDGET})
                        AS DOUBLE), 9) AS loss_ratio
    FROM allseq a LEFT JOIN loss l ON a.grp = l.grp AND a.seq_id = l.seq_id
    """,
)
def pipeline_sft_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT capstone (operators/sft.py pack_with_masks): conversations laid
    end-to-end per language group, packed into 512-token sequences, with
    assistant loss-mask spans carried through to per-sequence loss-token
    counts — proves masks survive packing. Three bounded shuffles (turn
    cumsum, conversation-offset cumsum, final (group, seq) aggregate)."""
    from solana_etl_spark.operators.sft import conversations, pack_with_masks

    return pack_with_masks(
        conversations(_t(spark, sf_dir, "documents")), budget=_SFT_PACK_BUDGET
    )


_PACK_SHARDS = 4


@_register(
    "pack_sharded_sequences",
    # two-level packing: hash docs into (lang, shard) streams, cumsum and
    # chunk per stream — the skew valve that keeps a dominant group from
    # serializing through one reducer; the oracle applies the same hash
    f"""
    WITH toks AS (
        SELECT lang,
               CAST({hash64_sql("CAST(doc_id AS VARCHAR)")} % {_PACK_SHARDS}
                    AS INT) AS shard,
               doc_id, len({_TOKENS_SQL}) AS n_tokens
        FROM documents
    ),
    cum AS (
        SELECT lang, shard, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS e
        FROM toks
    ),
    ex AS (
        SELECT lang, shard, doc_id, n_tokens, e - n_tokens AS s, e,
               unnest(generate_series(
                   CAST((e - n_tokens) // {_SFT_PACK_BUDGET} AS BIGINT),
                   CAST((e - 1) // {_SFT_PACK_BUDGET} AS BIGINT))) AS seq_id
        FROM cum WHERE n_tokens > 0
    )
    SELECT lang, shard, doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, seq_id,
           CAST(greatest(s, seq_id * {_SFT_PACK_BUDGET})
                - seq_id * {_SFT_PACK_BUDGET} AS BIGINT) AS seq_offset,
           CAST(least(e, (seq_id + 1) * {_SFT_PACK_BUDGET})
                - greatest(s, seq_id * {_SFT_PACK_BUDGET}) AS BIGINT)
               AS tokens_in_seq
    FROM ex
    """,
)
def pack_sharded_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level sharded packing (operators/packing.py pack_sequences with
    shards_per_group): the running-total window otherwise serializes each
    pack group through ONE reducer, so a dominant group (lang='en' is ~90%
    of a web corpus) bounds the whole job at 100 TB. Documents hash into
    (lang, shard) streams and pack independently; sequences are
    (lang, shard, seq_id) and window state shrinks to ~group/shards."""
    from solana_etl_spark.operators.packing import pack_sequences

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"),
        budget=_SFT_PACK_BUDGET,
        group_cols=("lang",),
        order_col="doc_id",
        shards_per_group=_PACK_SHARDS,
    )
    return packed.select(
        "lang",
        "shard",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
        "tokens_in_seq",
    )


@_register(
    "sft_pack_sharded",
    # pipeline_sft_e2e's mask-survives-packing accounting, per
    # (group, shard) stream: conversations hash into shards, offsets and
    # loss spans are shard-relative — the same oracle CTE chain with the
    # shard key carried through every window and aggregate
    f"""
    WITH {_SFT_TURNS_CTE},
    t2 AS (
        SELECT conv_id, turn_idx, role, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   AS turn_end
        FROM turns
    ),
    glang AS (
        SELECT doc_id // 4 AS conv_id, lang AS grp,
               CAST({hash64_sql("CAST(doc_id // 4 AS VARCHAR)")}
                    % {_PACK_SHARDS} AS INT) AS shard
        FROM documents
        WHERE doc_id % 4 = 0 AND lang IS NOT NULL
    ),
    ctot AS (
        SELECT g.grp, g.shard, t.conv_id, SUM(t.n_tokens) AS conv_tokens
        FROM t2 t JOIN glang g USING (conv_id)
        GROUP BY g.grp, g.shard, t.conv_id
    ),
    coff AS (
        SELECT grp, shard, conv_id, conv_tokens,
               SUM(conv_tokens) OVER (PARTITION BY grp, shard
                                      ORDER BY conv_id) AS conv_end
        FROM ctot
    ),
    spans AS (
        SELECT c.grp, c.shard,
               c.conv_end - c.conv_tokens + t.turn_end - t.n_tokens AS s,
               c.conv_end - c.conv_tokens + t.turn_end AS e
        FROM t2 t JOIN coff c USING (conv_id)
        WHERE t.role = 'assistant' AND t.n_tokens > 0
    ),
    seqs AS (
        SELECT grp, shard, s, e,
               unnest(generate_series(
                   CAST(s // {_SFT_PACK_BUDGET} AS BIGINT),
                   CAST((e - 1) // {_SFT_PACK_BUDGET} AS BIGINT))) AS seq_id
        FROM spans
    ),
    loss AS (
        SELECT grp, shard, seq_id,
               SUM(least(e, (seq_id + 1) * {_SFT_PACK_BUDGET})
                   - greatest(s, seq_id * {_SFT_PACK_BUDGET})) AS loss_tokens
        FROM seqs GROUP BY grp, shard, seq_id
    ),
    gtot AS (
        SELECT grp, shard, MAX(conv_end) AS total
        FROM coff GROUP BY grp, shard
    ),
    allseq AS (
        SELECT grp, shard, total,
               unnest(generate_series(
                   CAST(0 AS BIGINT),
                   CAST((total - 1) // {_SFT_PACK_BUDGET} AS BIGINT)))
                   AS seq_id
        FROM gtot WHERE total > 0
    )
    SELECT a.grp AS lang, a.shard, CAST(a.seq_id AS BIGINT) AS seq_id,
           CAST(least({_SFT_PACK_BUDGET}, a.total - a.seq_id * {_SFT_PACK_BUDGET})
                AS BIGINT) AS seq_tokens,
           CAST(coalesce(l.loss_tokens, 0) AS BIGINT) AS loss_tokens,
           ROUND(CAST(coalesce(l.loss_tokens, 0) AS DOUBLE)
                 / CAST(least({_SFT_PACK_BUDGET},
                              a.total - a.seq_id * {_SFT_PACK_BUDGET})
                        AS DOUBLE), 9) AS loss_ratio
    FROM allseq a LEFT JOIN loss l
      ON a.grp = l.grp AND a.shard = l.shard AND a.seq_id = l.seq_id
    """,
)
def sft_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline_sft_e2e with the 100 TB skew valve engaged
    (operators/sft.py pack_with_masks, shards_per_group): conversations
    hash into (lang, shard) streams, each packed and mask-accounted
    independently, so the conversation-offset cumsum never funnels a
    dominant language through one reducer."""
    from solana_etl_spark.operators.sft import conversations, pack_with_masks

    return pack_with_masks(
        conversations(_t(spark, sf_dir, "documents")),
        budget=_SFT_PACK_BUDGET,
        shards_per_group=_PACK_SHARDS,
    )


def _train_cap_where(count_from: str, train_cap: int) -> str:
    """The bounded-training predicate mirroring
    operators/similarity.py:bounded_training — keep vec_ids hashing into
    the first ceil(10000·cap/n) sample buckets, n = ``count_from``'s row
    count (a scalar subquery; exact integer ceil-div, so both engines
    keep the identical set). Pass-all while n ≤ cap, which is why the
    small-sf oracle values are unchanged by the bounded default."""
    h = hash64_sql("CAST(vec_id AS VARCHAR)")
    return (
        f"WHERE {h} % 10000 < LEAST(10000, "
        f"(10000 * CAST({train_cap} AS BIGINT) + ({count_from}) - 1) "
        f"// ({count_from}))"
    )


def _ivf_cte(
    k: int,
    iters: int,
    dim: int,
    scale: int,
    train_bp: int = 10000,
    train_cap: int | None = None,
) -> str:
    """qvecs / unrolled-Lloyd centroid CTEs mirroring operators/similarity.py
    kmeans_centroids — exact integer math, so value-identical by design.
    ``train_bp`` < 10000 trains on the vec_id hash-sample (tvecs), matching
    the Spark side's explicit-rate path; otherwise ``train_cap`` (pass
    similarity.TRAIN_CAP to mirror the Spark default) applies the
    bounded-training predicate."""
    if train_cap is None:
        train_cap = similarity.TRAIN_CAP
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    train_where = (
        f"WHERE {hash64_sql('CAST(vec_id AS VARCHAR)')} % 10000 < {train_bp}"
        if train_bp < 10000
        else _train_cap_where("SELECT COUNT(*) FROM qvecs", train_cap)
    )
    parts = [
        f"""qvecs AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
        FROM embeddings
    ),
    tvecs AS MATERIALIZED (
        SELECT vec_id, qvec FROM qvecs {train_where}
    ),
    c0 AS (
        SELECT row_number() OVER (
                   ORDER BY {hash64_sql("CAST(vec_id AS VARCHAR)")}, vec_id
               ) - 1 AS cid,
               qvec AS cvec
        FROM tvecs
        ORDER BY {hash64_sql("CAST(vec_id AS VARCHAR)")}, vec_id
        LIMIT {k}
    )"""
    ]
    for it in range(iters):
        parts.append(f"""a{it} AS (
        SELECT vec_id, qvec, cid, dist FROM (
            SELECT v.vec_id, v.qvec, c.cid, {dist} AS dist,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM tvecs v CROSS JOIN c{it} c
        ) WHERE rn = 1
    ),
    u{it} AS (
        SELECT cid, list(m ORDER BY dim) AS cvec FROM (
            SELECT cid, dim, CAST((s - (s % n)) // n AS BIGINT) AS m FROM (
                SELECT cid, SUM(v) AS s, COUNT(*) AS n, dim FROM (
                    SELECT cid, unnest(qvec) AS v,
                           unnest(generate_series(1, {dim})) AS dim
                    FROM a{it}
                ) GROUP BY cid, dim
            )
        ) GROUP BY cid
    ),
    c{it + 1} AS (
        SELECT p.cid, COALESCE(u.cvec, p.cvec) AS cvec
        FROM c{it} p LEFT JOIN u{it} u USING (cid)
    )""")
    return ",\n    ".join(parts)


def _ivf_assign_oracle(
    k: int, iters: int, dim: int, scale: int, train_bp: int = 10000
) -> str:
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale, train_bp)}
    SELECT vec_id, cid, CAST(dist AS BIGINT) AS dist FROM (
        SELECT v.vec_id, c.cid, {dist} AS dist,
               row_number() OVER (
                   PARTITION BY v.vec_id ORDER BY {dist}, c.cid
               ) AS rn
        FROM qvecs v CROSS JOIN c{iters} c
    ) WHERE rn = 1
    """


_OUTLIER_N = 20


def _semantic_outliers_oracle() -> str:
    k, iters, dim, scale = (
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
    )
    base = _ivf_assign_oracle(k, iters, dim, scale)
    return f"""
    SELECT vec_id, cid, dist FROM ({base})
    ORDER BY dist DESC, vec_id LIMIT {_OUTLIER_N}
    """


@_register("dq_semantic_outliers", _semantic_outliers_oracle())
def dq_semantic_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic outlier detection: the vectors FURTHEST from their nearest
    learned k-means centroid — embeddings no cluster explains, i.e. the
    junk/anomaly candidates a curation pass reviews first (completes the
    dq_ family's distributional checks with an embedding-space one). The
    distance is the exact scaled-int64 assignment distance (no float
    surface); deterministic ties by vec_id; TakeOrdered top-N on top of
    the ann_ivf_assign plan."""
    return (
        similarity.ivf_assignments(_t(spark, sf_dir, "embeddings"))
        .orderBy(F.desc("dist"), F.asc("vec_id"))
        .limit(_OUTLIER_N)
    )


def _ivf_topk_oracle(k: int, iters: int, dim: int, scale: int, nprobe: int, topk: int) -> str:
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    qdist = (
        "list_sum([ (v.qvec[i] - q.q[i]) * (v.qvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    cdist = (
        "list_sum([ (c.cvec[i] - q.q[i]) * (c.cvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    qry AS (SELECT qvec AS q FROM qvecs ORDER BY vec_id LIMIT 1),
    probe AS (
        SELECT cid FROM c{iters} c CROSS JOIN qry q
        ORDER BY {cdist}, cid LIMIT {nprobe}
    ),
    afinal AS (
        SELECT vec_id, qvec, cid FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    )
    SELECT vec_id, CAST({qdist} AS BIGINT) AS dist
    FROM afinal v JOIN probe USING (cid) CROSS JOIN qry q
    ORDER BY dist, vec_id LIMIT {topk}
    """


@_register(
    "ann_ivf_assign",
    _ivf_assign_oracle(
        similarity.IVF_K, similarity.IVF_ITERS, similarity.IVF_DIM, similarity.IVF_SCALE
    ),
)
def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build: deterministic integer k-means (fixed Lloyd rounds,
    exact int math → bit-identical across engines AND partitionings); output
    is every vector's inverted-list assignment."""
    return similarity.ivf_assignments(_t(spark, sf_dir, "embeddings"))


_IVF_TRAIN_BP = 5000  # sampled-training probe: train on half the corpus


@_register(
    "ann_ivf_sampled_train",
    _ivf_assign_oracle(
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
        train_bp=_IVF_TRAIN_BP,
    ),
)
def ann_ivf_sampled_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB IVF training shape: Lloyd rounds run on a deterministic
    vec_id hash-sample (here half the corpus; a few bp at real scale —
    centroid quality needs ~10⁴–10⁶ vectors, not 10⁹), then EVERY vector
    is assigned in one broadcast-join scan. Exchange count per Lloyd round
    is unchanged vs full training; only the training scan width shrinks.
    The oracle trains on the identical hash-bucket subset."""
    return similarity.ivf_assignments(
        _t(spark, sf_dir, "embeddings"), train_bp=_IVF_TRAIN_BP
    )


@_register(
    "ann_ivf_topk",
    _ivf_topk_oracle(
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
        similarity.IVF_NPROBE,
        similarity.TOPK,
    ),
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search: probe the nprobe nearest learned centroids, exact top-k
    within those lists only — touches nprobe/k of the corpus."""
    return similarity.ivf_topk(_t(spark, sf_dir, "embeddings"))


@_register(
    "s4_quantile_bins",
    f"""
    SELECT doc_id, n_chars,
           CAST(ntile(10) OVER (ORDER BY n_chars, doc_id) AS INT) AS bin
    FROM documents
    """,
)
def s4_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decile binning of a quality signal with deterministic tiebreak
    — curriculum/quality buckets that reproduce bit-identically across
    engines (percentile sketches don't)."""
    from solana_etl_spark.operators.sampling import quantile_bins

    return quantile_bins(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "n_chars",
        "doc_id",
        10,
    )


@_register(
    "a14_kmv_distinct",
    f"""
    WITH h AS (
        SELECT DISTINCT {hash64_sql("CAST(o_custkey AS VARCHAR)")} AS h
        FROM orders
    ),
    k AS (SELECT h FROM h ORDER BY h LIMIT 256)
    SELECT COUNT(*) AS n_hashes, MAX(h) AS kth_hash,
           CASE WHEN COUNT(*) < 256 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE ROUND(255 / (CAST(MAX(h) AS DOUBLE) / POWER(2, 60)), 4)
           END AS est_distinct
    FROM k
    """,
)
def a14_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch (SURVEY §2.4 'approx aggregates: absent in
    reference'). Unlike approx_count_distinct's HLL, the KMV estimate is
    bit-reproducible cross-engine, so it keeps the value-hash oracle.
    Plan: distinct shuffle on the 60-bit hash + TakeOrdered (per-partition
    partial top-k — no global sort)."""
    from solana_etl_spark.operators.sampling import kmv_distinct

    return kmv_distinct(_t(spark, sf_dir, "orders"), "o_custkey", 256)


@_register(
    "profile_documents",
    """
    WITH one AS (
        SELECT COUNT(*) AS n_rows,
               COUNT(CASE WHEN doc_id IS NULL THEN 1 END) AS nulls_doc_id,
               COUNT(DISTINCT doc_id) AS nd_doc_id,
               CAST(MIN(doc_id) AS VARCHAR) AS min_doc_id,
               CAST(MAX(doc_id) AS VARCHAR) AS max_doc_id,
               CAST(NULL AS DOUBLE) AS avglen_doc_id,
               COUNT(CASE WHEN lang IS NULL THEN 1 END) AS nulls_lang,
               COUNT(DISTINCT lang) AS nd_lang,
               CAST(MIN(lang) AS VARCHAR) AS min_lang,
               CAST(MAX(lang) AS VARCHAR) AS max_lang,
               ROUND(AVG(length(lang)), 6) AS avglen_lang,
               COUNT(CASE WHEN source IS NULL THEN 1 END) AS nulls_source,
               COUNT(DISTINCT source) AS nd_source,
               CAST(MIN(source) AS VARCHAR) AS min_source,
               CAST(MAX(source) AS VARCHAR) AS max_source,
               ROUND(AVG(length(source)), 6) AS avglen_source,
               COUNT(CASE WHEN n_chars IS NULL THEN 1 END) AS nulls_n_chars,
               COUNT(DISTINCT n_chars) AS nd_n_chars,
               CAST(MIN(n_chars) AS VARCHAR) AS min_n_chars,
               CAST(MAX(n_chars) AS VARCHAR) AS max_n_chars,
               CAST(NULL AS DOUBLE) AS avglen_n_chars
        FROM documents
    )
    SELECT u.column, one.n_rows, u.n_nulls, u.n_distinct,
           u.min_value, u.max_value, u.avg_len
    FROM one, (
        SELECT 'doc_id' AS column, nulls_doc_id AS n_nulls, nd_doc_id AS n_distinct,
               min_doc_id AS min_value, max_doc_id AS max_value, avglen_doc_id AS avg_len FROM one
        UNION ALL
        SELECT 'lang', nulls_lang, nd_lang, min_lang, max_lang, avglen_lang FROM one
        UNION ALL
        SELECT 'source', nulls_source, nd_source, min_source, max_source, avglen_source FROM one
        UNION ALL
        SELECT 'n_chars', nulls_n_chars, nd_n_chars, min_n_chars, max_n_chars, avglen_n_chars FROM one
    ) u
    """,
)
def profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan per-column dataset profile (operators/profile.py): counts,
    nulls, exact distinct, min/max, avg string length — the data-card pass a
    pipeline runs before mixing a corpus in."""
    from solana_etl_spark.operators.profile import profile_table

    return profile_table(
        _t(spark, sf_dir, "documents"), ["doc_id", "lang", "source", "n_chars"]
    )


@_register(
    "skew_salted_join",
    # The salt is internal plumbing: the salted join's CONTRACT is exact
    # equality with the plain equi-join, so the oracle IS the plain join.
    """
    SELECT l.l_orderkey, l.l_extendedprice, o.o_orderstatus, o.o_custkey
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted fact⋈dim join (operators/skew.py): lineitem
    salted by whole-row xxhash64, orders replicated 8×, joined on
    (key, salt). Result must be row-identical to the plain join — the salt
    only reshapes the shuffle."""
    from solana_etl_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus", "o_custkey"
    )
    return salted_join(li, o, ["l_orderkey"], n_salts=8).select(
        "l_orderkey", "l_extendedprice", "o_orderstatus", "o_custkey"
    )


@_register(
    "skew_count_distinct",
    """
    SELECT o_orderstatus, COUNT(DISTINCT o_custkey) AS n_distinct
    FROM orders GROUP BY o_orderstatus
    """,
)
def skew_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase exact count-distinct (operators/skew.py): phase-1 reduce on
    (status, custkey) spreads a hot status across the cluster; phase 2
    counts per status. Exactly COUNT(DISTINCT)."""
    from solana_etl_spark.operators.skew import two_phase_count_distinct

    return two_phase_count_distinct(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_custkey"
    )


# ---------------------------------------------------------------------------
# 5. Multimodal + sessionization (charter §2.11 / §2.10)
# ---------------------------------------------------------------------------


@_register(
    "mm_binary_metadata",
    """
    SELECT doc_id AS media_id, 'text/plain' AS mime,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def mm_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return binary_metadata(_t(spark, sf_dir, "documents"))


@_register(
    "st_sessionize",
    f"""
    WITH e AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {SESSION_GAP_SECONDS} * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
        FROM e
    ),
    p AS (SELECT user_id, session_id, COUNT(*) AS n_events FROM s GROUP BY 1, 2)
    SELECT user_id, COUNT(*) AS n_sessions, MAX(n_events) AS max_session_events
    FROM p GROUP BY user_id
    """,
)
def st_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(_t(spark, sf_dir, "events"))


# Fused decode/feature/resize mapInPandas surface. Every kernel output is a
# deterministic function of the payload (md5, len%640+1 fake decode, cyclic
# repeat-resample resize), and documents are ASCII (bytes==chars), so the
# whole Python-kernel stage gets a value-hash oracle — no rows-only checks
# left on the §2.9 UDTF surface.
@_register(
    "mm_decode_features",
    """
    SELECT doc_id AS media_id,
           'text/plain' AS mime,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5,
           octet_length(encode(text)) % 640 + 1 AS src_width,
           octet_length(encode(text)) % 480 + 1 AS src_height,
           CAST(32 AS BIGINT) AS width,
           CAST(32 AS BIGINT) AS height,
           md5(substring(repeat(text, CAST(1024 // octet_length(encode(text)) AS INT) + 1),
                         1, 1024)) AS resized_md5
    FROM documents
    """,
)
def mm_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solana_etl_spark.operators.multimodal import (
        decode_report,
        documents_as_media,
    )

    return decode_report(documents_as_media(_t(spark, sf_dir, "documents")))


def _phash_oracle() -> str:
    """Ground-truth dHash pairs from the PIXEL ARRAY (the Spark side hashes
    from the PNG payload through the real decoder — the payload/pixels
    pairing in the synthetic table is the cross-check of the decode path):
    integer cell sums on the 6x11 grid, exact cross-multiplied mean
    comparisons, then the brute-force all-pairs hamming definition the
    banded-LSH plan provably equals (pigeonhole, max_hamming 3 < 4 bands)."""
    from solana_etl_spark.operators.multimodal import (
        DHASH_GRID_COLS,
        DHASH_GRID_ROWS,
    )
    from solana_etl_spark.sources.synth import (
        IMAGES_VERSION,
        N_IMAGES,
        _tables_root,
    )

    d = f"{_tables_root()}/img_v{IMAGES_VERSION}_{N_IMAGES}"
    gr, gc = DHASH_GRID_ROWS, DHASH_GRID_COLS
    return f"""
    WITH pix AS (
        SELECT img_id, width, height,
               generate_subscripts(pixels, 1) - 1 AS i, unnest(pixels) AS px
        FROM read_parquet('{d}/images.parquet')
    ),
    cells AS (
        SELECT img_id,
               ((i // width) * {gr}) // height AS gy,
               ((i % width) * {gc}) // width AS gx,
               CAST(SUM(px) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
        FROM pix GROUP BY img_id, gy, gx
    ),
    bits AS (
        SELECT l.img_id, (l.gy * {gc - 1} + l.gx) AS idx,
               CASE WHEN r.s * l.n > l.s * r.n THEN 1 ELSE 0 END AS bit
        FROM cells l JOIN cells r
          ON r.img_id = l.img_id AND r.gy = l.gy AND r.gx = l.gx + 1
    ),
    h AS (
        SELECT img_id,
               CAST(SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << idx))
                    AS BIGINT) AS dhash
        FROM bits GROUP BY img_id
    )
    SELECT a.img_id AS img_a, b.img_id AS img_b,
           bit_count(xor(a.dhash, b.dhash)) AS hamming
    FROM h a JOIN h b ON a.img_id < b.img_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    """


def _image_dims_oracle() -> str:
    from solana_etl_spark.sources.synth import (
        IMAGES_VERSION,
        N_IMAGES,
        _tables_root,
    )

    d = f"{_tables_root()}/img_v{IMAGES_VERSION}_{N_IMAGES}"
    # mime by construction: the v3 table is N_IMAGES PNG rows followed by
    # the JPEG section (this DuckDB build cannot slice BLOBs to sniff)
    return f"""
    SELECT img_id AS media_id,
           CASE WHEN img_id < {N_IMAGES}
                THEN 'image/png' ELSE 'image/jpeg' END AS mime,
           CAST(octet_length(payload) AS BIGINT) AS n_bytes,
           CAST(width AS BIGINT) AS src_width,
           CAST(height AS BIGINT) AS src_height
    FROM read_parquet('{d}/images.parquet')
    """


@_register("mm_image_dims", _image_dims_oracle())
def mm_image_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode certified on dimensions: every payload of the
    mixed PNG + baseline-JPEG fixture table goes through the vendored
    decoders (operators/multimodal.py decode_dims — functions/png.py for
    PNG, functions/jpeg.py for JPEG, the r8 real-decode path for the
    format that dominates web crawls), and the decoded width/height must
    equal the table's ground-truth columns. The mime is sniffed from the
    payload signature (multimodal._sniff_codec), as the oracle's CASE
    does."""
    from solana_etl_spark.operators.multimodal import (
        _sniff_codec,
        decode_dims,
        map_payloads,
    )
    from solana_etl_spark.sources.synth import ensure_images_table

    d = ensure_images_table()
    media = spark.read.parquet(f"{d}/images.parquet").select(
        F.col("img_id").alias("media_id"), "payload"
    )

    def dims(payload):
        mime = _sniff_codec(payload).CAN_DECODE[0]
        return ((mime, len(payload), *decode_dims(payload, mime)),)

    return map_payloads(
        media,
        dims,
        "media_id long, mime string, n_bytes long, src_width long, src_height long",
    )


@_register("mm_phash_dedup", _phash_oracle())
def mm_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup over REAL decoded pixels: the synthetic
    image table (sources/synth.py ensure_images_table — real PNG payloads
    + ground-truth pixel arrays) flows through the Arrow-batched decode
    kernel (operators/multimodal.py dhash_images, vendored codec), each
    image reduces to a 60-bit gradient dHash, and near-dup pairs come
    from the shared banded Hamming-LSH (operators/dedup.py
    banded_hamming_pairs — exact by pigeonhole). The oracle recomputes
    everything from the PIXEL ARRAYS, so a decode divergence anywhere in
    the PNG path fails the value hash."""
    from solana_etl_spark.operators.multimodal import dhash_pairs
    from solana_etl_spark.sources.synth import ensure_images_table

    d = ensure_images_table()
    media = spark.read.parquet(f"{d}/images.parquet").select(
        F.col("img_id").alias("media_id"), "payload"
    )
    return dhash_pairs(media)


def _audio_dir() -> str:
    from solana_etl_spark.sources.synth import (
        AUDIO_VERSION,
        N_CLIPS,
        _tables_root,
    )

    return f"{_tables_root()}/wav_v{AUDIO_VERSION}_{N_CLIPS}"


def _audio_decode_oracle() -> str:
    """Ground-truth clip features from the PCM SAMPLE ARRAY (the Spark
    side decodes the WAV payload through the vendored RIFF parser — the
    payload/samples pairing cross-checks the chunk walk): exact integer
    duration/peak/energy and strict sign-product zero crossings."""
    return f"""
    WITH s AS (
        SELECT clip_id, sample_rate, n_samples,
               generate_subscripts(samples, 1) AS i, unnest(samples) AS x
        FROM read_parquet('{_audio_dir()}/audio.parquet')
    ),
    lagged AS (
        SELECT clip_id, sample_rate, n_samples, x,
               LAG(x) OVER (PARTITION BY clip_id ORDER BY i) AS px
        FROM s
    )
    SELECT clip_id AS media_id,
           CAST(ANY_VALUE(sample_rate) AS INT) AS sample_rate,
           CAST(ANY_VALUE(n_samples) AS BIGINT) AS n_samples,
           CAST((CAST(ANY_VALUE(n_samples) AS BIGINT) * 1000000)
                // ANY_VALUE(sample_rate) AS BIGINT) AS duration_us,
           CAST(MAX(ABS(x)) AS BIGINT) AS peak_abs,
           CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS sum_sq,
           CAST(COALESCE(SUM(CASE WHEN CAST(px AS BIGINT) * x < 0
                                  THEN 1 END), 0) AS BIGINT)
               AS zero_crossings
    FROM lagged GROUP BY clip_id
    """


@_register("mm_audio_decode", _audio_decode_oracle())
def mm_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real audio decode over the synthetic WAV corpus
    (sources/synth.py ensure_audio_table — real RIFF payloads including
    extra-chunk re-serves + ground-truth PCM arrays): one Arrow-batched
    mapInPandas pass (operators/audio.py audio_decode_report, vendored
    functions/wav.py parser) reducing each payload to exact integer clip
    features. The oracle recomputes every feature from the SAMPLE
    ARRAYS, so a chunk-walk or PCM-extraction divergence anywhere in the
    WAV path fails the value hash."""
    from solana_etl_spark.operators.audio import audio_decode_report
    from solana_etl_spark.sources.synth import ensure_audio_table

    d = ensure_audio_table()
    media = spark.read.parquet(f"{d}/audio.parquet").select(
        F.col("clip_id").alias("media_id"), "payload"
    )
    return audio_decode_report(media)


def _audio_fp_cte() -> str:
    """The shared ground-truth fingerprint chain (→ CTE ``h``: clip_id,
    afp) from the PCM arrays: integer frame binning (i*FRAMES // n),
    exact cross-multiplied mean-energy comparisons, empty frames
    COALESCEd to 0-energy/0-count matching the kernel's accumulator."""
    from solana_etl_spark.operators.audio import AFP_FRAMES

    return f"""s AS (
        SELECT clip_id, n_samples,
               generate_subscripts(samples, 1) - 1 AS i, unnest(samples) AS x
        FROM read_parquet('{_audio_dir()}/audio.parquet')
    ),
    fr AS (
        SELECT clip_id, (CAST(i AS BIGINT) * {AFP_FRAMES}) // n_samples AS f,
               CAST(SUM(CAST(x AS BIGINT) * x) AS BIGINT) AS e,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM s GROUP BY clip_id, f
    ),
    grid AS (
        SELECT c.clip_id, g.f
        FROM (SELECT DISTINCT clip_id FROM s) c
        CROSS JOIN (SELECT unnest(generate_series(0, {AFP_FRAMES - 1})) AS f) g
    ),
    framed AS (
        SELECT grid.clip_id, grid.f,
               COALESCE(fr.e, 0) AS e, COALESCE(fr.n, 0) AS n
        FROM grid LEFT JOIN fr
          ON fr.clip_id = grid.clip_id AND fr.f = grid.f
    ),
    bits AS (
        SELECT l.clip_id, l.f AS idx,
               CASE WHEN r.e * l.n > l.e * r.n THEN 1 ELSE 0 END AS bit
        FROM framed l JOIN framed r
          ON r.clip_id = l.clip_id AND r.f = l.f + 1
    ),
    h AS (
        SELECT clip_id,
               CAST(SUM(CAST(bit AS BIGINT) * (CAST(1 AS BIGINT) << idx))
                    AS BIGINT) AS afp
        FROM bits GROUP BY clip_id
    )"""


def _audio_fp_oracle() -> str:
    """Fingerprint pairs over the shared chain: the brute-force
    all-pairs hamming the banded-LSH plan provably equals (pigeonhole,
    AFP_MAX_HAMMING < AFP_BANDS). Thresholds interpolate from
    operators/audio.py so a geometry edit cannot desynchronize the
    mirror."""
    from solana_etl_spark.operators.audio import AFP_MAX_HAMMING

    return f"""
    WITH {_audio_fp_cte()}
    SELECT a.clip_id AS clip_a, b.clip_id AS clip_b,
           bit_count(xor(a.afp, b.afp)) AS hamming
    FROM h a JOIN h b ON a.clip_id < b.clip_id
    WHERE bit_count(xor(a.afp, b.afp)) <= {AFP_MAX_HAMMING}
    """


@_register("mm_audio_fp_dedup", _audio_fp_oracle())
def mm_audio_fp_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-fingerprint audio dedup over REAL decoded PCM: each WAV
    payload decodes through the vendored RIFF parser, reduces to a 60-bit
    energy-gradient fingerprint (integer-exact, amplitude-scale
    invariant — the corpus's amplitude-doubled and extra-chunk re-served
    copies collide by construction), and near-dup pairs come from the
    SAME banded Hamming-LSH the image dHash path uses. The oracle
    recomputes everything from the sample arrays."""
    from solana_etl_spark.operators.audio import audio_fingerprint_pairs
    from solana_etl_spark.sources.synth import ensure_audio_table

    d = ensure_audio_table()
    media = spark.read.parquet(f"{d}/audio.parquet").select(
        F.col("clip_id").alias("media_id"), "payload"
    )
    return audio_fingerprint_pairs(media)


def _stream_media_oracle() -> str:
    """Batch form of dominance dedup: keep clip b iff no clip a ≤ b sits
    within hamming 3 (a < b strictly — a clip never dominates itself in
    one pass; the ≤ in the stream rule exists so a RE-INGESTED corpus is
    suppressed by its own index rows). Two identical stream passes must
    therefore equal this single-pass relation."""
    from solana_etl_spark.operators.audio import AFP_MAX_HAMMING

    return f"""
    WITH {_audio_fp_cte()}
    SELECT b.clip_id AS media_id, b.afp
    FROM h b
    WHERE NOT EXISTS (
        SELECT 1 FROM h a
        WHERE a.clip_id < b.clip_id
          AND bit_count(xor(a.afp, b.afp)) <= {AFP_MAX_HAMMING}
    )
    """


@_register("stream_media_dedup", _stream_media_oracle())
def stream_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MEDIA ingest with perceptual-fingerprint dedup against
    the persisted index, as a REAL Structured-Streaming run
    (streaming/media_stream.py): the synthetic WAV corpus streams
    through twice (two files → two foreachBatch micro-batches, real
    Arrow-batched RIFF decode per batch); the first pass must equal the
    batch dominance-dedup relation (no equal-or-smaller-id clip within
    hamming 3) and the second pass must be fully suppressed by the
    fingerprint index — re-ingesting the corpus adds zero rows. The
    multimodal member of the stream-equals-batch gate family (7th row)."""
    from solana_etl_spark.sources.synth import ensure_audio_table
    from solana_etl_spark.streaming.media_stream import (
        start_streaming_media_dedup,
    )

    d = ensure_audio_table()
    media = spark.read.parquet(f"{d}/audio.parquet").select(
        F.col("clip_id").alias("media_id"), "payload"
    )
    return _stream_gate(
        spark,
        "media",
        [media.coalesce(1)] * 2,
        lambda stream, work: start_streaming_media_dedup(
            spark,
            stream,
            survivors_dir=f"{work}/out",
            index_dir=f"{work}/idx",
            checkpoint_dir=f"{work}/ckpt",
        ),
        lambda work: spark.read.parquet(f"{work}/out").select("media_id", "afp"),
    )


def _e2e_oracle() -> str:
    from solana_etl_spark.sources.synth import _default_root, CORPUS_VERSION, N_BLOCKS

    d = f"{_default_root()}/v{CORPUS_VERSION}_{N_BLOCKS}"
    delta = "t.meta.postBalances[i] - t.meta.preBalances[i]"
    series = "generate_series(1, len(t.meta.preBalances))"
    return f"""
    WITH b AS (
        SELECT regexp_extract(filename, '([^/]+)$', 1) AS path,
               result.blockTime AS time, result.blockhash AS blockhash,
               unnest(result.transactions) AS t
        FROM read_json('{d}/*/*.json.gz', filename=true, ignore_errors=true)
        WHERE result IS NOT NULL AND result.transactions IS NOT NULL
    )
    SELECT path,
           t.transaction.signatures[1] AS signature,
           time,
           t.meta.fee AS fee,
           t.meta.err IS NULL AS isSuccessful,
           CAST(len(t.transaction.message.instructions)
             + coalesce(list_sum([len(x.instructions) for x in t.meta.innerInstructions]), 0) AS BIGINT) AS numInstructions,
           len(t.transaction.message.accountKeys) AS numAccounts,
           CAST(coalesce(list_sum([CASE WHEN {delta} < 0 THEN {delta} ELSE 0 END
                              for i in {series}]), 0) AS BIGINT) AS lamportsOut,
           CAST(coalesce(list_sum([CASE WHEN {delta} > 0 THEN {delta} ELSE 0 END
                              for i in {series}]), 0) AS BIGINT) AS lamportsIn,
           blockhash
    FROM b
    """


@_register("solana_e2e", _e2e_oracle())
def solana_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ETL pipeline over the 240-block synthetic corpus (read →
    normalize → transactions task), checked column-by-column against an
    INDEPENDENT DuckDB computation from the raw block JSON — not against
    anything this pipeline wrote. Covers S6/S7 many-file read, T1/J1/J3
    flatten+zip, F2 success split, and per-row counts at a scale the
    two-fixture golden suite cannot (VERDICT r1 item 8). The corpus also
    carries missing-result and malformed-JSON probes, which must be isolated
    (not crash the job, not appear in the output)."""
    from solana_etl_spark.plans.tasks import transactions_task
    from solana_etl_spark.plans.views import transactions_view
    from solana_etl_spark.sources import read_blocks
    from solana_etl_spark.sources.synth import ensure_e2e_corpus

    corpus = ensure_e2e_corpus()
    blocks = read_blocks(spark, f"{corpus}/*/*.json.gz")
    txs = transactions_view(blocks.filter(F.col("_corrupt_record").isNull()))
    return transactions_task(txs).select(
        "path",
        "signature",
        "time",
        "fee",
        "isSuccessful",
        F.col("numInstructions").cast("long").alias("numInstructions"),
        F.col("numAccounts").cast("long").alias("numAccounts"),
        "lamportsOut",
        "lamportsIn",
        "blockhash",
    )


def _graph_degrees_oracle() -> str:
    from solana_etl_spark.sources.synth import _default_root, CORPUS_VERSION, N_BLOCKS

    d = f"{_default_root()}/v{CORPUS_VERSION}_{N_BLOCKS}"
    return f"""
    WITH b AS (
        SELECT unnest(result.transactions) AS t
        FROM read_json('{d}/*/*.json.gz', filename=true, ignore_errors=true)
        WHERE result IS NOT NULL AND result.transactions IS NOT NULL
    ), ok AS (SELECT t FROM b WHERE t.meta.err IS NULL),
    ins AS (SELECT unnest(t.transaction.message.instructions) AS i FROM ok),
    x AS (
        SELECT json_extract_string(i.parsed, '$.info.source') AS src,
               json_extract_string(i.parsed, '$.info.destination') AS dst,
               CAST(json_extract_string(i.parsed, '$.info.lamports') AS BIGINT) AS v
        FROM ins
        WHERE i.program = 'system'
          AND json_extract_string(i.parsed, '$.type') = 'transfer'
    ),
    o AS (SELECT src AS account, COUNT(*) AS n, SUM(v) AS l FROM x GROUP BY src),
    i2 AS (SELECT dst AS account, COUNT(*) AS n, SUM(v) AS l FROM x GROUP BY dst)
    SELECT COALESCE(o.account, i2.account) AS account,
           CAST(COALESCE(o.n, 0) AS BIGINT) AS out_transfers,
           CAST(COALESCE(i2.n, 0) AS BIGINT) AS in_transfers,
           CAST(COALESCE(o.l, 0) AS BIGINT) AS lamports_out,
           CAST(COALESCE(i2.l, 0) AS BIGINT) AS lamports_in,
           CAST(COALESCE(i2.l, 0) - COALESCE(o.l, 0) AS BIGINT) AS net_lamports
    FROM o FULL OUTER JOIN i2 ON o.account = i2.account
    """


@_register("solana_graph_degrees", _graph_degrees_oracle())
def solana_graph_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the S12 edge list: per-account in/out degree and
    net lamport flow from the coin-transfer graph of the 240-block corpus,
    checked against an independent DuckDB extraction from the raw JSON.
    Spark shape: edge aggregation (one shuffle per direction, both partially
    aggregated) + full-outer merge on account."""
    from solana_etl_spark.api import coin_transfer_edges
    from solana_etl_spark.sources import read_blocks
    from solana_etl_spark.sources.synth import ensure_e2e_corpus

    corpus = ensure_e2e_corpus()
    edges = coin_transfer_edges(
        read_blocks(spark, f"{corpus}/*/*.json.gz").filter(
            F.col("_corrupt_record").isNull()
        )
    )
    # ONE scan of the (expensive: 240 gzip files, whole-file JSON parse)
    # edge subtree: explode each edge into its two (account, direction)
    # halves and conditional-sum — instead of two groupBy branches that
    # would each recompute the read, joined full-outer.
    halves = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("source").alias("account"),
                    F.lit(1).alias("is_out"),
                    F.col("n_transfers").alias("n"),
                    F.col("value").alias("v"),
                ),
                F.struct(
                    F.col("destination").alias("account"),
                    F.lit(0).alias("is_out"),
                    F.col("n_transfers").alias("n"),
                    F.col("value").alias("v"),
                ),
            )
        ).alias("h")
    ).select("h.*")
    out_flag = F.col("is_out") == 1
    return halves.groupBy("account").agg(
        F.coalesce(F.sum(F.when(out_flag, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("out_transfers"),
        F.coalesce(F.sum(F.when(~out_flag, F.col("n"))), F.lit(0))
        .cast("long")
        .alias("in_transfers"),
        F.coalesce(F.sum(F.when(out_flag, F.col("v"))), F.lit(0))
        .cast("long")
        .alias("lamports_out"),
        F.coalesce(F.sum(F.when(~out_flag, F.col("v"))), F.lit(0))
        .cast("long")
        .alias("lamports_in"),
        (
            F.coalesce(F.sum(F.when(~out_flag, F.col("v"))), F.lit(0))
            - F.coalesce(F.sum(F.when(out_flag, F.col("v"))), F.lit(0))
        )
        .cast("long")
        .alias("net_lamports"),
    )


# Frame sampling is positional chunking → fully SQL-expressible, so the
# one-to-many mapInPandas kernel gets a real value-hash oracle (documents
# are ASCII, so VARCHAR substring/md5 == byte-wise slicing/md5).
@_register(
    "mm_frame_sample",
    """
    WITH m AS (
        SELECT doc_id AS media_id, text, octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    f AS (
        SELECT media_id, text, n_bytes,
               unnest(generate_series(
                   0, CAST(floor((n_bytes - 1) / 64.0) AS BIGINT), 4
               )) AS frame_idx
        FROM m
    )
    SELECT media_id, frame_idx,
           CAST(least(64, n_bytes - frame_idx * 64) AS BIGINT) AS frame_len,
           md5(substring(text, CAST(frame_idx * 64 + 1 AS BIGINT), 64)) AS frame_md5
    FROM f
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from solana_etl_spark.operators.multimodal import (
        documents_as_media,
        sample_frames,
    )

    return sample_frames(documents_as_media(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# 6. Snapshot maintenance (charter: 100 TB corpora are maintained, not
#    rebuilt — CDC MERGE/upsert; operators/merge.py)
# ---------------------------------------------------------------------------


@_register(
    "merge_upsert_snapshot",
    # Same latest-writer-wins contract spelled in ANSI SQL: QUALIFY picks
    # the winning change per key (version desc, delete-beats-update tie),
    # ANTI JOIN keeps untouched base rows, winners that aren't deletes are
    # appended. Per-row double arithmetic (*2.0) is IEEE-deterministic in
    # both engines — no decimal scaffolding needed without aggregation.
    """
    WITH base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ), changes AS (
        SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
               o_totalprice * 2.0 AS o_totalprice, 'U' AS op, 1 AS version
        FROM base WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D', 2
        FROM base WHERE o_orderkey % 11 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, 'T', o_totalprice, 'U', 2
        FROM base WHERE o_orderkey % 33 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N',
               CAST(0.0 AS DOUBLE), 'U', 1
        FROM base WHERE o_orderkey % 97 = 0
    ), latest AS (
        SELECT * FROM changes
        QUALIFY row_number() OVER (
            PARTITION BY o_orderkey ORDER BY version DESC, (op = 'D') DESC
        ) = 1
    )
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice
    FROM base b ANTI JOIN latest l USING (o_orderkey)
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM latest WHERE op <> 'D'
    """,
)
def merge_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/merge.py): a derived changeset — updates
    (key%7), deletes (key%11), a same-version delete/update tie (key%33),
    inserts (key%97) — applied latest-writer-wins to the orders snapshot.
    Broadcast strategy: the base never shuffles."""
    from solana_etl_spark.operators.merge import merge_snapshot

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    key = F.col("o_orderkey")
    upd = (
        base.filter(key % 7 == 0)
        .withColumn("o_orderstatus", F.lit("R"))
        .withColumn("o_totalprice", F.col("o_totalprice") * F.lit(2.0))
        .withColumn("op", F.lit("U"))
        .withColumn("version", F.lit(1))
    )
    dele = (
        base.filter(key % 11 == 0)
        .withColumn("op", F.lit("D"))
        .withColumn("version", F.lit(2))
    )
    tie = (
        base.filter(key % 33 == 0)
        .withColumn("o_orderstatus", F.lit("T"))
        .withColumn("op", F.lit("U"))
        .withColumn("version", F.lit(2))
    )
    ins = (
        base.filter(key % 97 == 0)
        .withColumn("o_orderkey", key + F.lit(10_000_000))
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("o_totalprice", F.lit(0.0))
        .withColumn("op", F.lit("U"))
        .withColumn("version", F.lit(1))
    )
    changes = upd.unionByName(dele).unionByName(tie).unionByName(ins)
    return merge_snapshot(base, changes, ["o_orderkey"], "version", "op")


_ZORDER_BITS = 12


def _zorder_oracle() -> str:
    # identical bit-interleave spelled as SQL by the same generator the
    # operator uses — pure integer arithmetic, bit-exact in both engines
    from solana_etl_spark.operators.layout import zorder_key_sql

    interleave = zorder_key_sql(["l_orderkey", "l_partkey"], _ZORDER_BITS)
    return f"""
    SELECT l_orderkey, l_partkey, {interleave} AS zorder_key
    FROM lineitem WHERE l_orderkey % 50 = 0
    """


@_register("layout_zorder_key", _zorder_oracle())
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (operators/layout.py): interleave the low 12
    bits of (l_orderkey, l_partkey) so one sort order gives both columns
    file-level locality. Codegen'd integer expressions, zero shuffle."""
    from solana_etl_spark.operators.layout import zorder_key

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_partkey",
        zorder_key([F.col("l_orderkey"), F.col("l_partkey")], _ZORDER_BITS),
    )


_SHARD_N, _SHARD_BUCKETS = 8, 256


def _shard_plan_oracle() -> str:
    from solana_etl_spark.functions.hashing import hash64_sql

    h = hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH per_bucket AS (
        SELECT {h} % {_SHARD_BUCKETS} AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS bw
        FROM documents
        GROUP BY 1
    ), dealt AS (
        SELECT *,
               (ROW_NUMBER() OVER (ORDER BY bw DESC, bucket ASC) - 1)
                   % {_SHARD_N} AS shard
        FROM per_bucket
    )
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(bw) AS BIGINT) AS total_weight
    FROM dealt GROUP BY shard
    """


@_register("layout_shard_balance", _shard_plan_oracle())
def layout_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-balanced training-shard plan
    (operators/layout.py:balanced_shard_plan): hash docs into 256
    deterministic buckets (one map-side-combined pass), deal the BUCKET
    aggregate to 8 shards longest-first round-robin. The only window runs
    over the 256-row bucket table — bounded state regardless of corpus
    size, so the plan survives 100 TB where per-row NTILE would not."""
    from solana_etl_spark.operators.layout import balanced_shard_plan

    return balanced_shard_plan(
        _t(spark, sf_dir, "documents"),
        key_col="doc_id",
        weight_col="n_chars",
        n_shards=_SHARD_N,
        n_buckets=_SHARD_BUCKETS,
    )


@_register(
    "q13_order_count_distribution",
    # TPC-H Q13 shape: outer join preserved through an aggregate, then a
    # histogram over the aggregate — COUNT(col) null-skipping does the
    # customers-with-zero-orders bookkeeping
    """
    WITH c_orders AS (
        SELECT c_custkey, COUNT(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        GROUP BY c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist FROM c_orders GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join count distribution (TPC-H Q13 shape): broadcast the
    customer side? No — both sides large at scale; shuffle join on custkey,
    then the histogram is a tiny second aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (c["c_custkey"] == o["o_custkey"])
        & (o["o_orderpriority"] != "1-URGENT"),
        "left",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@_register(
    "q20_nested_semijoin_agg",
    # TPC-H Q20 shape: IN-subquery over a grouped HAVING — Catalyst
    # decorrelates to aggregate -> left-semi join
    """
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_type IN ('PROMO', 'ECONOMY')
        GROUP BY l_suppkey, l_partkey
        HAVING SUM(l_quantity) > 110
    )
    """,
)
def q20_nested_semijoin_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested semi-join over a grouped HAVING (TPC-H Q20 shape), written as
    SQL so Catalyst's decorrelation produces the agg→semi-join plan (part
    dim broadcast into the lineitem scan)."""
    for t in ("supplier", "lineitem", "part"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT s_suppkey, s_name, s_acctbal FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_type IN ('PROMO', 'ECONOMY')
            GROUP BY l_suppkey, l_partkey
            HAVING SUM(l_quantity) > 110
        )
        """
    )


# published example weights for the model-score query (a trained model is
# a plain float vector; inference must be reproducible given one)
_QUALITY_W = [-1.0, 1.5, 2.0, -4.0, -2.5, 3.0]


def _quality_z_sql() -> str:
    """The quality model's z-score as one SQL expression over ``text`` —
    shared by quality_model_score and pref_pairs_quality."""
    stops = ", ".join(f"'{w}'" for w in text_ops.EN_STOPWORDS)
    f = [
        "1.0",
        "ROUND(length(trim(text)) / CAST(1000 AS DOUBLE), 9)",
        f"ROUND(len({_TOKENS_SQL}) / CAST(200 AS DOUBLE), 9)",
        "ROUND(length(regexp_replace(text, '[^.,;:!?''\"]', '', 'g'))"
        " / CAST(greatest(length(trim(text)), 1) AS DOUBLE), 9)",
        "ROUND(length(regexp_replace(text, '[^0-9]', '', 'g'))"
        " / CAST(greatest(length(trim(text)), 1) AS DOUBLE), 9)",
        f"ROUND(len(list_filter({_TOKENS_SQL}, t -> t IN ({stops})))"
        f" / CAST(greatest(len({_TOKENS_SQL}), 1) AS DOUBLE), 9)",
    ]
    # identical left-fold addition order as the Spark ``aggregate`` dot
    # product (0.0 seed, + term by term) — bit-identical doubles
    z = "0.0"
    for feat, w in zip(f, _QUALITY_W):
        z = f"({z} + (({feat}) * ({w!r})))"
    return z


def _quality_model_oracle() -> str:
    z = _quality_z_sql()
    return f"""
    SELECT doc_id, {z} AS z_score, {z} > 0.0 AS keep
    FROM documents
    """


@_register("quality_model_score", _quality_model_oracle())
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-model inference (operators/classifier.py): the
    deterministic text features dotted with a published weight vector as a
    sequential fold — pure codegen'd scan, bit-identical cross-engine.
    (Training is the iterative GD path, pytest-verified vs a numpy
    reference in tests/test_classifier.py.)"""
    from solana_etl_spark.operators.classifier import featurize, linear_score

    feats = featurize(_t(spark, sf_dir, "documents"))
    z = linear_score(F.col("features"), _QUALITY_W)
    return feats.select(
        "doc_id", z.alias("z_score"), (z > 0.0).alias("keep")
    )


def _pref_pairs_oracle() -> str:
    z = _quality_z_sql()
    # struct max/min give the deterministic extremes: lexicographic (z, ±id)
    # ordering == Spark's max(struct)/min(struct); -id flips the tie so both
    # extremes break toward the SMALLEST doc_id
    return f"""
    WITH scored AS (
        SELECT lang, source, doc_id, {z} AS z FROM documents
    ), agg AS (
        SELECT lang, source,
               max({{'z': z, 'nid': -doc_id}}) AS best,
               min({{'z': z, 'id': doc_id}}) AS worst,
               COUNT(*) AS n
        FROM scored GROUP BY lang, source
    )
    SELECT lang, source,
           CAST(-best.nid AS BIGINT) AS chosen_doc,
           CAST(worst.id AS BIGINT) AS rejected_doc,
           ROUND(best.z, 9) AS chosen_z,
           ROUND(worst.z, 9) AS rejected_z,
           ROUND(best.z - worst.z, 9) AS margin
    FROM agg
    WHERE n >= 2 AND best.z - worst.z > 0.0
    """


@_register("pref_pairs_quality", _pref_pairs_oracle())
def pref_pairs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF/DPO preference-pair construction (operators/preference.py):
    per (lang, source) context group, chosen = best-quality doc, rejected
    = worst, positive-margin filter. Single partial-aggregated groupBy —
    both extremes found in one pass via lexicographic struct max/min with
    deterministic doc-id tie-breaks; shuffle volume is group cardinality,
    not row count."""
    from solana_etl_spark.operators.classifier import featurize, linear_score
    from solana_etl_spark.operators.preference import preference_pairs

    feats = featurize(_t(spark, sf_dir, "documents"))
    return preference_pairs(
        feats,
        linear_score(F.col("features"), _QUALITY_W),
        ("lang", "source"),
    )


def _best_of_n_oracle() -> str:
    z = _quality_z_sql()
    return f"""
    WITH scored AS (
        SELECT doc_id // 8 AS prompt_id, doc_id, {z} AS z FROM documents
    ), agg AS (
        SELECT prompt_id,
               max({{'z': z, 'nid': -doc_id}}) AS best,
               COUNT(*) AS n_candidates,
               SUM(CAST(ROUND(z, 9) AS DECIMAL(28,9))) AS s
        FROM scored GROUP BY prompt_id
    )
    SELECT prompt_id,
           CAST(-best.nid AS BIGINT) AS best_doc,
           ROUND(best.z, 9) AS best_z,
           n_candidates,
           CAST(s AS DOUBLE) AS sum_z
    FROM agg
    """


@_register("pref_best_of_n", _best_of_n_oracle())
def pref_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rejection sampling / best-of-n (operators/preference.py best_of_n):
    8 consecutive docs form one candidate group; keep the argmax-quality
    candidate with count + exact-decimal score sum (mean left to the
    consumer — see best_of_n's half-way-tie note). One partial-agg
    groupBy, struct-max argmax, deterministic ties."""
    from solana_etl_spark.operators.classifier import featurize, linear_score
    from solana_etl_spark.operators.preference import best_of_n

    feats = featurize(_t(spark, sf_dir, "documents")).withColumn(
        "prompt_id", (F.col("doc_id") - F.col("doc_id") % 8) / F.lit(8)
    ).withColumn("prompt_id", F.col("prompt_id").cast("long"))
    return best_of_n(
        feats, linear_score(F.col("features"), _QUALITY_W), ("prompt_id",)
    )


def _dpo_e2e_oracle() -> str:
    z = _quality_z_sql()
    bucket = hash64_sql("CAST(pg_id AS VARCHAR)")
    return f"""
    WITH asst AS (
        SELECT doc_id // 4 AS conv_id, {z} AS z
        FROM documents WHERE (doc_id % 4) % 2 = 1
    ),
    perconv AS (
        -- round at 12, NOT 9: z terminates at 10 decimals (9-decimal
        -- features x 1-decimal weights), so a 9-decimal round sits on
        -- TRUE halves that the engines break differently (measured:
        -- 284/313 rows at sf0.1); 12 is beyond the terminating digit,
        -- making the round exact and tie-free on both engines
        SELECT conv_id, SUM(CAST(ROUND(z, 12) AS DECIMAL(28,12))) AS q
        FROM asst GROUP BY conv_id
    ),
    pg AS (SELECT conv_id // 4 AS pg_id, conv_id, q FROM perconv),
    agg AS (
        SELECT pg_id,
               max({{'q': q, 'nid': -conv_id}}) AS best,
               min({{'q': q, 'id': conv_id}}) AS worst,
               COUNT(*) AS n
        FROM pg GROUP BY pg_id
    )
    SELECT pg_id,
           CAST(-best.nid AS BIGINT) AS chosen_conv,
           CAST(worst.id AS BIGINT) AS rejected_conv,
           CAST(best.q AS DOUBLE) AS chosen_q,
           CAST(worst.q AS DOUBLE) AS rejected_q,
           CAST(best.q - worst.q AS DOUBLE) AS margin,
           CASE WHEN {bucket} % 10000 < 8000 THEN 'train'
                WHEN {bucket} % 10000 < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM agg WHERE n >= 2 AND best.q > worst.q
    """


@_register("pipeline_dpo_e2e", _dpo_e2e_oracle())
def pipeline_dpo_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO data capstone as ONE lazy plan: conversations → per-conversation
    completion quality (exact-decimal sum of per-assistant-turn 9-decimal
    quality scores — partition-order-independent) → per-candidate-group
    chosen/rejected extremes (one-pass struct max/min, deterministic id
    ties, positive-margin + ≥2-candidates filter) → leakage-safe
    train/val/test split hashed on the GROUP id (both sides of a pair
    always share a split). Three aggregates total, group-cardinality
    shuffles."""
    from solana_etl_spark.functions.hashing import hash64
    from solana_etl_spark.operators.classifier import featurize, linear_score
    from solana_etl_spark.operators.sft import ROLE_ASSISTANT, conversations

    conv = conversations(_t(spark, sf_dir, "documents"))
    z = linear_score(F.col("features"), _QUALITY_W)
    perconv = (
        featurize(conv.filter(F.col("role") == ROLE_ASSISTANT))
        .select(
            "conv_id", F.round(z, 12).cast("decimal(28,12)").alias("zq")
        )
        .groupBy("conv_id")
        .agg(F.sum("zq").alias("q"))
        .withColumn("pg_id", F.expr("conv_id div 4"))
    )
    best = F.max(F.struct(F.col("q"), (-F.col("conv_id")).alias("nid")))
    worst = F.min(F.struct(F.col("q"), F.col("conv_id").alias("id")))
    agg = perconv.groupBy("pg_id").agg(
        best.alias("_best"), worst.alias("_worst"), F.count("*").alias("_n")
    )
    bucket = hash64(F.col("pg_id").cast("string")) % 10000
    return (
        agg.filter((F.col("_n") >= 2) & (F.col("_best.q") > F.col("_worst.q")))
        .select(
            "pg_id",
            (-F.col("_best.nid")).alias("chosen_conv"),
            F.col("_worst.id").alias("rejected_conv"),
            F.col("_best.q").cast("double").alias("chosen_q"),
            F.col("_worst.q").cast("double").alias("rejected_q"),
            (F.col("_best.q") - F.col("_worst.q")).cast("double").alias("margin"),
            F.when(bucket < 8000, "train")
            .when(bucket < 9000, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


def _incr_agg_oracle() -> str:
    k = 128
    h = hash64_sql("CAST(l_partkey AS VARCHAR)")
    return f"""
    WITH h AS (
        SELECT DISTINCT l_returnflag, {h} AS h FROM lineitem
    ), r AS (
        SELECT l_returnflag, h,
               row_number() OVER (PARTITION BY l_returnflag ORDER BY h) AS rn
        FROM h
    ), kk AS (
        SELECT l_returnflag, COUNT(*) AS n_h, MAX(h) AS kth
        FROM r WHERE rn <= {k} GROUP BY l_returnflag
    ), agg AS (
        SELECT l_returnflag, COUNT(*) AS n_rows,
               CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS sum_price,
               MIN(l_quantity) AS qty_min, MAX(l_quantity) AS qty_max,
               ROUND(CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*), 9) AS avg_qty
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT agg.l_returnflag, agg.n_rows, agg.sum_qty, agg.sum_price,
           agg.qty_min, agg.qty_max, agg.avg_qty,
           CASE WHEN kk.n_h < {k} THEN CAST(kk.n_h AS DOUBLE)
                ELSE ROUND(({k} - 1)
                           / (CAST(kk.kth AS DOUBLE) / 1152921504606846976.0),
                           4)
           END AS est_partkeys
    FROM agg JOIN kk USING (l_returnflag)
    """


@_register("incr_agg_merge", _incr_agg_oracle())
def incr_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/incremental.py): build
    mergeable per-group state on two date halves of lineitem, merge the
    STATES (raw rows of the 'old' half are never rescanned), finalize. The
    oracle aggregates the whole table directly — merge-then-finalize must
    equal compute-once."""
    from solana_etl_spark.operators import incremental as inc

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_quantity",
        F.col("l_extendedprice").cast("decimal(18,4)").alias("price"),
        "l_partkey",
        "l_shipdate",
    )
    kw = dict(
        keys=["l_returnflag"],
        sum_cols=["l_quantity", "price"],
        minmax_cols=["l_quantity"],
        kmv_cols=["l_partkey"],
    )
    pivot = F.to_timestamp(F.lit("1997-01-01"))
    old = inc.agg_state(li.filter(F.col("l_shipdate") < pivot), **kw)
    new = inc.agg_state(li.filter(F.col("l_shipdate") >= pivot), **kw)
    state = inc.merge_states(old, new, **kw)
    return state.select(
        "l_returnflag",
        "n_rows",
        F.col("l_quantity_sum").cast("double").alias("sum_qty"),
        F.col("price_sum").cast("double").alias("sum_price"),
        F.col("l_quantity_min").alias("qty_min"),
        F.col("l_quantity_max").alias("qty_max"),
        F.round(
            F.col("l_quantity_sum").cast("double") / F.col("n_rows"), 9
        ).alias("avg_qty"),
        inc.kmv_estimate("l_partkey_kmv").alias("est_partkeys"),
    )


def _ivf_batch_topk_oracle(
    k: int, iters: int, dim: int, scale: int, nprobe: int, topk: int
) -> str:
    qdist = (
        "list_sum([ (v.qvec[i] - q.q[i]) * (v.qvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    cdist = (
        "list_sum([ (c.cvec[i] - q.q[i]) * (c.cvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    qry AS (SELECT vec_id AS q_id, qvec AS q FROM qvecs WHERE vec_id % 100 = 0),
    probe AS (
        SELECT q_id, cid FROM (
            SELECT q.q_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.q_id ORDER BY {cdist}, c.cid
                   ) AS rn
            FROM c{iters} c CROSS JOIN qry q
        ) WHERE rn <= {nprobe}
    ),
    afinal AS (
        SELECT vec_id, qvec, cid FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT p.q_id, v.vec_id, CAST({qdist} AS BIGINT) AS dist
        FROM afinal v JOIN probe p USING (cid) JOIN qry q ON q.q_id = p.q_id
    )
    SELECT q_id, vec_id, dist FROM (
        SELECT q_id, vec_id, dist,
               row_number() OVER (
                   PARTITION BY q_id ORDER BY dist, vec_id
               ) AS rn
        FROM scored
    ) WHERE rn <= {topk}
    """


def _ivf_batch_recall_oracle(
    k: int, iters: int, dim: int, scale: int, nprobe: int, topk: int
) -> str:
    qdist = (
        "list_sum([ (v.qvec[i] - q.q[i]) * (v.qvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    cdist = (
        "list_sum([ (c.cvec[i] - q.q[i]) * (c.cvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    qry AS (SELECT vec_id AS q_id, qvec AS q FROM qvecs WHERE vec_id % 100 = 0),
    exact AS MATERIALIZED (
        SELECT q_id, vec_id FROM (
            SELECT q.q_id, v.vec_id,
                   row_number() OVER (
                       PARTITION BY q.q_id ORDER BY {qdist}, v.vec_id
                   ) AS rn
            FROM qvecs v CROSS JOIN qry q
        ) WHERE rn <= {topk}
    ),
    probe AS (
        SELECT q_id, cid FROM (
            SELECT q.q_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.q_id ORDER BY {cdist}, c.cid
                   ) AS rn
            FROM c{iters} c CROSS JOIN qry q
        ) WHERE rn <= {nprobe}
    ),
    afinal AS (
        SELECT vec_id, qvec, cid FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    approx AS MATERIALIZED (
        SELECT q_id, vec_id FROM (
            SELECT p.q_id, v.vec_id,
                   row_number() OVER (
                       PARTITION BY p.q_id ORDER BY {qdist}, v.vec_id
                   ) AS rn
            FROM afinal v JOIN probe p USING (cid) JOIN qry q ON q.q_id = p.q_id
        ) WHERE rn <= {topk}
    )
    SELECT a.q_id,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
           {topk} AS k,
           ROUND(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                 / CAST({topk} AS DOUBLE), 6) AS recall_at_k
    FROM approx a LEFT JOIN exact e USING (q_id, vec_id)
    GROUP BY a.q_id
    """


@_register(
    "ann_batch_recall_eval",
    _ivf_batch_recall_oracle(
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
        similarity.IVF_NPROBE,
        similarity.TOPK,
    ),
)
def ann_batch_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-QUERY recall@k over a whole query batch (every 100th vector) —
    the eval-set measurement a deployment reads before trusting nprobe
    (operators/similarity.py ivf_batch_recall); the single-query
    ann_recall_eval measures one point, this measures the distribution.
    Centroids are the only driver state; the approx branch never shuffles
    the corpus."""
    return similarity.ivf_batch_recall(
        _t(spark, sf_dir, "embeddings"), F.col("vec_id") % 100 == 0
    )


@_register(
    "ann_ivf_batch_topk",
    _ivf_batch_topk_oracle(
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
        similarity.IVF_NPROBE,
        similarity.TOPK,
    ),
)
def ann_ivf_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch ANN over the IVF index (operators/similarity.py
    ivf_batch_topk): every 100th vector is a query, all answered in one
    pass — probe lists from the broadcast centroid table, candidates from
    a broadcast probe join (no corpus shuffle), per-query window top-k."""
    return similarity.ivf_batch_topk(
        _t(spark, sf_dir, "embeddings"), F.col("vec_id") % 100 == 0
    )


@_register(
    "ann_hard_negatives",
    f"""
    WITH {_NEMB_CTE},
    anchors AS (
        SELECT vec_id AS q_id, label AS q_label, v
        FROM nemb ORDER BY vec_id LIMIT 20
    ),
    scored AS (
        SELECT b.q_id, a.vec_id, a.label = b.q_label AS same_label,
               {_NDOT_SQL} AS sim
        FROM nemb a, anchors b WHERE a.vec_id <> b.q_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                      PARTITION BY q_id, same_label
                      ORDER BY sim DESC, vec_id ASC) AS rnk
        FROM scored
    ),
    pos AS (
        SELECT q_id, vec_id AS pos_id, sim AS pos_sim
        FROM ranked WHERE same_label AND rnk = 1
    ),
    neg AS (
        SELECT q_id, rnk AS neg_rank, vec_id AS neg_id, sim AS neg_sim
        FROM ranked WHERE NOT same_label AND rnk <= 5
    )
    SELECT n.q_id, p.pos_id, ROUND(p.pos_sim, 6) AS pos_sim,
           CAST(n.neg_rank AS BIGINT) AS neg_rank, n.neg_id,
           ROUND(n.neg_sim, 6) AS neg_sim,
           ROUND(p.pos_sim - n.neg_sim, 6) AS margin
    FROM neg n JOIN pos p USING (q_id)
    """,
)
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-triplet mining (operators/mining.py): per anchor, the
    nearest same-label positive and top-5 highest-similarity WRONG-label
    hard negatives, with the training margin. Broadcast anchor batch ×
    one normalized corpus scan; a single window shuffle keyed by
    (anchor, same_label)."""
    from solana_etl_spark.operators.mining import hard_negative_triplets

    return hard_negative_triplets(
        _t(spark, sf_dir, "embeddings")
    ).withColumn("neg_rank", F.col("neg_rank").cast("long"))


@_register(
    "ann_maxsim_topk",
    # ColBERT-style MaxSim: vectors decompose into 8 contiguous
    # 8-dim subvectors; score = Σ over query subvectors of the MAX dot
    # against any candidate subvector; 9-decimal + exact-DECIMAL sum
    f"""
    WITH q AS (
        SELECT vec_id AS q_id, embedding FROM embeddings
        ORDER BY vec_id LIMIT {similarity.MAXSIM_QUERIES}
    ),
    g AS (SELECT unnest(generate_series(0, {similarity.MAXSIM_M - 1})) AS s),
    qs AS (
        SELECT q_id, g.s AS qsub,
               [x::DOUBLE for x in embedding[g.s * 8 + 1 : g.s * 8 + 8]] AS qv
        FROM q CROSS JOIN g
    ),
    ds AS (
        SELECT vec_id, g.s AS dsub,
               [x::DOUBLE for x in embedding[g.s * 8 + 1 : g.s * 8 + 8]] AS dv
        FROM embeddings CROSS JOIN g
    ),
    scored AS (
        SELECT q.q_id, d.vec_id, q.qsub,
               list_reduce([q.qv[i] * d.dv[i]
                            for i in generate_series(1, 8)],
                           (x, y) -> x + y) AS dot
        FROM qs q, ds d WHERE d.vec_id <> q.q_id
    ),
    m1 AS (
        SELECT q_id, vec_id, qsub, MAX(dot) AS mx
        FROM scored GROUP BY 1, 2, 3
    ),
    m2 AS (
        SELECT q_id, vec_id,
               CAST(SUM(CAST(ROUND(mx, 9) AS DECIMAL(28,9))) AS DOUBLE)
                   AS score
        FROM m1 GROUP BY 1, 2
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                      PARTITION BY q_id ORDER BY score DESC, vec_id) AS rnk
        FROM m2
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS rank, vec_id,
           ROUND(score, 6) AS maxsim_score
    FROM ranked WHERE rnk <= {similarity.MAXSIM_K}
    """,
)
def ann_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (operators/similarity.py maxsim_topk):
    ColBERT MaxSim over contiguous subvector decompositions — per query
    subvector take the best candidate-subvector dot, exact-decimal-sum
    the maxima, rank top-5 per query. Bounded query batch broadcast ×
    one corpus scan + two keyed aggregates + one window."""
    return similarity.maxsim_topk(
        _t(spark, sf_dir, "embeddings")
    ).withColumn("rank", F.col("rank").cast("long"))


K_NEG_BUCKETED = 5  # mirrors operators/mining.py K_NEG


@_register(
    "ann_hard_negatives_bucketed",
    # corpus-wide variant: every vector is an anchor, candidates restricted
    # to its sign-LSH bucket (the sim_neardup_pairs partitioning)
    f"""
    WITH {_NEMB_CTE},
    bkt AS (
        SELECT vec_id,
               CAST({_lsh_bucket_sql_expr(similarity.LSH_SIGN_BITS)} AS BIGINT)
                   AS bucket
        FROM embeddings
    ),
    space AS (
        SELECT n.vec_id, n.label, n.v, b.bucket
        FROM nemb n JOIN bkt b USING (vec_id)
        WHERE n.label IS NOT NULL
    ),
    ranked AS (
        SELECT a.vec_id AS q_id, b.vec_id AS neg_id, {_NDOT_SQL} AS sim,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {_NDOT_SQL} DESC, b.vec_id ASC) AS rnk
        FROM space a JOIN space b
          ON a.bucket = b.bucket
         AND a.vec_id <> b.vec_id AND a.label <> b.label
    )
    SELECT q_id, CAST(rnk AS BIGINT) AS neg_rank, neg_id,
           ROUND(sim, 6) AS neg_sim
    FROM ranked WHERE rnk <= {K_NEG_BUCKETED}
    """,
)
def ann_hard_negatives_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide hard-negative generation (operators/mining.py
    bucketed_hard_negatives): every vector is an anchor; candidates are
    its sign-LSH bucket's wrong-label members, ranked by cosine — the
    documented scale path of ann_hard_negatives (pair stream per-bucket,
    never corpus²). One bucket-keyed self-join + one anchor-keyed window."""
    from solana_etl_spark.operators.mining import bucketed_hard_negatives

    return bucketed_hard_negatives(
        _t(spark, sf_dir, "embeddings")
    ).withColumn("neg_rank", F.col("neg_rank").cast("long"))


BITEXT_K = 4
BITEXT_THRESHOLD = 1.0
_BITEXT_SRC_LABELS = "label < 5"  # fixture split: labels 0-4 = "source
_BITEXT_TGT_LABELS = "label >= 5"  # language", 5-9 = "target language"


@_register(
    "mine_bitext_margin",
    # mirrors operators/mining.py mine_bitext: sign-LSH bucket candidates,
    # micro-unit integer cosines, exact integer margin arithmetic with one
    # final double division
    f"""
    WITH {_NEMB_CTE},
    bkt AS (
        SELECT vec_id,
               CAST({_lsh_bucket_sql_expr(similarity.LSH_SIGN_BITS)} AS BIGINT)
                   AS bucket
        FROM embeddings
    ),
    src AS (
        SELECT n.vec_id, n.v, b.bucket
        FROM nemb n JOIN bkt b USING (vec_id)
        WHERE n.{_BITEXT_SRC_LABELS}
    ),
    tgt AS (
        SELECT n.vec_id, n.v, b.bucket
        FROM nemb n JOIN bkt b USING (vec_id)
        WHERE n.{_BITEXT_TGT_LABELS}
    ),
    scored AS (
        SELECT a.vec_id AS src_id, b.vec_id AS tgt_id,
               CAST(ROUND({_NDOT_SQL} * 1000000, 0) AS BIGINT) AS ci
        FROM src a JOIN tgt b ON a.bucket = b.bucket
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (
                   PARTITION BY src_id ORDER BY ci DESC, tgt_id ASC) AS rs,
               row_number() OVER (
                   PARTITION BY tgt_id ORDER BY ci DESC, src_id ASC) AS rt
        FROM scored
    ),
    sums AS (
        SELECT *,
               CAST(SUM(CASE WHEN rs <= {BITEXT_K} THEN ci END)
                    OVER (PARTITION BY src_id) AS BIGINT) AS sax,
               CAST(SUM(CASE WHEN rs <= {BITEXT_K} THEN 1 END)
                    OVER (PARTITION BY src_id) AS BIGINT) AS kx,
               CAST(SUM(CASE WHEN rt <= {BITEXT_K} THEN ci END)
                    OVER (PARTITION BY tgt_id) AS BIGINT) AS say,
               CAST(SUM(CASE WHEN rt <= {BITEXT_K} THEN 1 END)
                    OVER (PARTITION BY tgt_id) AS BIGINT) AS ky
        FROM ranked
    )
    SELECT src_id, tgt_id,
           ROUND(ci / 1000000.0, 6) AS cosine_sim,
           ROUND(2.0 * ci * kx * ky / (sax * ky + say * kx), 6) AS margin
    FROM sums
    WHERE rs = 1 AND (sax * ky + say * kx) > 0
      AND ROUND(2.0 * ci * kx * ky / (sax * ky + say * kx), 6)
              >= {BITEXT_THRESHOLD}
    """,
)
def mine_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/mining.py mine_bitext — the
    CCMatrix/WikiMatrix ratio-margin criterion of Artetxe & Schwenk
    2019): the fixture's label space splits into a "source language"
    (labels 0-4) and "target language" (5-9); each source vector finds
    its best cross-set match among sign-LSH bucket collisions, scored by
    cosine over the average similarity of BOTH ends' top-k candidate
    neighborhoods. Micro-unit integer cosines make every neighborhood
    sum order-independent; the margin is exact integer arithmetic with
    one final double division, so the oracle matches bit-for-bit."""
    from solana_etl_spark.operators.mining import mine_bitext

    emb = _t(spark, sf_dir, "embeddings")
    return mine_bitext(
        emb.filter(_BITEXT_SRC_LABELS),
        emb.filter(_BITEXT_TGT_LABELS),
        k=BITEXT_K,
        threshold=BITEXT_THRESHOLD,
    )


_CHUNK, _STRIDE = 256, 192

# shared chunk-spine CTEs (d, s): the last-start formula mirrors
# operators/packing.py::chunk_documents — ONE copy, used by every
# chunking oracle so the boundary rule can't drift between them
_CHUNK_SPINE_CTE = f"""d AS (SELECT doc_id, text, length(text) AS n FROM documents),
    s AS (
        SELECT doc_id, text,
               unnest(generate_series(
                   0,
                   CASE WHEN n <= {_CHUNK} THEN 0
                        ELSE CAST(floor((n - 1) / {_STRIDE}) AS BIGINT) * {_STRIDE}
                   END,
                   {_STRIDE}
               )) AS s
        FROM d
    )"""


@_register(
    "text_chunk_windows",
    f"""
    WITH {_CHUNK_SPINE_CTE}
    SELECT doc_id, CAST(s / {_STRIDE} AS BIGINT) AS chunk_idx, s AS chunk_start,
           length(substring(text, CAST(s + 1 AS BIGINT), {_CHUNK})) AS chunk_len,
           md5(substring(text, CAST(s + 1 AS BIGINT), {_CHUNK})) AS chunk_md5
    FROM s
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-overlapped chunking (operators/packing.py chunk_documents):
    RAG/context windows every 192 chars spanning 256 — per-row positional
    explode, zero shuffle."""
    from solana_etl_spark.operators.packing import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=_CHUNK, stride=_STRIDE
    )


@_register(
    "hybrid_search_rerank",
    # capstone composition: the batch-ANN oracle and the quality-model
    # oracle nest as CTEs; rerank = quality gate first, then exact distance
    f"""
    WITH ann AS (
        {_ivf_batch_topk_oracle(
            similarity.IVF_K,
            similarity.IVF_ITERS,
            similarity.IVF_DIM,
            similarity.IVF_SCALE,
            similarity.IVF_NPROBE,
            similarity.TOPK,
        )}
    ), quality AS (
        {_quality_model_oracle()}
    )
    SELECT q_id, rank, doc_id, dist, keep FROM (
        SELECT ann.q_id, ann.vec_id AS doc_id, ann.dist, quality.keep,
               row_number() OVER (
                   PARTITION BY ann.q_id
                   ORDER BY quality.keep DESC, ann.dist, ann.vec_id
               ) AS rank
        FROM ann JOIN quality ON quality.doc_id = ann.vec_id
    ) WHERE rank <= 5
    """,
)
def hybrid_search_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval capstone: batch-ANN candidates (IVF probe, exact
    int distances) re-ranked by the linear quality model (bit-exact scores)
    — quality-passing docs first, then by distance. The shape of a
    retrieval stack: cheap index recall, model-based precision on the
    candidate set only."""
    from pyspark.sql.window import Window
    from solana_etl_spark.operators.classifier import featurize, linear_score

    cands = similarity.ivf_batch_topk(
        _t(spark, sf_dir, "embeddings"), F.col("vec_id") % 100 == 0
    )
    feats = featurize(_t(spark, sf_dir, "documents"))
    quality = feats.select(
        "doc_id",
        (linear_score(F.col("features"), _QUALITY_W) > 0.0).alias("keep"),
    )
    rank = F.row_number().over(
        Window.partitionBy("q_id").orderBy(
            F.col("keep").desc(), F.col("dist"), F.col("doc_id")
        )
    )
    return (
        cands.join(quality, cands["vec_id"] == quality["doc_id"])
        .select("q_id", F.col("vec_id").alias("doc_id"), "dist", "keep")
        .withColumn("rank", rank)
        .filter(F.col("rank") <= 5)
        .select("q_id", "rank", "doc_id", "dist", "keep")
    )


@_register(
    "dq_constraint_report",
    # same report spelled directly: row-level rules in one aggregate,
    # unique via grouped dup counts, FK via NOT IN on the parent keys
    """
    WITH rowagg AS (
        SELECT COUNT(*) AS n_rows,
               SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS v0,
               SUM(CASE WHEN o_totalprice NOT BETWEEN 0 AND 1000000 THEN 1 ELSE 0 END) AS v1,
               SUM(CASE WHEN o_orderpriority IS NOT NULL AND o_orderpriority NOT IN
                   ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
                   THEN 1 ELSE 0 END) AS v2
        FROM orders
    ), uniq AS (
        SELECT COALESCE(SUM(n), 0) AS v FROM (
            SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1
        )
    ), fk AS (
        SELECT COUNT(*) AS v FROM lineitem
        WHERE l_orderkey IS NOT NULL
          AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    )
    SELECT rule, "column", n_rows, CAST(n_violations AS BIGINT) AS n_violations,
           n_violations = 0 AS passed
    FROM (
        SELECT 'not_null' AS rule, 'o_custkey' AS "column",
               n_rows, v0 AS n_violations FROM rowagg
        UNION ALL
        SELECT 'in_range', 'o_totalprice', n_rows, v1 FROM rowagg
        UNION ALL
        SELECT 'accepted_values', 'o_orderstatus_priority', n_rows, v2 FROM rowagg
        UNION ALL
        SELECT 'unique', 'o_orderkey', NULL, v FROM uniq
        UNION ALL
        SELECT 'foreign_key', 'l_orderkey', NULL, v FROM fk
    )
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/constraints.py): row-level
    rules fused into one scan, key uniqueness as one grouped aggregate, FK
    integrity as one broadcast anti-join — the (rule, violations, passed)
    report an ingest scheduler gates on."""
    from solana_etl_spark.operators import constraints as dq

    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    checks = [
        dq.not_null("o_custkey"),
        dq.in_range("o_totalprice", 0, 1_000_000),
        dq.Check(
            "accepted_values",
            "o_orderstatus_priority",
            F.col("o_orderpriority").isNotNull()
            & ~F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        dq.unique(["o_orderkey"]),
    ]
    report = dq.validate(orders, checks)
    fk_report = dq.validate(
        li, [dq.foreign_key("l_orderkey", orders, "o_orderkey")]
    )
    return report.unionByName(fk_report)


@_register(
    "text_boilerplate_ngrams",
    # same detection in SQL: per-doc DISTINCT positional word 8-grams,
    # count of docs per gram, threshold
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKENS_SQL} AS t FROM documents
    ), grams AS (
        SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
        FROM toks, LATERAL unnest(
            CASE WHEN len(t) >= 8 THEN generate_series(1, len(t) - 7)
                 ELSE [] END
        ) AS u(i)
    )
    SELECT gram, COUNT(*) AS n_docs
    FROM grams GROUP BY gram HAVING COUNT(*) >= 3
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (operators/text.py
    cross_doc_ngrams): word 8-grams appearing in >= 3 distinct documents —
    the detection half of C4-style cross-document span dedup (removal:
    strip_boilerplate_ngrams, model-tested). One explode + one count
    shuffle with map-side combine."""
    return text_ops.cross_doc_ngrams(
        _t(spark, sf_dir, "documents"), n=8, min_docs=3
    )


@_register(
    "lm_perplexity_score",
    # same LM trained and applied in SQL; log10 rounded to 9 decimals on
    # both engines, then exact-decimal per-doc sums
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), toks2 AS (
        SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), counts AS (
        SELECT tok, COUNT(*) AS c FROM toks2 GROUP BY tok
    ), tot AS (
        SELECT SUM(c) AS n, COUNT(*) AS v FROM counts
    ), lm AS (
        SELECT tok,
               CAST(ROUND(log10((c + 1.0) / (n + v)), 9) AS DECIMAL(28,9)) AS lp
        FROM counts, tot
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(lm.lp) AS DOUBLE) / COUNT(*), 6) AS avg_logprob
    FROM toks2 t JOIN lm USING (tok)
    GROUP BY t.doc_id
    """,
)
def lm_perplexity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality signal (operators/lm.py): add-one unigram LM
    trained on the corpus in one aggregate, every document scored by its
    average token log-prob (exact-decimal sums after a 9-decimal rounding
    boundary on log10)."""
    from solana_etl_spark.operators.lm import score_documents, train_unigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm = train_unigram_lm(docs)
    # corpus == training set here, so OOV is unreachable; pass the exact
    # smoothed-unseen value anyway (API contract)
    return score_documents(docs, lm, oov=-99.0)


@_register(
    "dsir_importance_weights",
    # two add-one unigram LMs (target = en/src0 docs, raw = whole corpus)
    # trained and applied in SQL; per-token log10 rounded at 9, per-doc
    # sums exact-decimal — mirrors operators/dsir.py bit-for-bit
    f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKENS_SQL}) AS tok FROM documents
    ), toks2 AS (
        SELECT doc_id, tok FROM toks WHERE tok <> ''
    ), tgt_toks AS (
        SELECT t.doc_id, t.tok FROM toks2 t
        JOIN documents d USING (doc_id)
        WHERE d.lang = 'en' AND d.source = 'src0'
    ), tcounts AS (SELECT tok, COUNT(*) AS c FROM tgt_toks GROUP BY tok),
    ttot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM tcounts),
    tlm AS (
        SELECT tok, CAST(ROUND(log10((c + 1.0) / (n + v)), 9)
                         AS DECIMAL(28,9)) AS lp_t
        FROM tcounts, ttot
    ),
    toov AS (
        SELECT CAST(ROUND(log10(1.0 / (n + v)), 9) AS DECIMAL(28,9)) AS oov_t
        FROM ttot
    ),
    rcounts AS (SELECT tok, COUNT(*) AS c FROM toks2 GROUP BY tok),
    rtot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM rcounts),
    rlm AS (
        SELECT tok, CAST(ROUND(log10((c + 1.0) / (n + v)), 9)
                         AS DECIMAL(28,9)) AS lp_r
        FROM rcounts, rtot
    )
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(coalesce(lp_t, oov_t) - lp_r) AS DOUBLE)
                 / COUNT(*), 6) AS avg_log_ratio,
           ROUND(CAST(SUM(coalesce(lp_t, oov_t) - lp_r) AS DOUBLE)
                 / COUNT(*), 6) > 0.0 AS keep
    FROM toks2 t
    LEFT JOIN tlm USING (tok)
    JOIN rlm USING (tok)
    CROSS JOIN toov
    GROUP BY t.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style targeted data selection (operators/dsir.py): every
    document scored by the mean per-token log-likelihood ratio between a
    target-domain unigram LM (en/src0 docs) and the raw-corpus LM —
    positive ratio = looks like the target domain. Two token-count
    aggregates + one scoring pass with both LM tables broadcast."""
    from solana_etl_spark.operators.dsir import importance_weights

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter((F.col("lang") == "en") & (F.col("source") == "src0"))
    return importance_weights(docs, target)


_PAGERANK_ITERS = 3

_PAGERANK_ORACLE = f"""
WITH RECURSIVE
e AS MATERIALIZED (
    SELECT DISTINCT 's' || l_suppkey AS src, 'c' || o_custkey AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
outdeg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
nodes AS (
    SELECT DISTINCT node
    FROM (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
),
pr AS (
    SELECT 0 AS iter, node, CAST(1000000000000 AS BIGINT) AS r FROM nodes
    UNION ALL
    -- every node emits a zero self-contribution so in-degree-0 nodes (and
    -- their iteration counter) survive each round of a bipartite graph
    SELECT ag.iter, ag.node,
           CAST(150000000000 + (85 * ag.s) // 100 AS BIGINT) AS r
    FROM (
        SELECT x.node, MIN(x.iter) + 1 AS iter, SUM(x.c) AS s FROM (
            SELECT p.node AS node, p.iter AS iter, CAST(0 AS BIGINT) AS c
            FROM pr p
            UNION ALL
            SELECT e.dst, p2.iter, p2.r // od.outdeg
            FROM pr p2
            JOIN e ON e.src = p2.node
            JOIN outdeg od ON od.src = p2.node
        ) x GROUP BY x.node
    ) ag
    WHERE ag.iter <= {_PAGERANK_ITERS}
)
SELECT node, r AS rank_scaled FROM pr WHERE iter = {_PAGERANK_ITERS}
"""


@_register("graph_pagerank", _PAGERANK_ORACLE)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative PageRank (operators/graph.py) over the supplier->customer
    trade graph (distinct lineitem-join-orders pairs) — the Pregel-style
    fixed-round loop pattern, made oracle-checkable by scaled-integer
    arithmetic: every step is exact int64 math (div = integer division on
    both engines), so ranks are bit-identical under any partitioning, task
    retry, or engine; the DuckDB oracle runs the same recurrence as a
    recursive CTE. Dangling-node mass dropped (simple variant — customers
    have no out-edges)."""
    from solana_etl_spark.operators.graph import pagerank

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    edges = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .distinct()
    )
    return pagerank(edges, iterations=_PAGERANK_ITERS)


@_register(
    "sketch_frequent_tokens",
    f"""
    WITH toks AS (
        SELECT unnest({_TOKENS_SQL}) AS tok FROM documents
    ), t2 AS (SELECT tok FROM toks WHERE tok <> '')
    SELECT tok, COUNT(*) AS n_rows
    FROM t2
    GROUP BY tok
    HAVING COUNT(*) >= (2 * (SELECT COUNT(*) FROM t2) + 999) // 1000
    """,
)
def sketch_frequent_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-memory heavy hitters (operators/sketch.py): per-partition
    Misra-Gries candidate superset + one exact counting pass over only the
    candidates — shuffle is O(candidates), not O(distinct tokens). The
    exact verify pass makes the output independent of the sketch, and the
    phi=2/1000 threshold is exact integer math of the corpus size, so the
    oracle is the plain GROUP BY/HAVING at every scale factor."""
    from solana_etl_spark.operators.sketch import frequent_items
    from solana_etl_spark.operators.text import tokens

    toks = (
        _t(spark, sf_dir, "documents")
        .select(F.explode(tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return frequent_items(toks, "tok", phi_num=2, phi_den=1000)


@_register(
    "j8_stream_interval_join",
    """
    SELECT v.event_id AS l_event_id, v.user_id AS l_user_id,
           p.event_id AS r_event_id,
           CAST(date_diff('second', v.ts, p.ts) AS BIGINT) AS lag_seconds
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts
     AND p.ts <= v.ts + INTERVAL 10 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
)
def j8_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream interval join (streaming/stream_join.py) run in its
    batch mode: view->purchase attribution within a 10-minute horizon. The
    identical expression runs on two watermarked streams with state bounded
    by watermark+horizon (tests/test_stream_join.py proves stream==batch)."""
    from solana_etl_spark.streaming.stream_join import interval_join_streams

    ev = _t(spark, sf_dir, "events")
    out = interval_join_streams(
        ev.filter(F.col("event_type") == "view"),
        ev.filter(F.col("event_type") == "purchase"),
        key="user_id",
        horizon="10 minutes",
    )
    return out.select(
        "l_event_id",
        "l_user_id",
        "r_event_id",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).alias(
            "lag_seconds"
        ),
    )


@_register(
    "a17_exact_quantiles",
    """
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE l_extendedprice IS NOT NULL
    ), r AS (
        SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn,
               COUNT(*) OVER () AS n
        FROM v
    ), q(q_num, q_den) AS (VALUES (1, 2), (9, 10), (99, 100))
    SELECT q.q_num, q.q_den,
           (SELECT MIN(cents) FROM r
             WHERE rn >= greatest(1, (q.q_num * r2.n + q.q_den - 1) // q.q_den)
           ) AS value
    FROM q, (SELECT MAX(n) AS n FROM r) r2
    """,
)
def a17_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of l_extendedprice (in cents) WITHOUT a global
    sort: iterative bucket refinement (operators/quantiles.py) — one
    histogram aggregate per O(log_B(domain)) pass, all quantiles sharing
    each scan. The NTILE plan (s4_quantile_bins) sorts every row; this
    resolves the same exact order statistics with shuffles that carry only
    (quantile, bucket) histograms — the 100 TB selection path. Oracle is
    the plain ROW_NUMBER rank lookup."""
    from solana_etl_spark.operators.quantiles import exact_quantiles

    cents = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100)
        .cast("long")
        .alias("cents")
    )
    return exact_quantiles(cents, "cents", [(1, 2), (9, 10), (99, 100)])


@_register(
    "ts_ohlc",
    """
    WITH e AS (
        SELECT user_id AS key, date_trunc('hour', ts) AS bucket, ts,
               CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        FROM events WHERE value IS NOT NULL
    ),
    o AS (
        SELECT key, bucket, v,
               row_number() OVER (
                   PARTITION BY key, bucket ORDER BY ts, v) AS rno,
               row_number() OVER (
                   PARTITION BY key, bucket ORDER BY ts DESC, v DESC) AS rnc
        FROM e
    )
    SELECT key, bucket,
           CAST(MAX(CASE WHEN rno = 1 THEN v END) AS DOUBLE) AS open,
           CAST(MAX(v) AS DOUBLE) AS high,
           CAST(MIN(v) AS DOUBLE) AS low,
           CAST(MAX(CASE WHEN rnc = 1 THEN v END) AS DOUBLE) AS close,
           COUNT(*) AS n_events,
           CAST(round(SUM(v), 4) AS DOUBLE) AS volume
    FROM o GROUP BY key, bucket
    """,
)
def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (operators/timeseries.py ohlc_resample): hourly
    open/high/low/close/volume bars per user — the classic time-series
    resample. ONE map-side-combined groupBy; open/close resolve as min/max
    over (ts, value) structs so ties at identical timestamps break
    identically in both engines; sums stay exact DECIMAL until the final
    projection."""
    from solana_etl_spark.operators.timeseries import ohlc_resample

    return ohlc_resample(_t(spark, sf_dir, "events"))


@_register(
    "a21_mad_outliers",
    """
    WITH v AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
               FROM documents WHERE n_chars IS NOT NULL),
    r AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn,
                 COUNT(*) OVER () AS n FROM v),
    med AS (SELECT MIN(n_chars) AS m FROM r, (SELECT MAX(n) AS n FROM r) x
            WHERE rn >= greatest(1, (x.n + 1) // 2)),
    d AS (SELECT v.doc_id, v.n_chars, abs(v.n_chars - med.m) AS abs_dev
          FROM v, med),
    r2 AS (SELECT abs_dev, row_number() OVER (ORDER BY abs_dev) AS rn,
                  COUNT(*) OVER () AS n FROM d),
    mad AS (SELECT MIN(abs_dev) AS m FROM r2, (SELECT MAX(n) AS n FROM r2) x
            WHERE rn >= greatest(1, (x.n + 1) // 2))
    SELECT d.doc_id, d.n_chars, CAST(d.abs_dev AS BIGINT) AS abs_dev,
           CAST(med.m AS BIGINT) AS median, CAST(mad.m AS BIGINT) AS mad,
           d.abs_dev > 3 * mad.m AS is_outlier
    FROM d, med, mad
    """,
)
def a21_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via exact median/MAD (operators/
    quantiles.py mad_outliers): |x − median| > 3·MAD, both statistics
    exact ceil-rank order statistics from the sort-free histogram
    refinement — the heavy-tail-safe complement of a18's mean/std
    z-score (a few huge values cannot drag this threshold). All-integer."""
    from solana_etl_spark.operators.quantiles import mad_outliers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return mad_outliers(docs, "n_chars")


@_register(
    "a20_winsorize",
    """
    WITH r AS (
        SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars) AS rn,
               COUNT(*) OVER () AS n
        FROM documents WHERE n_chars IS NOT NULL
    ),
    cuts AS (
        SELECT
            (SELECT MIN(n_chars) FROM r
              WHERE rn >= greatest(1, (1 * r2.n + 99) // 100)) AS lo,
            (SELECT MIN(n_chars) FROM r
              WHERE rn >= greatest(1, (99 * r2.n + 99) // 100)) AS hi
        FROM (SELECT MAX(n) AS n FROM r) r2
    )
    SELECT doc_id, n_chars,
           CAST(CASE WHEN n_chars IS NULL THEN NULL
                     ELSE greatest(least(n_chars, cuts.hi), cuts.lo)
                END AS BIGINT) AS n_chars_w
    FROM documents, cuts
    """,
)
def a20_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization at exact p01/p99 (operators/quantiles.py winsorize):
    clip the document-length distribution's tails before quality
    thresholding — the standard outlier treatment. Cut points resolve via
    sort-free histogram refinement (driver state = two int64 boundaries);
    the clip itself is a pure per-row expression. Oracle: plain ROW_NUMBER
    rank lookup + CASE clamp."""
    from solana_etl_spark.operators.quantiles import winsorize

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return winsorize(docs, "n_chars")


def _pq_cte(
    m: int,
    subdim: int,
    k: int,
    iters: int,
    scale: int,
    with_qvecs: bool = True,
    train_cap: int | None = None,
) -> str:
    """Subspace-keyed unrolled-Lloyd CTEs mirroring operators/pq.py — the
    same exact integer math as _ivf_cte, keyed by (sub, cid). with_qvecs=False
    omits the qvecs CTE (for composition with _ivf_cte, which defines the
    identical one). ``train_cap`` mirrors train_codebooks' bounded-training
    default (counting distinct vectors as the sub-0 rows): init and Lloyd
    rounds read the capped ``tsubs``; code assignment reads full ``subs``."""
    if train_cap is None:
        train_cap = similarity.TRAIN_CAP
    dist = (
        "list_sum([ (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    h = hash64_sql("CAST(vec_id AS VARCHAR)")
    qvecs_cte = f"""qvecs AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)) AS qvec
        FROM embeddings
    ),
    """
    parts = [
        (qvecs_cte if with_qvecs else "") + f"""subs AS MATERIALIZED (
        SELECT vec_id, s AS sub,
               list_slice(qvec, s * {subdim} + 1, (s + 1) * {subdim}) AS svec
        FROM qvecs, generate_series(0, {m - 1}) AS g(s)
    ),
    tsubs AS MATERIALIZED (
        SELECT vec_id, sub, svec FROM subs
        {_train_cap_where("SELECT COUNT(*) FROM subs WHERE sub = 0", train_cap)}
    ),
    cb0 AS (
        SELECT sub,
               row_number() OVER (PARTITION BY sub ORDER BY {h}, vec_id) - 1 AS cid,
               svec AS cvec
        FROM tsubs
        QUALIFY row_number() OVER (PARTITION BY sub ORDER BY {h}, vec_id) <= {k}
    )"""
    ]
    for it in range(iters):
        parts.append(f"""pa{it} AS (
        SELECT vec_id, sub, svec, cid FROM (
            SELECT v.vec_id, v.sub, v.svec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id, v.sub ORDER BY {dist}, c.cid
                   ) AS rn
            FROM tsubs v JOIN cb{it} c USING (sub)
        ) WHERE rn = 1
    ),
    pu{it} AS (
        SELECT sub, cid, list(cm ORDER BY dim) AS cvec FROM (
            SELECT sub, cid, dim, CAST((s - (s % n)) // n AS BIGINT) AS cm FROM (
                SELECT sub, cid, SUM(v) AS s, COUNT(*) AS n, dim FROM (
                    SELECT sub, cid, unnest(svec) AS v,
                           unnest(generate_series(1, {subdim})) AS dim
                    FROM pa{it}
                ) GROUP BY sub, cid, dim
            )
        ) GROUP BY sub, cid
    ),
    cb{it + 1} AS (
        SELECT p.sub, p.cid, COALESCE(u.cvec, p.cvec) AS cvec
        FROM cb{it} p LEFT JOIN pu{it} u USING (sub, cid)
    )""")
    return ",\n    ".join(parts)


def _pq_codes_oracle(m: int, subdim: int, k: int, iters: int, scale: int) -> str:
    dist = (
        "list_sum([ (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    return f"""
    WITH {_pq_cte(m, subdim, k, iters, scale)},
    codes AS (
        SELECT vec_id, sub, cid FROM (
            SELECT v.vec_id, v.sub, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id, v.sub ORDER BY {dist}, c.cid
                   ) AS rn
            FROM subs v JOIN cb{iters} c USING (sub)
        ) WHERE rn = 1
    )
    SELECT vec_id,
           array_to_string(list(cid ORDER BY sub), '-') AS codes_str
    FROM codes GROUP BY vec_id
    """


def _pq_adc_oracle(m: int, subdim: int, k: int, iters: int, scale: int, topk: int) -> str:
    dist = (
        "list_sum([ (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    qdist = (
        "list_sum([ (q.qsvec[i] - c.cvec[i]) * (q.qsvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    return f"""
    WITH {_pq_cte(m, subdim, k, iters, scale)},
    codes AS (
        SELECT vec_id, sub, cid FROM (
            SELECT v.vec_id, v.sub, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id, v.sub ORDER BY {dist}, c.cid
                   ) AS rn
            FROM subs v JOIN cb{iters} c USING (sub)
        ) WHERE rn = 1
    ),
    qry AS (
        SELECT sub, svec AS qsvec FROM subs
        QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) = 1
    ),
    tbl AS (
        SELECT c.sub, c.cid, {qdist} AS d
        FROM cb{iters} c JOIN qry q USING (sub)
    )
    SELECT vec_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist
    FROM codes JOIN tbl t USING (sub, cid)
    GROUP BY vec_id
    ORDER BY adc_dist, vec_id LIMIT {topk}
    """


@_register(
    "ann_pq_codes",
    _pq_codes_oracle(pq_ops.PQ_M, pq_ops.PQ_SUBDIM, pq_ops.PQ_K, pq_ops.PQ_ITERS, similarity.IVF_SCALE),
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization encode (operators/pq.py): every vector → M=8
    sub-centroid codes under jointly-trained exact-integer codebooks — the
    64× ANN memory cut. Codes emitted subspace-ordered as a '-'-joined
    string for a type-stable cross-engine hash."""
    emb = _t(spark, sf_dir, "embeddings")
    return pq_ops.pq_codes(emb).select(
        "vec_id", F.array_join("codes", "-").alias("codes_str")
    )


@_register(
    "ann_pq_adc_topk",
    _pq_adc_oracle(
        pq_ops.PQ_M, pq_ops.PQ_SUBDIM, pq_ops.PQ_K, pq_ops.PQ_ITERS,
        similarity.IVF_SCALE, pq_ops.PQ_TOPK,
    ),
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance search (operators/pq.py): broadcast M*K
    query-to-sub-centroid distance table, approximate distance = sum of M
    lookups per encoded vector, global top-k. Exact integer ADC → value-
    hash oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return pq_ops.pq_adc_topk(emb)


@_register(
    "scd2_user_history",
    """
    WITH hist AS (
        SELECT event_id, user_id, event_type, value, props,
               ts AS valid_from,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS valid_to
        FROM events
    )
    SELECT user_id, event_id, event_type,
           valid_from, valid_to
    FROM hist
    WHERE valid_from <= TIMESTAMP '2024-03-01 00:00:00'
      AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-03-01 00:00:00')
    """,
)
def scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension build (operators/scd.py): every change row
    becomes a [valid_from, valid_to) version interval in ONE key-window
    pass (no self-join), then the as-of lookup reads the dimension exactly
    as it was at a timestamp with a pure per-row interval filter."""
    from solana_etl_spark.operators.scd import as_of, scd2_history

    hist = scd2_history(
        _t(spark, sf_dir, "events"), key="user_id", ts="ts",
        tiebreak=["event_id"],
    )
    return as_of(hist, "2024-03-01 00:00:00").select(
        "user_id", "event_id", "event_type", "valid_from", "valid_to"
    )


def _ivfpq_oracle(
    k: int, iters: int, dim: int, scale: int, nprobe: int,
    m: int, subdim: int, pk: int, piters: int, topk: int,
) -> str:
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    cdist = (
        "list_sum([ (c.cvec[i] - q.q[i]) * (c.cvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    sdist = (
        "list_sum([ (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    qdist = (
        "list_sum([ (q.qsvec[i] - c.cvec[i]) * (q.qsvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    {_pq_cte(m, subdim, pk, piters, scale, with_qvecs=False)},
    qry AS (SELECT qvec AS q FROM qvecs ORDER BY vec_id LIMIT 1),
    probe AS (
        SELECT cid FROM c{iters} c CROSS JOIN qry q
        ORDER BY {cdist}, cid LIMIT {nprobe}
    ),
    afinal AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    cand AS (SELECT vec_id FROM afinal JOIN probe USING (cid)),
    codes AS (
        SELECT vec_id, sub, cid FROM (
            SELECT v.vec_id, v.sub, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id, v.sub ORDER BY {sdist}, c.cid
                   ) AS rn
            FROM subs v JOIN cb{piters} c USING (sub)
        ) WHERE rn = 1
    ),
    qsub AS (
        SELECT sub, svec AS qsvec FROM subs
        QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) = 1
    ),
    tbl AS (
        SELECT c.sub, c.cid, {qdist} AS d
        FROM cb{piters} c JOIN qsub q USING (sub)
    )
    SELECT codes.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist
    FROM codes
    JOIN cand USING (vec_id)
    JOIN tbl t USING (sub, cid)
    GROUP BY codes.vec_id
    ORDER BY adc_dist, vec_id LIMIT {topk}
    """


@_register(
    "ann_ivfpq_topk",
    _ivfpq_oracle(
        similarity.IVF_K, similarity.IVF_ITERS, similarity.IVF_DIM,
        similarity.IVF_SCALE, similarity.IVF_NPROBE,
        pq_ops.PQ_M, pq_ops.PQ_SUBDIM, pq_ops.PQ_K, pq_ops.PQ_ITERS,
        pq_ops.PQ_TOPK,
    ),
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed billion-vector ANN index (operators/pq.py ivfpq_topk):
    IVF coarse probe prunes to nprobe inverted lists, PQ's broadcast ADC
    table scores only those candidates from their 8-byte codes — query
    time never touches a full-precision vector. Exact integer end-to-end."""
    return pq_ops.ivfpq_topk(_t(spark, sf_dir, "embeddings"))


def _ivfpq_residual_oracle(
    k: int, iters: int, dim: int, scale: int, nprobe: int,
    m: int, subdim: int, pk: int, piters: int, topk: int,
) -> str:
    """Residual IVF-PQ mirrored relationally: coarse assignment from
    _ivf_cte, residual = qvec − assigned centroid, subspace-keyed unrolled
    Lloyd over the RESIDUAL subvectors, per-probed-list query-residual ADC
    tables. Exact int64 end-to-end (residual of int64s is int64)."""
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    cdist = (
        "list_sum([ (c.cvec[i] - q.q[i]) * (c.cvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    sdist = (
        "list_sum([ (v.svec[i] - c.cvec[i]) * (v.svec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    qdist = (
        "list_sum([ (q.qsvec[i] - c.cvec[i]) * (q.qsvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {subdim}) ])"
    )
    h = hash64_sql("CAST(vec_id AS VARCHAR)")
    rounds = []
    for it in range(piters):
        rounds.append(f"""rpa{it} AS (
        SELECT vec_id, sub, svec, cid FROM (
            SELECT v.vec_id, v.sub, v.svec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id, v.sub ORDER BY {sdist}, c.cid
                   ) AS rn
            FROM trsubs v JOIN rcb{it} c USING (sub)
        ) WHERE rn = 1
    ),
    rpu{it} AS (
        SELECT sub, cid, list(cm ORDER BY dim) AS cvec FROM (
            SELECT sub, cid, dim, CAST((s - (s % n)) // n AS BIGINT) AS cm FROM (
                SELECT sub, cid, SUM(v) AS s, COUNT(*) AS n, dim FROM (
                    SELECT sub, cid, unnest(svec) AS v,
                           unnest(generate_series(1, {subdim})) AS dim
                    FROM rpa{it}
                ) GROUP BY sub, cid, dim
            )
        ) GROUP BY sub, cid
    ),
    rcb{it + 1} AS (
        SELECT p.sub, p.cid, COALESCE(u.cvec, p.cvec) AS cvec
        FROM rcb{it} p LEFT JOIN rpu{it} u USING (sub, cid)
    )""")
    rounds_sql = ",\n    ".join(rounds)
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    afinal AS (
        SELECT vec_id, qvec, cid FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    resid AS MATERIALIZED (
        SELECT a.vec_id, a.cid,
               [a.qvec[i] - c.cvec[i] for i in generate_series(1, {dim})] AS rvec
        FROM afinal a JOIN c{iters} c USING (cid)
    ),
    rsubs AS MATERIALIZED (
        SELECT vec_id, s AS sub,
               list_slice(rvec, s * {subdim} + 1, (s + 1) * {subdim}) AS svec
        FROM resid, generate_series(0, {m - 1}) AS g(s)
    ),
    trsubs AS MATERIALIZED (
        SELECT vec_id, sub, svec FROM rsubs
        {_train_cap_where("SELECT COUNT(*) FROM rsubs WHERE sub = 0",
                          similarity.TRAIN_CAP)}
    ),
    rcb0 AS (
        SELECT sub,
               row_number() OVER (PARTITION BY sub ORDER BY {h}, vec_id) - 1 AS cid,
               svec AS cvec
        FROM trsubs
        QUALIFY row_number() OVER (PARTITION BY sub ORDER BY {h}, vec_id) <= {pk}
    ),
    {rounds_sql},
    codes AS (
        SELECT vec_id, sub, cid AS code FROM (
            SELECT v.vec_id, v.sub, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id, v.sub ORDER BY {sdist}, c.cid
                   ) AS rn
            FROM rsubs v JOIN rcb{piters} c USING (sub)
        ) WHERE rn = 1
    ),
    qry AS (SELECT qvec AS q FROM qvecs ORDER BY vec_id LIMIT 1),
    probe AS (
        SELECT cid FROM c{iters} c CROSS JOIN qry q
        ORDER BY {cdist}, cid LIMIT {nprobe}
    ),
    qres AS (
        SELECT p.cid,
               [q.q[i] - c.cvec[i] for i in generate_series(1, {dim})] AS rq
        FROM probe p JOIN c{iters} c USING (cid) CROSS JOIN qry q
    ),
    qsubs AS (
        SELECT cid, s AS sub,
               list_slice(rq, s * {subdim} + 1, (s + 1) * {subdim}) AS qsvec
        FROM qres, generate_series(0, {m - 1}) AS g(s)
    ),
    tbl AS (
        SELECT q.cid, c.sub, c.cid AS code, {qdist} AS d
        FROM rcb{piters} c JOIN qsubs q USING (sub)
    ),
    cand AS (SELECT vec_id, cid FROM afinal JOIN probe USING (cid))
    SELECT codes.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist
    FROM codes
    JOIN cand USING (vec_id)
    JOIN tbl t ON t.cid = cand.cid AND t.sub = codes.sub AND t.code = codes.code
    GROUP BY codes.vec_id
    ORDER BY adc_dist, vec_id LIMIT {topk}
    """


@_register(
    "ann_ivfpq_residual_topk",
    _ivfpq_residual_oracle(
        similarity.IVF_K, similarity.IVF_ITERS, similarity.IVF_DIM,
        similarity.IVF_SCALE, similarity.IVF_NPROBE,
        pq_ops.PQ_M, pq_ops.PQ_SUBDIM, pq_ops.PQ_K, pq_ops.PQ_ITERS,
        pq_ops.PQ_TOPK,
    ),
)
def ann_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ with RESIDUAL encoding (operators/pq.py ivfpq_residual_topk)
    — the canonical Jégou et al. 2011 form: codebooks train on the
    within-list displacement (vector − coarse centroid) and each probed
    list scores candidates against an ADC table built from the QUERY'S
    residual for that list. Exact int64 end-to-end, value-hash oracled."""
    return pq_ops.ivfpq_residual_topk(_t(spark, sf_dir, "embeddings"))


@_register(
    "q15_top_supplier",
    """
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                   * CAST(1 - l_discount AS DECIMAL(18,4))) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           CAST(ROUND(r.total_revenue, 4) AS DOUBLE) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: aggregate view + argmax-with-ties against its own
    MAX. The max is resolved with a single-partition window rank over the
    per-supplier aggregate (supplier-cardinality rows — driver-small), not
    a re-aggregation self-join; revenue stays exact DECIMAL until the final
    projection so ties are exact, not float-fuzzy."""
    from pyspark.sql.window import Window

    li = _t(spark, sf_dir, "lineitem")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(DEC)
                * (F.lit(1) - F.col("l_discount")).cast(DEC)
            ).alias("total_revenue")
        )
    )
    # rank()==1 keeps all max ties — the window-free form is a broadcast
    # 1-row max joined back (no unpartitioned supplier-grain window);
    # DECIMAL equality is exact, so ties survive identically
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    top = (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .drop("_mx")
    )
    s = _t(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(top), s.s_suppkey == top.supplier_no
    ).select(
        "s_suppkey",
        "s_name",
        F.round("total_revenue", 4).cast("double").alias("total_revenue"),
    )


@_register(
    "q21_waiting_supplier",
    """
    SELECT s.s_name, COUNT(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who were the ONLY late shipper in a
    multi-supplier order): correlated EXISTS / NOT EXISTS decorrelated into
    plain aggregates on the lineitem side — per-order supplier set and
    per-order late-supplier set computed once (two map-side-combined
    aggregates), then joined instead of probing correlated subqueries per
    row. 'Late' = shipped >60 days after o_orderdate (this schema carries
    no receipt/commit dates)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")

    late = li.join(
        o, li.l_orderkey == o.o_orderkey
    ).filter(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).select("l_orderkey", "l_suppkey")

    # per-order distinct supplier counts (all lineitems vs late lineitems)
    all_supp = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp")
    )
    late_supp = late.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_late"),
        F.min("l_suppkey").alias("_late_min"),
    )
    # EXISTS other-supplier: n_supp > 1; NOT EXISTS other late supplier:
    # n_late == 1 and its only member is this row's supplier
    qual = (
        late.join(all_supp, "l_orderkey")
        .join(late_supp, "l_orderkey")
        .filter(
            (F.col("n_supp") > 1)
            & (F.col("n_late") == 1)
            & (F.col("_late_min") == F.col("l_suppkey"))
        )
    )
    return (
        qual.join(F.broadcast(s), qual.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_register(
    "budget_select_corpus",
    f"""
    WITH q AS (
        SELECT doc_id,
               len({_TOKENS_SQL}) AS n_tokens,
               CAST(round(
                   1000000.0
                   * len(list_filter({_TOKENS_SQL}, t -> t IN ({_EN_STOP_IN})))
                   / len({_TOKENS_SQL})
               ) AS BIGINT) AS score
        FROM documents
    ), ranked AS (
        SELECT doc_id, n_tokens, score,
               SUM(n_tokens) OVER (
                   ORDER BY score DESC, doc_id
                   ROWS UNBOUNDED PRECEDING
               ) AS cum
        FROM q
    )
    SELECT doc_id, n_tokens, score
    FROM ranked
    WHERE cum <= (SELECT 3 * SUM(n_tokens) // 10 FROM q)
    """,
)
def budget_select_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained data selection (operators/budget.py): keep the
    most stopword-natural documents until 30% of the corpus's tokens are
    spent — WITHOUT a global sort. The threshold tier is found by weighted
    bucket refinement (histogram passes shuffling only (bucket, weight)
    rows); only the boundary tier gets a window cumsum. The oracle is the
    naive global window-cumsum — identical selection by construction."""
    from solana_etl_spark.operators.budget import select_to_budget
    from solana_etl_spark.operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*text_ops.EN_STOPWORDS)))
    q = docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.round(F.lit(1000000.0) * stop_hits / F.size(toks))
        .cast("long")
        .alias("score"),
    )
    total = q.agg(F.sum("n_tokens")).collect()[0][0]
    return select_to_budget(
        q, "score", "n_tokens", "doc_id", budget=3 * total // 10
    )


def _cluster_mix_oracle(k: int, iters: int, dim: int, scale: int) -> str:
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    h = hash64_sql("CAST(d.doc_id AS VARCHAR)")
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    afinal AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    counts AS (SELECT cid, COUNT(*) AS n FROM afinal GROUP BY cid),
    mn AS (SELECT MIN(n) AS n_min FROM counts)
    SELECT d.doc_id, a.cid, d.source
    FROM documents d
    JOIN afinal a ON a.vec_id = d.doc_id
    JOIN counts c USING (cid)
    CROSS JOIN mn
    WHERE {h} % 10000 < least(10000, (10000 * mn.n_min) // c.n)
    """


@_register(
    "cluster_balanced_sample",
    _cluster_mix_oracle(
        similarity.IVF_K, similarity.IVF_ITERS, similarity.IVF_DIM,
        similarity.IVF_SCALE,
    ),
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus mixing: documents are assigned to LEARNED
    k-means clusters (the exact-integer IVF assignment), then hash-mixed
    with per-cluster rates that uniformize cluster mass (rate_g =
    10000*n_min/n_g bp — the alpha=0 instance of temperature mixing, kept
    in exact integer math so the whole composition is value-reproducible
    cross-engine). The shape of semantic/domain-balanced data mixing:
    cluster counts are a tiny aggregate, the rate map is driver state, and
    the sampling filter itself is stateless and zero-shuffle."""
    from solana_etl_spark.operators.sampling import mixture_sample
    from solana_etl_spark.operators.similarity import ivf_assignments

    docs = _t(spark, sf_dir, "documents")
    assign = ivf_assignments(_t(spark, sf_dir, "embeddings")).select(
        F.col("vec_id").alias("doc_id"), "cid"
    )
    counts = {
        r["cid"]: r["n"]
        for r in assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_min = min(counts.values())
    rates = {cid: min(10_000, 10_000 * n_min // n) for cid, n in counts.items()}
    member = docs.join(assign, "doc_id")
    return mixture_sample(member, "doc_id", rates, stratum_col="cid").select(
        "doc_id", "cid", "source"
    )


# ---------------------------------------------------------------------------
# 6. Remaining TPC-H query shapes (adapted to the synthetic star schema:
#    no partsupp/commitdate/shipmode columns — each adaptation is noted).
#    With q1/q3/q5/q6/q13/q15/q17/q20/q21 above this completes all 22
#    TPC-H query shapes.
# ---------------------------------------------------------------------------


@_register(
    "q2_min_cost_supplier",
    """
    SELECT DISTINCT p.p_partkey, s.s_suppkey, s.s_name,
           CAST(l.l_extendedprice AS DOUBLE) AS min_price
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE p.p_size <= 3
      AND l.l_extendedprice = (
          SELECT MIN(l2.l_extendedprice) FROM lineitem l2
          WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated scalar MIN subquery: cheapest supplier
    per part; partsupp stands in as lineitem prices). Decorrelated by hand
    into the plan Catalyst would pick: per-part MIN aggregate (map-side
    combined) joined back on (partkey, price). Price equality is exact —
    MIN copies a stored double, no arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 3)
    s = _t(spark, sf_dir, "supplier")
    minp = li.groupBy(F.col("l_partkey").alias("_mk")).agg(
        F.min("l_extendedprice").alias("_min_price")
    )
    return (
        li.join(
            minp,
            (li.l_partkey == F.col("_mk"))
            & (li.l_extendedprice == F.col("_min_price")),
        )
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "s_suppkey",
            "s_name",
            F.col("l_extendedprice").cast("double").alias("min_price"),
        )
        .distinct()
    )


@_register(
    "q4_order_priority_exists",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 45 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS over the fact table ('any lineitem
    shipped >45 days after order date' stands in for commit<receipt). The
    EXISTS is a left-semi join with a non-equi residual condition — one
    shuffle on orderkey, no distinct pass."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (li.l_orderkey == o.o_orderkey)
        & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 45 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@_register(
    "q7_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(ROUND(SUM(volume), 4) AS DOUBLE) AS revenue
    FROM (
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               YEAR(l.l_shipdate) AS l_year,
               CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
           OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by year.
    The disjunctive nation-pair predicate sits ABOVE two broadcast nation
    joins (each dim row tagged with its name) so the fact side is filtered
    without a cross-nation blowup; money stays exact DECIMAL to the final
    round. NATION_18<->NATION_19 trades in BOTH directions at every fixture
    scale (sf0.001: 61/25 lineitems), so the oracle check is never vacuous
    (ADVICE r2: the old NATION_1/NATION_2 pair had zero rows at sf0.001)."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_name").alias("cust_nation")
    )
    vol = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    pair = (
        (
            (F.col("supp_nation") == "NATION_18")
            & (F.col("cust_nation") == "NATION_19")
        )
        | (
            (F.col("supp_nation") == "NATION_19")
            & (F.col("cust_nation") == "NATION_18")
        )
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(vol), 4).cast("double").alias("revenue"))
    )


@_register(
    "q8_market_share",
    """
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM (
        SELECT YEAR(o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l.l_discount AS DECIMAL(18,4)) AS volume,
               n1.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n2.n_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
    ) all_nations
    GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of a region's purchase volume by
    year — two conditional DECIMAL sums in ONE aggregate (no second pass,
    no self-join), ratio taken after exact summation. All five dims
    broadcast; the only shuffle is the per-year rollup."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("_n1key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("_n2key"), F.col("n_regionkey").alias("_n2reg")
    )
    vol = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    zero = F.lit(0).cast(DEC)
    target = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(zero)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("_n2key"))
        .join(F.broadcast(r), F.col("_n2reg") == F.col("r_regionkey"))
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("_n1key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(target).cast("double") / F.sum(vol).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@_register(
    "q9_product_profit",
    """
    SELECT nation, o_year, CAST(ROUND(SUM(amount), 4) AS DOUBLE) AS sum_profit
    FROM (
        SELECT n.n_name AS nation, YEAR(o.o_orderdate) AS o_year,
               CAST(l.l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l.l_discount AS DECIMAL(18,4))
               - CAST(ROUND(l.l_quantity * p.p_retailprice * 0.1, 4)
                      AS DECIMAL(18,4)) AS amount
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE p.p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and year over a LIKE'd
    part subset. Supply cost is 10% of retail price (no partsupp table);
    the cost term is rounded to money scale per row so the whole amount
    stays exact DECIMAL through the rollup."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    cost = F.round(
        F.col("l_quantity") * F.col("p_retailprice") * F.lit(0.1), 4
    ).cast(DEC)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.round(F.sum(rev - cost), 4).cast("double").alias("sum_profit"))
    )


@_register(
    "q10_returned_revenue",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                           * CAST(1 - l.l_discount AS DECIMAL(18,4))), 4)
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey ASC
    LIMIT 20
    """,
)
def q10_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by returned-item revenue in a
    window. Returnflag pushes into the lineitem scan, customer/nation
    broadcast, top-k as TakeOrderedAndProject with an exact-decimal sum
    and a custkey tie-break."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(rev), 4).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_register(
    "q11_important_parts",
    """
    WITH v AS (
        SELECT l_partkey,
               SUM(CAST(ROUND(l_extendedprice * l_quantity, 4)
                        AS DECIMAL(18,4))) AS val
        FROM lineitem GROUP BY l_partkey
    )
    SELECT l_partkey, CAST(ROUND(val, 4) AS DOUBLE) AS part_value
    FROM v
    WHERE CAST(val AS DOUBLE) * (SELECT COUNT(*) FROM v)
          > (SELECT CAST(SUM(val) AS DOUBLE) FROM v) * 1.2
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part inventory value filtered against a global
    scalar (parts holding >1.2x the average part's value — scale-stable,
    unlike a fixed fraction). The scalar (total, count) is a one-row
    broadcast cross join over the SAME per-part aggregate — lineitem is
    scanned once, not twice; value stays exact DECIMAL into the
    comparison."""
    li = _t(spark, sf_dir, "lineitem")
    val = F.sum(
        F.round(F.col("l_extendedprice") * F.col("l_quantity"), 4).cast(DEC)
    ).alias("val")
    v = li.groupBy("l_partkey").agg(val)
    total = v.agg(
        F.sum("val").cast("double").alias("_total"),
        F.count(F.lit(1)).alias("_nparts"),
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(
            F.col("val").cast("double") * F.col("_nparts")
            > F.col("_total") * 1.2
        )
        .select(
            "l_partkey", F.round("val", 4).cast("double").alias("part_value")
        )
    )


@_register(
    "q12_priority_by_bucket",
    """
    SELECT l_linenumber % 3 AS ship_bucket,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linenumber % 3
    """,
)
def q12_priority_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts of high/low-priority orders per
    ship group (linenumber buckets stand in for the missing shipmode
    column). One join + one conditional aggregate; the date range pushes
    into the lineitem scan."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy((F.col("l_linenumber") % 3).alias("ship_bucket"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_register(
    "q14_promo_revenue",
    """
    SELECT ROUND(
               100.0
               * CAST(SUM(CASE WHEN p_type = 'PROMO'
                               THEN CAST(l_extendedprice AS DECIMAL(18,4))
                                    * CAST(1 - l_discount AS DECIMAL(18,4))
                               ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE),
               6) AS promo_revenue_pct,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-02-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share for one month — both the
    conditional and total DECIMAL sums come out of a single aggregate, the
    percentage is one rounded double division. Part dim broadcast."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part")
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    zero = F.lit(0).cast(DEC)
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.round(
            F.lit(100.0) * F.sum(promo).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_revenue_pct"),
        F.count(F.lit(1)).alias("n_items"),
    )


@_register(
    "q16_supplier_cnt",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_size IN (1, 2, 3, 4, 5)
      AND l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct supplier counts per part class, excluding
    a NOT-IN supplier denylist. The denylist is a broadcast anti-join
    (s_suppkey is never null, so NOT IN ≡ anti-join); the count-distinct
    expands to a two-phase aggregate keyed by (class, suppkey) so hot
    part classes dedup across the cluster."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_size").isin(1, 2, 3, 4, 5))
    li = _t(spark, sf_dir, "lineitem")
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_register(
    "q18_large_volume_orders",
    """
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE)
               AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    GROUP BY c.c_custkey, o.o_orderkey, o.o_orderdate
    """,
)
def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity crosses a threshold —
    an IN-subquery that aggregates the SAME fact table. The per-order sum
    is computed once and used BOTH as the semi-join filter and the output
    value (no second lineitem scan, unlike the literal SQL); quantity sums
    stay exact DECIMAL."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_quantity").cast(DEC)).alias("_qty")
    )
    big = per_order.filter(F.col("_qty") > 300)
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("_qty").cast("double").alias("total_qty"),
        )
    )


@_register(
    "q19_disjunctive_pred",
    """
    SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                           * CAST(1 - l_discount AS DECIMAL(18,4))), 4)
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 40)
    """,
)
def q19_disjunctive_pred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of per-brand conjunctive ranges across
    BOTH join sides. Catalyst factors the cross-side OR into per-side
    implied filters (quantity range onto the scan, brand/size onto the
    broadcast dim) with the residual OR evaluated post-join — the pattern
    that breaks naive pushdown."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    q = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & (q >= 1) & (q <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(10, 30)
            & (q >= 10) & (q <= 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & (q >= 20) & (q <= 40)
        )
    )
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1) - F.col("l_discount")).cast(DEC)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(F.sum(rev), 4).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "q22_idle_customers",
    """
    WITH threshold AS (
        SELECT ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
                     / COUNT(*), 6) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           COUNT(*) AS numcust,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))), 4) AS DOUBLE)
               AS totacctbal
    FROM customer c CROSS JOIN threshold t
    WHERE c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY c.c_nationkey
    """,
)
def q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: rich customers gone idle (no orders since 2000) —
    a global-average scalar subquery (exact DECIMAL sum, rounded once at
    the cross-engine boundary) plus a NOT EXISTS anti-join on the filtered
    orders table (the date predicate pushes into the anti-join's build
    side scan)."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    thr = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            F.round(
                F.sum(F.col("c_acctbal").cast(DEC)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("_avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(F.broadcast(o), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum(F.col("c_acctbal").cast(DEC)), 4)
            .cast("double")
            .alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# 7. Lexical search + hybrid retrieval (operators/search.py)
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "vector", "stream", "join"]
_BM25_LIST_K = 20  # per-list depth feeding the RRF fusion


def _sqld(v: float) -> str:
    """A double literal DuckDB parses to the exact same IEEE value Spark's
    F.lit(v) produces (repr round-trips; CAST avoids DuckDB's
    decimal-literal typing)."""
    return f"CAST({v!r} AS DOUBLE)"


def _bm25_ctes(terms: list[str]) -> str:
    """CTEs ``tfd``/``bm25stats``/``bm`` mirroring
    operators/search.py:bm25_scores expression-for-expression (same literal
    values, same left-to-right addition order, same ROUND(_, 9)
    boundaries)."""
    from solana_etl_spark.operators.search import BM25_B, BM25_K1

    k1, b = BM25_K1, BM25_B
    k1p1, one_minus_b = k1 + 1.0, 1.0 - b
    tf_cols = ", ".join(
        f"len(list_filter(toks, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_cols = ", ".join(
        f"SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(terms))
    )
    contribs = []
    for i in range(len(terms)):
        tf = f"CAST(tf_{i} AS DOUBLE)"
        df = f"CAST(df_{i} AS DOUBLE)"
        idf = (
            f"ROUND(ln((CAST(n AS DOUBLE) - {df} + {_sqld(0.5)}) / "
            f"({df} + {_sqld(0.5)}) + {_sqld(1.0)}), 9)"
        )
        norm = (
            f"({_sqld(one_minus_b)} + {_sqld(b)} * "
            f"(CAST(dl AS DOUBLE) / avgdl))"
        )
        contribs.append(
            f"ROUND({idf} * ({tf} * {_sqld(k1p1)}) / "
            f"({tf} + {_sqld(k1)} * {norm}), 9)"
        )
    score = " + ".join(contribs)
    return f"""
    tfd AS (
        SELECT doc_id, len(toks) AS dl, {tf_cols}
        FROM (SELECT doc_id, {_TOKENS_SQL} AS toks FROM documents)
    ),
    bm25stats AS (
        SELECT COUNT(*) AS n,
               ROUND(CAST(SUM(dl) AS DOUBLE) / COUNT(*), 9) AS avgdl,
               {df_cols}
        FROM tfd
    ),
    bm AS (
        SELECT doc_id, ROUND({score}, 9) AS bm25_score
        FROM tfd CROSS JOIN bm25stats
        WHERE ROUND({score}, 9) > 0
    )
    """


def _bm25_oracle() -> str:
    from solana_etl_spark.operators.search import TOPK as SEARCH_TOPK

    return f"""
    WITH {_bm25_ctes(_BM25_TERMS)}
    SELECT doc_id, bm25_score FROM bm
    ORDER BY bm25_score DESC, doc_id ASC
    LIMIT {SEARCH_TOPK}
    """


@_register("text_bm25_topk", _bm25_oracle())
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-k (operators/search.py): per-doc term frequencies
    are row-local array expressions (zero corpus shuffle), the (N, avgdl,
    df) statistics are ONE tiny broadcast aggregate, and the top-k is
    TakeOrderedAndProject. idf/contribution doubles are rounded at 9
    decimals — the same cross-engine float boundary the LM scorer uses."""
    from solana_etl_spark.operators.search import bm25_topk

    return bm25_topk(_t(spark, sf_dir, "documents"), _BM25_TERMS)


def _rrf_oracle() -> str:
    from solana_etl_spark.operators.search import RRF_C, TOPK as SEARCH_TOPK

    one = "CAST(1.0 AS DOUBLE)"
    return f"""
    WITH {_bm25_ctes(_BM25_TERMS)},
    bmr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS rank
        FROM bm
        QUALIFY rank <= {_BM25_LIST_K}
    ),
    {_NEMB_CTE},
    q AS (SELECT vec_id AS q_id, v FROM nemb ORDER BY vec_id LIMIT 1),
    cos AS (
        SELECT a.vec_id AS doc_id, ROUND({_NDOT_SQL}, 6) AS cosine_sim
        FROM nemb a, q b
        WHERE a.vec_id <> b.q_id
    ),
    cosr AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cosine_sim DESC, doc_id) AS rank
        FROM cos
        QUALIFY rank <= {_BM25_LIST_K}
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           ROUND(
               (CASE WHEN a.rank IS NOT NULL
                     THEN {one} / ({RRF_C} + a.rank) ELSE {_sqld(0.0)} END)
               + (CASE WHEN b.rank IS NOT NULL
                       THEN {one} / ({RRF_C} + b.rank) ELSE {_sqld(0.0)} END),
               9) AS rrf_score
    FROM bmr a FULL OUTER JOIN cosr b ON a.doc_id = b.doc_id
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {SEARCH_TOPK}
    """


@_register("hybrid_rrf_fusion", _rrf_oracle())
def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval capstone #2: reciprocal-rank fusion of the BM25
    lexical list and the embedding cosine list (the standard
    score-scale-free way to combine lexical and dense retrieval). Both
    lists are top-k-sized → the fusion join is broadcast; rank arithmetic
    is integer, the two reciprocal terms are added in fixed order."""
    from solana_etl_spark.operators.search import (
        bm25_topk,
        rrf_fuse,
        with_rank,
    )

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    bm = bm25_topk(docs, _BM25_TERMS, k=_BM25_LIST_K)
    bmr = with_rank(bm, "bm25_score", "doc_id")
    cos = similarity.cosine_topk(emb, k=_BM25_LIST_K)
    cosr = with_rank(cos, "cosine_sim", "vec_id").withColumnRenamed(
        "vec_id", "doc_id"
    )
    return rrf_fuse(bmr, cosr)


def _rep_oracle() -> str:
    top_n, dup_n = text_ops.REP_TOP_N, text_ops.REP_DUP_N

    def grams(n: int) -> str:
        return (
            f"CASE WHEN len(toks) >= {n} THEN "
            f"[array_to_string(toks[i : i + {n - 1}], ' ') "
            f"for i in generate_series(1, len(toks) - {n - 1})] "
            "ELSE [] END"
        )

    # The oracle is RELATIONAL (unnest → group → argmax), not a mirror of
    # Spark's per-row run-length folds: DuckDB 1.0.0's list_reduce with a
    # struct CASE lambda returns wrong elements in full vectorized runs
    # (verified: same query, WHERE doc_id=100 gives the right answer, the
    # unfiltered run doesn't). Every statistic is integer until the final
    # rounded division, so the two formulations agree exactly.
    # argmax tie-break = lexicographically smallest gram (MIN over the
    # max-count grams), matching the sorted-run fold's first-run-wins.
    return f"""
    WITH base AS (
        SELECT doc_id, {_TOKENS_SQL} AS toks,
               greatest(length(trim(text)), 1) AS n_chars
        FROM documents
    ), garr AS (
        SELECT doc_id, toks, n_chars,
               {grams(top_n)} AS g2arr,
               {grams(dup_n)} AS g5arr
        FROM base
    ), c2 AS (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(g2arr) AS gram FROM garr)
        GROUP BY doc_id, gram
    ), top2 AS (
        SELECT doc_id, c AS topc, gram AS topg
        FROM (
            SELECT doc_id, c, gram,
                   row_number() OVER (
                       PARTITION BY doc_id ORDER BY c DESC, gram ASC
                   ) AS rn
            FROM c2
        ) WHERE rn = 1
    ), c5 AS (
        SELECT doc_id, gram, COUNT(*) AS c
        FROM (SELECT doc_id, unnest(g5arr) AS gram FROM garr)
        GROUP BY doc_id, gram
    ), dup5 AS (
        SELECT doc_id,
               CAST(SUM(CASE WHEN c >= 2 THEN c * length(gram)
                             ELSE 0 END) AS BIGINT) AS dupmass
        FROM c5 GROUP BY doc_id
    ), folded AS (
        SELECT b.doc_id, b.toks, b.n_chars,
               COALESCE(t.topc, 0) AS topc,
               COALESCE(t.topg, '') AS topg,
               COALESCE(d.dupmass, 0) AS dupmass
        FROM base b
        LEFT JOIN top2 t ON t.doc_id = b.doc_id
        LEFT JOIN dup5 d ON d.doc_id = b.doc_id
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           ROUND((len(toks) - len(list_distinct(toks)))
                 / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
               AS dup_token_frac,
           topg AS top_2gram,
           ROUND(topc * length(topg) / CAST(n_chars AS DOUBLE), 6)
               AS top_2gram_char_frac,
           ROUND(dupmass / CAST(n_chars AS DOUBLE), 6)
               AS dup_5gram_char_frac,
           (ROUND(topc * length(topg) / CAST(n_chars AS DOUBLE), 6)
                > {text_ops.REP_TOP_FRAC}
            OR ROUND(dupmass / CAST(n_chars AS DOUBLE), 6)
                > {text_ops.REP_DUP_FRAC}
            OR ROUND((len(toks) - len(list_distinct(toks)))
                     / CAST(greatest(len(toks), 1) AS DOUBLE), 6)
                > {text_ops.REP_TOKEN_FRAC}) AS is_repetitive
    FROM folded
    """


@_register("text_repetition_stats", _rep_oracle())
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter signals
    (operators/text.py:repetition_stats): duplicate-token fraction, most
    frequent 2-gram character coverage, duplicated-5-gram character
    coverage, and the composite is_repetitive flag. Zero shuffle — every
    signal is a per-row array fold."""
    return text_ops.repetition_stats(_t(spark, sf_dir, "documents"))


@_register(
    "text_structure_stats",
    """
    WITH l AS (
        SELECT doc_id, string_split(text, chr(10)) AS lines FROM documents
    ), s AS (
        SELECT doc_id, lines,
               list_filter(lines, x -> trim(x) <> '') AS nonblank
        FROM l
    )
    SELECT doc_id,
           len(lines) AS n_lines,
           ROUND((len(lines) - len(nonblank))
                 / CAST(greatest(len(lines), 1) AS DOUBLE), 9) AS blank_frac,
           ROUND(len(list_filter(nonblank,
                     x -> substr(ltrim(x), 1, 1) IN ('-', '*', '•')))
                 / CAST(greatest(len(nonblank), 1) AS DOUBLE), 9)
               AS bullet_frac,
           ROUND(len(list_filter(nonblank,
                     x -> right(rtrim(x), 1) IN ('.', '!', '?', '"')))
                 / CAST(greatest(len(nonblank), 1) AS DOUBLE), 9)
               AS punct_line_frac
    FROM s
    """,
)
def text_structure_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/FineWeb-style LINE-structure filter features (operators/text.py
    structure_stats): blank-line density, bullet-line fraction,
    terminal-punctuation-line fraction — the line-level signals token
    stats can't see. Pure per-row array expressions, zero shuffle."""
    return text_ops.structure_stats(_t(spark, sf_dir, "documents"))


def _script_stats_oracle() -> str:
    # RE2 classes mirroring operators/text.py SCRIPT_CLASSES byte-for-byte
    # in semantics (\x{....} escapes; explicit whitespace class because
    # Java \s includes \x0B and RE2 \s does not). Every class matches
    # single characters, so count = chars removed by a global replace.
    classes = {
        "latin": "[A-Za-z]",
        "digit": "[0-9]",
        "cjk": "[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]",
        "cyrillic": "[\\x{0400}-\\x{04ff}]",
        "arabic": "[\\x{0600}-\\x{06ff}]",
        "whitespace": "[ \\t\\n\\x0B\\f\\r]",
    }

    def cnt(cls: str) -> str:
        return f"(length(text) - length(regexp_replace(text, '{cls}', '', 'g')))"

    fracs = ",\n           ".join(
        f"ROUND({cnt(cls)} / CAST(greatest(length(text), 1) AS DOUBLE), 9)"
        f" AS {name}_frac"
        for name, cls in classes.items()
    )
    other = " - ".join(["length(text)"] + [cnt(c) for c in classes.values()])
    return f"""
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_text,
           {fracs},
           ROUND(({other}) / CAST(greatest(length(text), 1) AS DOUBLE), 9)
               AS other_frac
    FROM documents
    """


@_register("text_script_stats", _script_stats_oracle())
def text_script_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script mix (operators/text.py script_stats):
    Latin/digit/CJK/Cyrillic/Arabic/whitespace character fractions plus
    other_frac (the mojibake/binary-spill flag) — the multilingual
    curation signal lang-ID heuristics sit on top of, and a corpus
    card's script histogram. Zero shuffle, per-row regexp_count
    projections."""
    return text_ops.script_stats(_t(spark, sf_dir, "documents"))


@_register(
    "text_char_entropy",
    # per-character p*log10(p) terms rounded at 9 then exact-decimal summed
    # (lm.py's float discipline); bits via a shared LITERAL log10(2) —
    # engine log2() builtins drift at the last ulp (measured at sf0.1)
    """
    WITH ch AS (
        SELECT doc_id, length(text) AS n,
               unnest(generate_series(1, length(text))) AS i
        FROM documents WHERE length(text) > 0
    ), c2 AS (
        SELECT ch.doc_id, ch.n, substr(d.text, CAST(ch.i AS INTEGER), 1) AS ch
        FROM ch JOIN documents d USING (doc_id)
    ), counts AS (
        SELECT doc_id, n, ch, COUNT(*) AS c FROM c2 GROUP BY doc_id, n, ch
    ), terms AS (
        SELECT doc_id, n,
               CAST(ROUND((c / CAST(n AS DOUBLE))
                          * ROUND(log10(c / CAST(n AS DOUBLE)), 9), 9)
                    AS DECIMAL(28,9)) AS t
        FROM counts
    )
    SELECT doc_id, MAX(n) AS n_chars,
           ROUND(-CAST(SUM(t) AS DOUBLE) / 0.30102999566398119802, 6)
               AS entropy_bits
    FROM terms GROUP BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document (operators/text.py
    char_entropy) — the cheap gibberish/encoded-blob signal. One explode +
    one (doc, char) count with map-side combine; per-char terms round at 9
    and sum as exact DECIMAL."""
    return text_ops.char_entropy(_t(spark, sf_dir, "documents"))


# BPE vocabulary artifact for text_bpe_encode: trained ONCE with
# operators/vocab.py:train_bpe_merges on the sf0.001 documents sample and
# frozen — the production shape (a tokenizer trains on a bounded sample,
# then the shipped merge list encodes the full corpus).
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("o", "r"), ("t", "</w>"),
    ("er", "</w>"), ("o", "w"), ("ow", "</w>"), ("l", "u"), ("i", "n"),
    ("y", "</w>"), ("a", "r"),
]


def _bpe_stream_sql() -> str:
    """DuckDB expression for apply_bpe_replace's symbol stream over a
    column named ``base``: the same sentinel-delimited replace chain,
    mirrored literally — DuckDB's replace() is the same left-to-right
    non-overlapping scan as Java's, so the greedy merge semantics match
    byte-for-byte (regexp syntax differs: '\\1' + the 'g' flag vs '$1').
    Double-SEP boundaries / triple-SEP word gaps, exactly as in
    operators/vocab.py:apply_bpe_replace — the single-SEP form was wrong
    on adjacent merge-pair occurrences (the match consumed the shared
    boundary SEP)."""
    from solana_etl_spark.operators.vocab import EOW, SEP

    # 'gs' (dotall) mirrors the Spark side's (?s): '.' total over every
    # char incl. \n and the U+2028/U+2029/U+0085 line terminators
    stream = (
        "regexp_replace(base || ' ', '(.)',"
        " chr(31) || '\\1' || chr(31), 'gs')"
    )
    stream = f"replace({stream}, '{SEP} {SEP}', '{SEP}{EOW}{SEP}{SEP}')"
    for a, b in _BPE_MERGES:
        stream = (
            f"replace({stream}, '{SEP}{a}{SEP}{SEP}{b}{SEP}',"
            f" '{SEP}{a}{b}{SEP}')"
        )
    return stream


def _bpe_encode_oracle() -> str:
    stream = _bpe_stream_sql()
    return f"""
    WITH norm AS (
        SELECT doc_id, n_chars,
               trim(regexp_replace(replace(lower(text), chr(31), ''),
                                   '\\s+', ' ', 'g')) AS base
        FROM documents
    ), enc AS (
        SELECT doc_id, n_chars,
               list_filter(string_split({stream}, chr(31)),
                           x -> x <> '') AS toks
        FROM norm
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           array_to_string(toks[1:8], ' ') AS tok_prefix,
           ROUND(n_chars / CAST(len(toks) AS DOUBLE), 6) AS chars_per_token
    FROM enc
    """


@_register("text_bpe_encode", _bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with a shipped BPE vocabulary
    (operators/vocab.py:apply_bpe_replace): the merge list learned by
    train_bpe_merges, applied as ONE whole-stage-codegen projection — a
    chain of literal string replaces over a sentinel-delimited symbol
    stream, zero shuffle, zero Python. Returns per-doc token count, the
    first 8 tokens, and chars/token (the compression-ratio quality
    signal). Cross-engine value-hash oracle: DuckDB runs the identical
    replace chain — possible precisely because the encoder is expression-
    level, not a UDF."""
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe_replace(docs, _BPE_MERGES)
    n_tokens = F.size("bpe_tokens").cast("long")
    return enc.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.concat_ws(" ", F.slice("bpe_tokens", 1, 8)).alias("tok_prefix"),
        F.round(F.col("n_chars") / n_tokens, 6).alias("chars_per_token"),
    )


def _bpe_train_oracle(n_merges: int) -> str:
    """Classic BPE TRAINING, end-to-end in DuckDB SQL: the merge loop
    unrolled as ``n_merges`` static CTE stages — stage i computes pair
    counts over the current symbol streams, picks the (count desc, a, b)
    argmax, and applies it as one sentinel-stream ``replace`` (the
    apply_bpe_replace double-SEP encoding, per word; DuckDB's replace is
    the same left-to-right non-overlapping scan as the greedy merge).
    This is the INDEPENDENT cross-engine check of the hybrid trainer's
    whole artifact: Spark learns the merges (driver fast path over the
    distributed word table), DuckDB re-learns them from the raw corpus,
    and the value hash pins the sequences equal. MATERIALIZED is
    load-bearing: each stage is referenced twice (pairs + next stage),
    and inlining would recompute the chain exponentially. The stream
    encoding requires SEP-free text (chr(31)); the test tables contain
    none (checked at every sf)."""
    from solana_etl_spark.operators.vocab import EOW

    parts = [
        f"""
    s0 AS MATERIALIZED (
        SELECT regexp_replace(word, '(.)', chr(31) || '\\1' || chr(31), 'gs')
               || chr(31) || '{EOW}' || chr(31) AS stream,
               CAST(freq AS BIGINT) AS freq
        FROM (
            SELECT w AS word, COUNT(*) AS freq FROM (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '\\s+'),
                    x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        )
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""
    p{i} AS (
        SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT syms[i] AS a, syms[i+1] AS b, freq FROM (
                SELECT syms, freq,
                       unnest(generate_series(1, len(syms) - 1)) AS i
                FROM (
                    SELECT list_filter(string_split(stream, chr(31)),
                                       x -> x <> '') AS syms, freq
                    FROM s{i}
                )
            )
        ) GROUP BY a, b
    ),
    b{i} AS MATERIALIZED (
        SELECT a, b FROM p{i} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    s{i+1} AS MATERIALIZED (
        SELECT replace(stream,
                       chr(31) || a || chr(31) || chr(31) || b || chr(31),
                       chr(31) || a || b || chr(31)) AS stream, freq
        FROM s{i}, b{i}
    )"""
        )
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({i} AS BIGINT) AS merge_idx, a, b FROM b{i}"
        for i in range(n_merges)
    )
    return "WITH " + ",".join(parts) + "\n" + sel


_BPE_TRAIN_N_MERGES = 16


@_register("text_bpe_vocab_train", _bpe_train_oracle(_BPE_TRAIN_N_MERGES))
def text_bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary TRAINING certified end-to-end: the hybrid trainer
    (operators/vocab.py train_bpe_merges — one distributed corpus scan
    to the Zipf-bounded (word, freq) table, classic greedy merges on the
    driver via operators/vocab_driver.py's incremental heap trainer,
    distributed-round fallback past the cap) learns the merge sequence
    on THIS sf's documents, and the oracle re-learns it inside DuckDB
    with the merge loop unrolled as SQL stages — the two engines must
    produce the identical ordered merge list. This is the r7→r8 fix for
    the one family that had no oracle coverage (training; encoding was
    already covered by text_bpe_encode), and the certification that the
    production 32k-merge path (measured: 32768 merges in ~3.6 s on a
    20k-word table) is bit-equal to classic."""
    from solana_etl_spark.operators.vocab import train_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    merges = train_bpe_merges(docs, n_merges=_BPE_TRAIN_N_MERGES)
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "merge_idx long, a string, b string",
    )


@_register("stream_bpe_vocab", _bpe_train_oracle(_BPE_TRAIN_N_MERGES))
def stream_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tokenizer training (streaming/vocab_stream.py): the
    documents stream through as two DISJOINT micro-batches maintaining
    the versioned (word, freq) state, then the driver-side hybrid
    trainer learns the merge list from the state — which equals batch
    training exactly (word counts are additive), so the oracle is the
    SAME unrolled classic merge loop as text_bpe_vocab_train. Eleventh
    stream-equals-batch gate family, and the streaming completion of
    the r8 hybrid trainer."""
    from solana_etl_spark.streaming.vocab_stream import (
        start_streaming_word_counts,
        train_bpe_from_state,
    )

    docs = _t(spark, sf_dir, "documents")

    def merges(work: str) -> DataFrame:
        trained = train_bpe_from_state(
            spark, f"{work}/state", _BPE_TRAIN_N_MERGES
        )
        return spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(trained)],
            "merge_idx long, a string, b string",
        )

    return _stream_gate(
        spark,
        "vocab",
        [docs.filter(F.col("doc_id") % 2 == p).coalesce(1) for p in (0, 1)],
        lambda stream, work: start_streaming_word_counts(
            spark,
            stream,
            state_dir=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
        ),
        merges,
    )


def _bpe_fertility_oracle() -> str:
    stream = _bpe_stream_sql()
    return f"""
    WITH norm AS (
        SELECT doc_id, lang, n_chars,
               trim(regexp_replace(replace(lower(text), chr(31), ''),
                                   '\\s+', ' ', 'g')) AS base
        FROM documents
    ), enc AS (
        SELECT lang, n_chars,
               len(list_filter(string_split({stream}, chr(31)),
                               x -> x <> '')) AS n_tokens,
               len(list_filter(string_split_regex(base, ' '),
                               x -> x <> '')) AS n_words
        FROM norm
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) / CAST(SUM(n_words) AS DOUBLE), 6)
               AS tokens_per_word,
           ROUND(SUM(n_chars) / CAST(SUM(n_tokens) AS DOUBLE), 6)
               AS chars_per_token
    FROM enc GROUP BY lang
    """


@_register("text_bpe_fertility", _bpe_fertility_oracle())
def text_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: tokens/word and chars/token of the
    shipped BPE vocabulary per lang — the standard diagnostic for how well
    a tokenizer serves each language slice of a corpus (a high-fertility
    language pays more sequence budget per word). Single codegen encode
    projection + one bounded per-lang aggregate, zero extra shuffles."""
    from solana_etl_spark.operators.text import tokens as ws_tokens
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe_replace(docs, _BPE_MERGES).select(
        "lang",
        "n_chars",
        F.size("bpe_tokens").alias("n_tokens"),
        F.size(F.filter(ws_tokens(F.col("text")), lambda w: w != "")).alias(
            "n_words"
        ),
    )
    return enc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.sum("n_tokens") / F.sum("n_words"), 6).alias(
            "tokens_per_word"
        ),
        F.round(F.sum("n_chars") / F.sum("n_tokens"), 6).alias(
            "chars_per_token"
        ),
    )


_BPE_PACK_BUDGET = 2048  # tokens per packed training sequence


def _bpe_pack_oracle() -> str:
    stream = _bpe_stream_sql()
    b = _BPE_PACK_BUDGET
    return f"""
    WITH norm AS (
        SELECT doc_id, lang,
               trim(regexp_replace(replace(lower(text), chr(31), ''),
                                   '\\s+', ' ', 'g')) AS base
        FROM documents
    ), enc AS (
        SELECT doc_id, lang,
               len(list_filter(string_split({stream}, chr(31)),
                               x -> x <> '')) AS n_tokens
        FROM norm
    ), cum AS (
        SELECT lang, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS e
        FROM enc
    ), ex AS (
        SELECT lang, doc_id, n_tokens, e - n_tokens AS s, e,
               unnest(generate_series(CAST((e - n_tokens) // {b} AS BIGINT),
                                      CAST((e - 1) // {b} AS BIGINT))) AS seq_id
        FROM cum WHERE n_tokens > 0
    )
    SELECT lang, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           seq_id,
           CAST(greatest(s, seq_id * {b}) - seq_id * {b} AS BIGINT)
               AS seq_offset,
           CAST(least(e, seq_id * {b} + {b}) - greatest(s, seq_id * {b})
                AS BIGINT) AS tokens_in_seq
    FROM ex
    """


def _pretrain_e2e_oracle() -> str:
    n = 5  # decontamination word-n-gram length (matches text_decontaminate)
    toks = _TOKENS_SQL
    gram_hash = hash64_sql(f"array_to_string(toks[i:i+{n - 1}], ' ')")
    stream = _bpe_stream_sql()
    b = _BPE_PACK_BUDGET
    up_hash = hash64_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)"
    )
    return f"""
    WITH corpus AS (SELECT * FROM documents WHERE source <> 'src19'),
    {_clean_corpus_ctes("corpus")},
    g AS (
        SELECT doc_id, source,
               list_distinct([ {gram_hash}
                   for i in generate_series(1, greatest(len(toks) - {n - 1}, 0)) ]) AS grams
        FROM (SELECT doc_id, source, {toks} AS toks FROM documents)
    ),
    probe AS (SELECT DISTINCT unnest(grams) AS gh FROM g WHERE source = 'src19'),
    contam AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest(grams) AS gh FROM g
              WHERE source <> 'src19') t
        JOIN probe USING (gh)
    ),
    survivors AS (
        SELECT c.* FROM corpus c
        WHERE c.doc_id IN (SELECT doc_id FROM quality)
          AND c.doc_id IN (SELECT doc_id FROM keepers)
          AND c.doc_id NOT IN (SELECT doc_b FROM pairs)
          AND c.doc_id NOT IN (SELECT doc_id FROM contam)
    ),
    up AS (
        SELECT doc_id, lang, text, epoch
        FROM (
            SELECT doc_id, lang, source, text,
                   bp // 10000 AS nf, bp % 10000 AS fbp,
                   unnest(generate_series(1, bp // 10000 + 1)) AS epoch
            FROM (SELECT *, CASE source WHEN 'src0' THEN 25000
                                        WHEN 'src5' THEN 30000
                                        WHEN 'src10' THEN 5000
                                        ELSE 10000 END AS bp
                  FROM survivors)
        )
        WHERE epoch <= nf OR {up_hash} % 10000 < fbp
    ),
    enc AS (
        SELECT doc_id, lang, epoch,
               CAST(doc_id AS BIGINT) * 16 + epoch AS ord,
               len(list_filter(string_split({stream}, chr(31)),
                               x -> x <> '')) AS n_tokens
        FROM (SELECT doc_id, lang, epoch,
                     trim(regexp_replace(replace(lower(text), chr(31), ''),
                                         '\\s+', ' ', 'g')) AS base
              FROM up)
    ),
    cum AS (
        SELECT lang, doc_id, epoch, ord, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY ord
                                   ROWS UNBOUNDED PRECEDING) AS e
        FROM enc
    ),
    ex AS (
        SELECT lang, doc_id, epoch, n_tokens, e - n_tokens AS s, e,
               unnest(generate_series(CAST((e - n_tokens) // {b} AS BIGINT),
                                      CAST((e - 1) // {b} AS BIGINT))) AS seq_id
        FROM cum WHERE n_tokens > 0
    )
    SELECT lang, doc_id, CAST(epoch AS BIGINT) AS epoch,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           seq_id,
           CAST(greatest(s, seq_id * {b}) - seq_id * {b} AS BIGINT)
               AS seq_offset,
           CAST(least(e, seq_id * {b} + {b}) - greatest(s, seq_id * {b})
                AS BIGINT) AS tokens_in_seq
    FROM ex
    """


@_register("pipeline_pretrain_e2e", _pretrain_e2e_oracle())
def pipeline_pretrain_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full pre-training data pipeline as ONE lazy plan — the capstone
    composition of the operator library, every stage the individually
    oracled operator:

        quality filter → exact-dedup keepers → MinHash-LSH near-dup drop
        → 5-gram eval decontamination (src19 held out) → per-source epoch
        up-sampling → BPE tokenization (codegen replace chain) → 2048-
        token sequence packing per language

    Output: the training-sequence accounting a data loader consumes —
    (lang, doc_id, epoch, n_tokens, seq_id, seq_offset, tokens_in_seq).
    All dedup/quality/contamination sets are computed corpus-wide and
    intersected (the pipeline_clean_corpus formulation); the only
    shuffles are the per-stage set aggregates plus ONE pack window keyed
    by the group column. Cross-engine: the DuckDB oracle reproduces the
    entire seven-stage composition bit-exactly."""
    return _pretrain_parts(spark, sf_dir)["packed"]


def _pretrain_parts(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """The pre-training pipeline's cumulative stage prefixes —
    ``survivors`` (quality → exact keepers → LSH drops → decontamination,
    pure id-set algebra), ``encoded`` (+ epoch up-sampling + codegen BPE
    encode), ``packed`` (+ the per-language pack window; the full
    pipeline_pretrain_e2e result). bench.py counts each prefix at the
    huge scaling size to attribute decade-over-decade growth to a stage
    instead of a whole-pipeline exponent."""
    from solana_etl_spark.operators.decontam import contamination
    from solana_etl_spark.operators.dedup import (
        exact_dedup,
        lsh_duplicate_ids,
    )
    from solana_etl_spark.operators.packing import pack_sequences
    from solana_etl_spark.operators.sampling import epoch_upsample
    from solana_etl_spark.operators.text import quality_score
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src19")
    eval_docs = docs.filter(F.col("source") == "src19")

    quality_ids = quality_score(corpus).filter("is_quality").select("doc_id")
    keepers = exact_dedup(corpus).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    drops = lsh_duplicate_ids(corpus)
    contam = (
        contamination(corpus, eval_docs, n=5)
        .filter("is_contaminated")
        .select("doc_id")
    )
    survivors = (
        corpus.join(quality_ids, "doc_id", "left_semi")
        .join(keepers, "doc_id", "left_semi")
        .join(drops, "doc_id", "left_anti")
        .join(contam, "doc_id", "left_anti")
    )
    up = epoch_upsample(survivors, "doc_id", "source", _EPOCH_FACTORS_BP)
    enc = apply_bpe_replace(up, _BPE_MERGES).withColumn(
        "_ord", F.col("doc_id").cast("long") * 16 + F.col("epoch")
    )
    # range splits for the two-phase pack prefix sum, from the CHEAP raw
    # doc_id column (not the pipeline output — that would run the whole
    # upstream twice): bit-identical seq accounting, but the dominant
    # language packs on ~n_buckets tasks instead of one reducer
    from solana_etl_spark.operators.prefix import quantile_splits

    splits = quantile_splits(
        corpus.select(
            (F.col("doc_id").cast("long") * 16).alias("_k")
        ),
        "_k",
    )
    packed = pack_sequences(
        enc,
        budget=_BPE_PACK_BUDGET,
        group_cols=("lang",),
        order_col="_ord",
        n_tokens=F.size("bpe_tokens"),
        order_splits=splits,
    )
    return {
        "survivors": survivors.select("doc_id"),
        # force the encode: under a bare count() Catalyst prunes the
        # unused bpe_tokens column and the whole replace chain with it
        "encoded": enc.filter(F.size("bpe_tokens") >= 0).select(
            "doc_id", "epoch"
        ),
        "packed": packed.select(
            "lang",
            (F.col("_ord") / 16).cast("int").alias("doc_id"),
            (F.col("_ord") % 16).cast("long").alias("epoch"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "seq_id",
            "seq_offset",
            "tokens_in_seq",
        ),
    }


@_register("pipeline_bpe_pack", _bpe_pack_oracle())
def pipeline_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer→packing composite: encode the corpus with the shipped BPE
    vocabulary (codegen replace chain), then pack the REAL token counts
    into fixed 2048-token training sequences per language
    (operators/packing.py:pack_sequences with the n_tokens override).
    This is the accounting a pre-training data loader consumes: which
    sequences each document occupies and at which offsets. One window
    shuffle keyed by the pack group; the encode adds zero shuffles."""
    from solana_etl_spark.operators.packing import pack_sequences
    from solana_etl_spark.operators.prefix import quantile_splits
    from solana_etl_spark.operators.vocab import apply_bpe_replace

    docs = _t(spark, sf_dir, "documents")
    enc = apply_bpe_replace(docs, _BPE_MERGES)
    packed = pack_sequences(
        enc,
        budget=_BPE_PACK_BUDGET,
        group_cols=("lang",),
        order_col="doc_id",
        n_tokens=F.size("bpe_tokens"),
        order_splits=quantile_splits(docs, "doc_id"),
    )
    return packed.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
        "tokens_in_seq",
    )



# ---------------------------------------------------------------------------
# Unigram-LM (SentencePiece-style) tokenizer family — the second tokenizer
# next to BPE. Cross-engine exactness rests on 9-decimal DECIMAL piece
# costs: every Viterbi DP sum/comparison is exact decimal arithmetic in
# both engines, and the DuckDB oracle runs the SAME shortest-path DP as an
# unrolled CTE chain (positions 1.._UNI_W) + a recursive backtrace.
# ---------------------------------------------------------------------------

# Frozen vocabulary artifact for text_unigram_encode: trained ONCE with
# operators/unigram.py:train_unigram_vocab on the sf0.001 documents sample
# (seed 64, vocab 48, 2 hard-EM iters, pieces <= 4 chars) and frozen — the
# production shape (train on a bounded sample, ship the vocabulary).
_UNIGRAM_VOCAB: list[tuple[str, str]] = [
    ("a", "1.346957776"), ("agg", "1.931227285"), ("al", "1.957043849"),
    ("alu", "1.932596580"), ("as", "1.945118484"), ("at", "1.653602440"),
    ("b", "1.478474140"), ("c", "1.474157538"), ("co", "1.919981331"),
    ("d", "1.944178453"), ("e", "1.038805627"), ("er", "1.947950850"),
    ("f", "1.647869096"), ("g", "1.469568485"), ("h", "1.346127725"),
    ("i", "1.653362033"), ("in", "1.635700566"), ("j", "1.939044337"),
    ("k", "1.641976272"), ("l", "1.248980846"), ("lumn", "1.919981331"),
    ("m", "1.650965258"), ("mer", "1.649295352"), ("n", "4.910320186"),
    ("o", "1.649057317"), ("or", "1.941370505"), ("orde", "1.921315570"),
    ("ow", "1.468939301"), ("p", "4.910320186"), ("par", "1.951278793"),
    ("part", "1.926693898"), ("q", "1.939973309"), ("r", "1.342823294"),
    ("ro", "1.939973309"), ("s", "1.474316650"), ("scan", "1.917325087"),
    ("sort", "1.921761229"), ("st", "1.475591644"), ("t", "1.469725924"),
    ("ta", "1.954632435"), ("u", "1.961418425"), ("ue", "1.939973309"),
    ("up", "1.926693898"), ("v", "1.635931390"), ("w", "4.910320186"),
    ("wind", "1.920870368"), ("y", "1.636393405"),
]

# DP unroll depth for the oracle: fixture max word length is 8 (checked at
# all three sf); 16 leaves drift headroom. The Spark operator itself is
# length-unbounded (sequence-driven fold) — this cap is oracle-only.
_UNI_W = 16


def _uni_base_sql() -> str:
    """Shared CTEs: the (word, freq) table, the substring-candidate
    relation, and the single-char table — the same normalization as
    operators/vocab.py:word_freq_table (lower, split \\s+, drop '')."""
    from solana_etl_spark.operators.unigram import MAX_PIECE_LEN

    return f"""
    uniw AS MATERIALIZED (
        SELECT word, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(list_filter(
                       string_split_regex(lower(text), '\\s+'),
                       x -> x <> '')) AS word
            FROM documents WHERE text IS NOT NULL
        ) GROUP BY word
    ),
    uniguard AS MATERIALIZED (
        -- fail-loudly assertion of the unroll-depth assumption: the Spark
        -- operator is length-unbounded, but this oracle caps candidate
        -- starts and the DP at _UNI_W positions. A longer fixture word
        -- would otherwise SILENTLY vanish from the segmentation (the seg
        -- inner join drops its tokens) and surface as a confusing
        -- value-hash mismatch instead of this error.
        SELECT CASE WHEN COALESCE(MAX(len(word)), 0) > {_UNI_W}
                    THEN error('unigram oracle: a word exceeds the DP unroll depth _UNI_W={_UNI_W}; raise _UNI_W to cover the fixture')
                    ELSE 1 END AS ok
        FROM uniw
    ),
    unic AS MATERIALIZED (
        SELECT w.word, w.freq, s.s, j.j, substr(w.word, s.s, j.j) AS piece
        FROM uniw w
        JOIN uniguard g ON g.ok = 1
        JOIN (SELECT unnest(generate_series(1, {_UNI_W})) AS s) s
             ON s.s <= len(w.word)
        JOIN (SELECT unnest(generate_series(1, {MAX_PIECE_LEN})) AS j) j
             ON j.j <= least({MAX_PIECE_LEN}, len(w.word) - s.s + 1)
    ),
    unichars AS MATERIALIZED (SELECT DISTINCT piece FROM unic WHERE j = 1)
    """


def _uni_seg_sql(prefix: str, words_cte: str, cand_cte: str,
                 vocab_cte: str) -> str:
    """CTE chain segmenting every word of ``words_cte`` under the costs in
    ``vocab_cte``: edges (vocab pieces + fixed-cost single-char fallback),
    unrolled min-cost DP over end positions 1.._UNI_W (ties: longer piece),
    recursive backpointer trace. Emits ``{prefix}seg(word, toks)``."""
    from solana_etl_spark.operators.unigram import UNK_COST

    parts = [f"""
    {prefix}e AS MATERIALIZED (
        SELECT c.word, c.s, c.j,
               COALESCE(v.cost, CAST('{UNK_COST}' AS DECIMAL(12,9))) AS cost
        FROM {cand_cte} c LEFT JOIN {vocab_cte} v ON v.piece = c.piece
        WHERE v.piece IS NOT NULL OR c.j = 1
    )""", f"""
    {prefix}b0 AS MATERIALIZED (
        SELECT word, 0 AS pos, CAST(0 AS DECIMAL(28,9)) AS cost, 0 AS back
        FROM {words_cte}
    )"""]
    for k in range(1, _UNI_W + 1):
        parts.append(f"""
    {prefix}b{k} AS MATERIALIZED (
        SELECT * FROM {prefix}b{k - 1}
        UNION ALL
        SELECT word, pos, cost, back FROM (
            SELECT b.word, {k} AS pos,
                   CAST(b.cost + e.cost AS DECIMAL(28,9)) AS cost,
                   e.j AS back,
                   ROW_NUMBER() OVER (
                       PARTITION BY b.word
                       ORDER BY b.cost + e.cost ASC, e.j DESC) AS rn
            FROM {prefix}b{k - 1} b
            JOIN {prefix}e e ON e.word = b.word AND e.s = b.pos + 1
                 AND b.pos + e.j = {k}
        ) WHERE rn = 1
    )""")
    parts.append(f"""
    {prefix}tr AS (
        SELECT word, len(word) AS pos, CAST([] AS VARCHAR[]) AS toks
        FROM {words_cte}
        UNION ALL
        SELECT t.word, t.pos - b.back,
               list_prepend(substr(t.word, t.pos - b.back + 1, b.back),
                            t.toks)
        FROM {prefix}tr t
        JOIN {prefix}b{_UNI_W} b ON b.word = t.word AND b.pos = t.pos
        WHERE t.pos > 0
    )""")
    parts.append(f"""
    {prefix}seg AS (SELECT word, toks FROM {prefix}tr WHERE pos = 0)""")
    return ",".join(parts)


def _uni_cost_sql(name: str, counts_cte: str) -> str:
    return f"""
    {name} AS (
        SELECT piece,
               CAST(ROUND(-log10(CAST(cnt AS DOUBLE) / t.total), 9)
                    AS DECIMAL(12,9)) AS cost
        FROM {counts_cte},
             (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM {counts_cte}) t
    )"""


def _uni_vocab_oracle() -> str:
    from solana_etl_spark.operators.unigram import (
        N_ITERS,
        SEED_SIZE,
        VOCAB_SIZE,
    )

    seed = f"""
    seedc AS (SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt
              FROM unic GROUP BY piece),
    seedsel AS (
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn
            FROM seedc WHERE len(piece) > 1) WHERE rn <= {SEED_SIZE}
        UNION ALL
        SELECT piece, cnt FROM seedc WHERE len(piece) = 1
    )"""
    em = [_uni_cost_sql("uvocab0", "seedsel")]
    for i in range(N_ITERS):
        pf = f"em{i}"
        em.append(_uni_seg_sql(pf, "uniw", "unic", f"uvocab{i}"))
        em.append(f"""
    {pf}cnt AS (
        SELECT piece, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT w.freq, unnest(s.toks) AS piece
            FROM {pf}seg s JOIN uniw w ON w.word = s.word
        ) GROUP BY piece
    ),
    {pf}next AS (
        SELECT piece, cnt FROM {pf}cnt WHERE len(piece) > 1
        UNION ALL
        SELECT c.piece,
               CAST(GREATEST(COALESCE(ct.cnt, 0), 1) AS BIGINT) AS cnt
        FROM unichars c LEFT JOIN {pf}cnt ct ON ct.piece = c.piece
    )""")
        if i + 1 < N_ITERS:
            em.append(_uni_cost_sql(f"uvocab{i + 1}", f"{pf}next"))
    last = f"em{N_ITERS - 1}next"
    return f"""
    WITH RECURSIVE {_uni_base_sql()}, {seed}, {",".join(em)},
    ufinal AS (
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn
            FROM {last} WHERE len(piece) > 1) WHERE rn <= {VOCAB_SIZE}
        UNION ALL
        SELECT piece, cnt FROM {last} WHERE len(piece) = 1
    )
    SELECT piece, cnt,
           ROUND(-log10(CAST(cnt AS DOUBLE) / t.total), 9) AS cost
    FROM ufinal,
         (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM ufinal) t
    """


@_register("text_unigram_vocab", _uni_vocab_oracle())
def text_unigram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (operators/unigram.py
    train_unigram_vocab — Kudo 2018 / SentencePiece, hard-EM variant):
    substring seed vocabulary -> 2 Viterbi-EM rounds over the Zipf-bounded
    (word, freq) table -> prune to top pieces + all chars, renormalized.
    The bounded vocabulary is the only driver state per round (the BPE /
    k-means contract); the Viterbi E-step is a per-row DECIMAL-exact DP
    fold, no Python. Cross-engine: the DuckDB oracle replays the entire
    training — seed selection, both EM rounds (unrolled DP + recursive
    backtrace), pruning — bit-exactly, which the 9-decimal DECIMAL cost
    quantization makes possible."""
    from solana_etl_spark.operators.unigram import train_unigram_vocab

    docs = _t(spark, sf_dir, "documents")
    return train_unigram_vocab(docs).select(
        "piece", F.col("cnt").cast("long").alias("cnt"), "cost"
    )


def _uni_encode_oracle() -> str:
    vocab_vals = ", ".join(
        f"('{p}', CAST('{c}' AS DECIMAL(12,9)))" for p, c in _UNIGRAM_VOCAB
    )
    seg = _uni_seg_sql("enc", "uniw", "unic", "encv")
    return f"""
    WITH RECURSIVE {_uni_base_sql()},
    encv(piece, cost) AS (VALUES {vocab_vals}),
    {seg},
    encw AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS word
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL)
    ),
    encd AS (
        SELECT doc_id, flatten(list(toks ORDER BY pos)) AS toks
        FROM encw JOIN encseg USING (word) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE CAST(COALESCE(len(e.toks), 0) AS BIGINT) END AS n_tokens,
           CASE WHEN d.text IS NULL THEN ''
                ELSE array_to_string(COALESCE(e.toks, [])[1:8], ' ')
           END AS tok_prefix,
           ROUND(d.n_chars / CAST(NULLIF(
               CASE WHEN d.text IS NULL THEN NULL
                    ELSE COALESCE(len(e.toks), 0) END, 0) AS DOUBLE), 6)
               AS chars_per_token
    FROM documents d LEFT JOIN encd e USING (doc_id)
    """


@_register("text_unigram_encode", _uni_encode_oracle())
def text_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with the shipped unigram-LM vocabulary
    (operators/unigram.py:encode_unigram): Viterbi min-cost segmentation
    runs once per DISTINCT word (Zipf-bounded), segments join back to the
    in-order word stream and reassemble per document — two linear
    shuffles, zero Python, OOV chars via the fixed-cost fallback. Same
    output shape as text_bpe_encode (count / prefix / compression).
    Cross-engine: DuckDB replays the DP exactly (DECIMAL costs)."""
    from decimal import Decimal

    from solana_etl_spark.operators.unigram import encode_unigram

    docs = _t(spark, sf_dir, "documents")
    enc = encode_unigram(docs, [(p, Decimal(c)) for p, c in _UNIGRAM_VOCAB])
    # explicit isNull branch: size(NULL) is -1 under non-ANSI legacy
    # semantics, while the oracle emits NULL for NULL text (latent on
    # current fixtures — no NULL texts — but contract-correct)
    n_tokens = (
        F.when(F.col("text").isNull(), F.lit(None))
        .otherwise(F.size("unigram_tokens"))
        .cast("long")
    )
    return enc.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.concat_ws(" ", F.slice("unigram_tokens", 1, 8)).alias("tok_prefix"),
        F.round(F.col("n_chars") / n_tokens, 6).alias("chars_per_token"),
    )


def _uni_pack_oracle() -> str:
    b = _BPE_PACK_BUDGET
    vocab_vals = ", ".join(
        f"('{p}', CAST('{c}' AS DECIMAL(12,9)))" for p, c in _UNIGRAM_VOCAB
    )
    seg = _uni_seg_sql("upk", "uniw", "unic", "upkv")
    return f"""
    WITH RECURSIVE {_uni_base_sql()},
    upkv(piece, cost) AS (VALUES {vocab_vals}),
    {seg},
    upkw AS (
        SELECT doc_id, lang, unnest(ws) AS word
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL)
    ),
    upkd AS (
        SELECT w.doc_id, ANY_VALUE(w.lang) AS lang,
               CAST(SUM(len(s.toks)) AS BIGINT) AS n_tokens
        FROM upkw w JOIN upkseg s USING (word) GROUP BY w.doc_id
    ),
    cum AS (
        SELECT lang, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS e
        FROM upkd
    ),
    ex AS (
        SELECT lang, doc_id, n_tokens, e - n_tokens AS s, e,
               unnest(generate_series(CAST((e - n_tokens) // {b} AS BIGINT),
                                      CAST((e - 1) // {b} AS BIGINT)))
                   AS seq_id
        FROM cum WHERE n_tokens > 0
    )
    SELECT lang, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           seq_id,
           CAST(greatest(s, seq_id * {b}) - seq_id * {b} AS BIGINT)
               AS seq_offset,
           CAST(least(e, seq_id * {b} + {b}) - greatest(s, seq_id * {b})
                AS BIGINT) AS tokens_in_seq
    FROM ex
    """


@_register("pipeline_unigram_pack", _uni_pack_oracle())
def pipeline_unigram_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer->packing composite on the unigram-LM family: encode the
    corpus with the shipped unigram vocabulary, then pack the REAL token
    counts into fixed 2048-token training sequences per language
    (operators/packing.py:pack_sequences) — the pipeline_bpe_pack
    counterpart proving the second tokenizer chains into the same
    downstream accounting. One pack-window shuffle on top of the encode's
    two linear ones."""
    from decimal import Decimal

    from solana_etl_spark.operators.packing import pack_sequences
    from solana_etl_spark.operators.unigram import encode_unigram

    docs = _t(spark, sf_dir, "documents")
    enc = encode_unigram(docs, [(p, Decimal(c)) for p, c in _UNIGRAM_VOCAB])
    packed = pack_sequences(
        enc,
        budget=_BPE_PACK_BUDGET,
        group_cols=("lang",),
        order_col="doc_id",
        n_tokens=F.size("unigram_tokens"),
    )
    return packed.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
        "tokens_in_seq",
    )


@_register(
    "pack_efficiency_report",
    f"""
    WITH totals AS (
        SELECT lang, CAST(SUM(len({_TOKENS_SQL})) AS BIGINT) AS total_tokens
        FROM documents GROUP BY lang
        HAVING SUM(len({_TOKENS_SQL})) > 0
    ), swept AS (
        SELECT lang, total_tokens,
               unnest([CAST(b AS BIGINT) FOR b IN [128, 256, 512, 1024, 2048]])
                   AS budget
        FROM totals
    )
    SELECT lang, budget, total_tokens,
           (total_tokens + budget - 1) // budget AS n_sequences,
           ((total_tokens + budget - 1) // budget) * budget AS padded_capacity,
           ((total_tokens + budget - 1) // budget) * budget - total_tokens
               AS waste
    FROM swept
    """,
)
def pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length planning table (operators/packing.py
    pack_efficiency): per (lang, budget in 128..2048), total tokens,
    concat-and-chunk sequence count, padded capacity and pad waste — the
    numbers that pick a training run's sequence length. One group
    aggregate + a 5-way per-row explode; all-int64 outputs (utilization
    division left to the consumer — see the half-way-tie note)."""
    from solana_etl_spark.operators.packing import pack_efficiency

    return pack_efficiency(_t(spark, sf_dir, "documents"))


_CLUSTER_PACK_BUDGET = 512


def _cluster_pack_oracle() -> str:
    k, iters, dim, scale = (
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
    )
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    b = _CLUSTER_PACK_BUDGET
    return f"""
    WITH {_ivf_cte(k, iters, dim, scale)},
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    enc AS (
        SELECT a.cid, d.doc_id, len({_TOKENS_SQL}) AS n_tokens
        FROM documents d JOIN assign a ON a.vec_id = d.doc_id
    ),
    cum AS (
        SELECT cid, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY cid ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS e
        FROM enc
    ),
    ex AS (
        SELECT cid, doc_id, n_tokens, e - n_tokens AS s, e,
               unnest(generate_series(CAST((e - n_tokens) // {b} AS BIGINT),
                                      CAST((e - 1) // {b} AS BIGINT))) AS seq_id
        FROM cum WHERE n_tokens > 0
    )
    SELECT cid, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           seq_id,
           CAST(greatest(s, seq_id * {b}) - seq_id * {b} AS BIGINT)
               AS seq_offset,
           CAST(least(e, seq_id * {b} + {b}) - greatest(s, seq_id * {b})
                AS BIGINT) AS tokens_in_seq
    FROM ex
    """


@_register("pipeline_cluster_pack", _cluster_pack_oracle())
def pipeline_cluster_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-cluster packing (in-context pre-training shape, Shi et al.
    2023): documents are assigned to LEARNED k-means clusters of their
    embeddings (exact-integer IVF assignment — bit-reproducible), then
    packed into fixed 512-token sequences WITHIN each cluster, so related
    documents share a training context instead of random neighbors. One
    doc_id-keyed join (token counts ⋈ assignments) + the single pack-group
    window; the Lloyd rounds are the same bounded-training plan as
    ann_ivf_assign."""
    from solana_etl_spark.operators.packing import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    assign = similarity.ivf_assignments(emb).select(
        F.col("vec_id").alias("doc_id"), "cid"
    )
    toks = docs.select(
        "doc_id", F.size(text_ops.tokens(F.col("text"))).alias("n_tokens")
    )
    packed = pack_sequences(
        toks.join(assign, "doc_id"),
        budget=_CLUSTER_PACK_BUDGET,
        group_cols=("cid",),
        order_col="doc_id",
        n_tokens=F.col("n_tokens"),
    )
    return packed.select(
        "cid",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
        "tokens_in_seq",
    )


# ---------------------------------------------------------------------------
# 8. Entity resolution + ANN evaluation
# ---------------------------------------------------------------------------


def _er_oracle() -> str:
    # Blocking-INDEPENDENT ground truth: every pair within one edit. DuckDB
    # generates each name's single-char-deletion variants (its own FastSS
    # neighborhood, written relationally) — two names within one edit
    # provably share a variant, so this is the complete 1-edit pair set,
    # not a mirror of the Spark blocking scheme. (Brute-force all-pairs
    # levenshtein is the same answer but ~100x slower at sf0.1.)
    # roster capped at 2000 records: the synthetic customer names are
    # SEQUENTIAL ("Customer#000000042"), so under exact 1-edit matching the
    # whole table chains into ONE component and the closure's (node, label)
    # fixpoint is |component|² — correct but quadratic in sf on this
    # corpus. ER semantics are scale-invariant; the cap keeps the oracle's
    # closure bounded at every sf while the operator itself stays linear.
    return """
    WITH RECURSIVE roster AS MATERIALIZED (
        SELECT c_custkey, c_name FROM customer WHERE c_custkey < 2000
    ),
    vars AS MATERIALIZED (
        SELECT c_custkey AS id, c_name AS nm,
               unnest(list_append(
                   [nm[1:i-1] || nm[i+1:len(nm)]
                    for i in generate_series(1, len(nm))], nm)) AS var
        FROM roster
    ),
    pairs AS MATERIALIZED (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM vars a JOIN vars b ON a.var = b.var AND a.id < b.id
        WHERE levenshtein(a.nm, b.nm) <= 1
    ),
    edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
        SELECT src, src FROM edges
        UNION
        SELECT e.src, r.lbl FROM edges e JOIN reach r ON r.node = e.dst
    ),
    clusters AS (
        SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node
    )
    SELECT c.c_custkey AS rec_id, c.c_name AS name,
           COALESCE(cl.cluster_id, c.c_custkey) AS entity_id
    FROM roster c LEFT JOIN clusters cl ON cl.node = c.c_custkey
    """


@_register("er_entity_resolution", _er_oracle())
def er_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the customer roster (operators/er.py):
    deletion-neighborhood (FastSS) blocking -> Levenshtein<=1 match pairs
    with EXACT recall -> pointer-jumping connected components -> entity_id
    per record. Pair volume is one O(N*len) variant-key shuffle (never
    corpus N^2); because recall is exact, the oracle is the
    blocking-independent 1-edit ground truth resolved with a
    recursive-CTE closure. Roster capped at 2000 records: the synthetic
    names are sequential, so the whole table chains into one component and
    the ORACLE's closure fixpoint is |component|^2 — the cap keeps the
    check bounded at every sf (the operator itself stays linear)."""
    from solana_etl_spark.operators.er import resolve_entities

    return resolve_entities(
        _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 2000),
        "c_custkey",
        "c_name",
    )


def _ivf_eval_ctes(
    k: int, iters: int, dim: int, scale: int, nprobe: int, topk: int
) -> str:
    """Shared CTE prefix for the IVF eval oracles (recall + NDCG) —
    mirrors operators/similarity.py:_probe_scored, the single source of
    truth on the Spark side: qry (min-vec_id query), probe (nprobe
    centroids), afinal (inverted-list assignment), scored (integer
    distance per vector), exact (ground-truth top-k)."""
    dist = (
        "list_sum([ (v.qvec[i] - c.cvec[i]) * (v.qvec[i] - c.cvec[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    qdist = (
        "list_sum([ (v.qvec[i] - q.q[i]) * (v.qvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    cdist = (
        "list_sum([ (c.cvec[i] - q.q[i]) * (c.cvec[i] - q.q[i]) "
        f"for i in generate_series(1, {dim}) ])"
    )
    return f"""{_ivf_cte(k, iters, dim, scale)},
    qry AS (SELECT qvec AS q FROM qvecs ORDER BY vec_id LIMIT 1),
    probe AS (
        SELECT cid FROM c{iters} c CROSS JOIN qry q
        ORDER BY {cdist}, cid LIMIT {nprobe}
    ),
    afinal AS (
        SELECT vec_id, qvec, cid FROM (
            SELECT v.vec_id, v.qvec, c.cid,
                   row_number() OVER (
                       PARTITION BY v.vec_id ORDER BY {dist}, c.cid
                   ) AS rn
            FROM qvecs v CROSS JOIN c{iters} c
        ) WHERE rn = 1
    ),
    scored AS (
        SELECT vec_id, cid, CAST({qdist} AS BIGINT) AS qd
        FROM afinal v CROSS JOIN qry q
    ),
    exact AS (SELECT vec_id FROM scored ORDER BY qd, vec_id LIMIT {topk})"""


def _ivf_recall_oracle(
    k: int, iters: int, dim: int, scale: int, nprobe: int, topk: int
) -> str:
    return f"""
    WITH {_ivf_eval_ctes(k, iters, dim, scale, nprobe, topk)},
    approx AS (
        SELECT vec_id FROM scored JOIN probe USING (cid)
        ORDER BY qd, vec_id LIMIT {topk}
    )
    SELECT COUNT(*) AS n_hit, {topk} AS k,
           ROUND(COUNT(*) / CAST({topk} AS DOUBLE), 6) AS recall_at_k
    FROM approx JOIN exact USING (vec_id)
    """


@_register(
    "ann_recall_eval",
    _ivf_recall_oracle(
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
        similarity.IVF_NPROBE,
        similarity.TOPK,
    ),
)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index evaluation: recall@k of the nprobe IVF probe vs exact
    search under the same quantized metric, from ONE shared scored pass
    (operators/similarity.py:ivf_recall). The number that decides whether
    an nprobe setting is safe to ship."""
    return similarity.ivf_recall(_t(spark, sf_dir, "embeddings"))


@_register(
    "st_funnel",
    # stage semantics: strict event-time progression (view, then a click
    # strictly after the first view, then a purchase strictly after that
    # first qualifying click)
    """
    WITH ev AS (
        SELECT * FROM events WHERE ts < TIMESTAMP '2024-01-03'
    ),
    users AS (SELECT DISTINCT user_id FROM ev),
    v AS (
        SELECT user_id, MIN(ts) AS t1 FROM ev
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM ev e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM ev e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2
        GROUP BY e.user_id
    )
    SELECT stage, COUNT(*) AS n_users FROM (
        SELECT u.user_id,
               CASE WHEN p.user_id IS NOT NULL THEN 3
                    WHEN c.user_id IS NOT NULL THEN 2
                    WHEN v.user_id IS NOT NULL THEN 1
                    ELSE 0 END AS stage
        FROM users u
        LEFT JOIN v ON v.user_id = u.user_id
        LEFT JOIN c ON c.user_id = u.user_id
        LEFT JOIN p ON p.user_id = u.user_id
    ) GROUP BY stage
    """,
)
def st_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis (view -> click -> purchase with strict event-time
    progression): three per-user conditional MIN aggregates chained on the
    previous stage's timestamp, then a tiny stage histogram. Each
    aggregate is map-side combined and keyed by user_id — the stage joins
    are user-cardinality (orders of magnitude below event volume), so the
    event log is scanned, never self-joined at event grain. The 48-hour
    analysis window leaves users spread across all four stages (the whole
    log funnels everyone to stage 3)."""
    ev = _t(spark, sf_dir, "events").filter(
        F.col("ts") < F.lit("2024-01-03").cast("timestamp")
    )
    users = ev.select("user_id").distinct()
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v.select(F.col("user_id").alias("_vu"), "t1"),
              F.col("user_id") == F.col("_vu"))
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c.select(F.col("user_id").alias("_cu"), "t2"),
              F.col("user_id") == F.col("_cu"))
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    staged = (
        users.join(v.select(F.col("user_id").alias("_v")),
                   F.col("user_id") == F.col("_v"), "left")
        .join(c.select(F.col("user_id").alias("_c")),
              F.col("user_id") == F.col("_c"), "left")
        .join(p.select(F.col("user_id").alias("_p")),
              F.col("user_id") == F.col("_p"), "left")
        .select(
            F.when(F.col("_p").isNotNull(), 3)
            .when(F.col("_c").isNotNull(), 2)
            .when(F.col("_v").isNotNull(), 1)
            .otherwise(0)
            .alias("stage")
        )
    )
    return staged.groupBy("stage").agg(F.count(F.lit(1)).alias("n_users"))


@_register(
    "a18_zscore_outliers",
    # z-scores from exact-decimal sufficient statistics: sum(v) and
    # sum(v*v) accumulate as DECIMAL (order-independent), mean/var/sigma
    # derive in fixed double arithmetic, z rounds at the 6-decimal
    # cross-engine boundary
    """
    WITH stats AS (
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))) AS DOUBLE)
                   AS s1,
               CAST(SUM(CAST(ROUND(value * value, 6) AS DECIMAL(24,6)))
                    AS DOUBLE) AS s2
        FROM events GROUP BY event_type
    ),
    enriched AS (
        SELECT e.event_id, e.event_type, e.value,
               ROUND(
                   (e.value - s.s1 / s.n)
                   / sqrt(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n)),
                   6) AS z
        FROM events e JOIN stats s ON s.event_type = e.event_type
    )
    SELECT event_id, event_type, z FROM enriched
    WHERE abs(z) > 2.5
    """,
)
def a18_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection: one sufficient-statistics
    aggregate per event_type (count, exact-decimal sum, exact-decimal sum
    of squares — order-independent, partition-safe), broadcast back, z
    computed per row in fixed double arithmetic. Never a per-group sort or
    second scan at event grain."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy(F.col("event_type").alias("_et")).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)"))
        .cast("double")
        .alias("_s1"),
        F.sum(
            F.round(F.col("value") * F.col("value"), 6).cast("decimal(24,6)")
        )
        .cast("double")
        .alias("_s2"),
    )
    mean = F.col("_s1") / F.col("_n")
    var = F.col("_s2") / F.col("_n") - mean * mean
    z = F.round((F.col("value") - mean) / F.sqrt(var), 6)
    return (
        ev.join(F.broadcast(stats), F.col("event_type") == F.col("_et"))
        .select("event_id", "event_type", z.alias("z"))
        .filter(F.abs(F.col("z")) > 2.5)
    )


@_register(
    "ts_gapfill",
    """
    WITH ev AS (SELECT * FROM events WHERE user_id < 30),
    sums AS (
        SELECT user_id AS k, date_trunc('hour', ts) AS b,
               CAST(ROUND(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))), 4)
                    AS DOUBLE) AS bucket_sum
        FROM ev GROUP BY 1, 2
    ),
    spans AS (
        SELECT user_id AS key,
               date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM ev GROUP BY 1
    ),
    spine AS (
        SELECT key, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        FROM spans
    ),
    j AS (
        SELECT s.key, s.bucket, m.bucket_sum
        FROM spine s LEFT JOIN sums m ON m.k = s.key AND m.b = s.bucket
    )
    SELECT key, bucket, bucket_sum,
           last_value(bucket_sum IGNORE NULLS) OVER (
               PARTITION BY key ORDER BY bucket
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS filled,
           bucket_sum IS NULL AS was_gap
    FROM j
    """,
)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (operators/timeseries.py): hourly bucket
    sums per user, gap-filled against an executor-generated time spine and
    forward-filled with one `last(ignorenulls)` window pass — no driver
    loops, no self-joins; values are exact-decimal sums carried through
    the fill unchanged."""
    from solana_etl_spark.operators.timeseries import gapfill_ffill

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    return gapfill_ffill(ev)


@_register(
    "graph_triangles",
    # naive orientation-free oracle: each triangle exactly once as a<b<c
    """
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem WHERE l_orderkey % 10 = 0
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    nodes AS (
        SELECT COUNT(DISTINCT n) AS n_nodes
        FROM (SELECT a AS n FROM edges UNION ALL SELECT b AS n FROM edges)
    ),
    tri AS (
        SELECT COUNT(*) AS n_triangles
        FROM edges e1
        JOIN edges e2 ON e2.a = e1.b
        JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT n.n_nodes, (SELECT COUNT(*) FROM edges) AS n_edges, t.n_triangles
    FROM nodes n, tri t
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the co-purchase graph (parts sharing an
    order), by degree-ordered edge orientation
    (operators/graph.py:triangle_count): each triangle counted at its
    lowest-ranked vertex, wedge volume bounded O(|E|^1.5) with no
    hot-vertex blowup. The oracle is the naive a<b<c three-way self-join —
    same count, orientation-free."""
    from solana_etl_spark.operators.graph import triangle_count

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("_o"), F.col("l_partkey").alias("src"))
    b = li.select(F.col("l_orderkey").alias("_o2"), F.col("l_partkey").alias("dst"))
    edges = a.join(
        b, (F.col("_o") == F.col("_o2")) & (F.col("src") < F.col("dst"))
    ).select("src", "dst")
    return triangle_count(edges)


def _ivf_ndcg_oracle(
    k: int, iters: int, dim: int, scale: int, nprobe: int, topk: int
) -> str:
    import math

    idcg = sum(round(1.0 / math.log2(i + 1), 9) for i in range(1, topk + 1))
    # discount mirrors Spark's F.log(2.0, x) = ln(x)/ln(2) exactly
    term = (
        "CAST(ROUND(CAST(1.0 AS DOUBLE) / "
        "(ln(CAST(pos + 1 AS DOUBLE)) / ln(CAST(2.0 AS DOUBLE))), 9) "
        "AS DECIMAL(28,9))"
    )
    return f"""
    WITH {_ivf_eval_ctes(k, iters, dim, scale, nprobe, topk)},
    ranked AS (
        SELECT vec_id,
               row_number() OVER (ORDER BY qd, vec_id) AS pos
        FROM (
            SELECT s.vec_id, s.qd FROM scored s JOIN probe USING (cid)
            ORDER BY s.qd, s.vec_id LIMIT {topk}
        )
    ),
    dcg AS (
        SELECT COALESCE(SUM({term}), CAST(0 AS DECIMAL(28,9))) AS d
        FROM ranked JOIN exact USING (vec_id)
    )
    SELECT CAST(d AS DOUBLE) AS dcg, {topk} AS k,
           ROUND(CAST(d AS DOUBLE) / {idcg!r}, 6) AS ndcg_at_k
    FROM dcg
    """


@_register(
    "ann_ndcg_eval",
    _ivf_ndcg_oracle(
        similarity.IVF_K,
        similarity.IVF_ITERS,
        similarity.IVF_DIM,
        similarity.IVF_SCALE,
        similarity.IVF_NPROBE,
        similarity.TOPK,
    ),
)
def ann_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-aware ANN evaluation: NDCG@k of the IVF probe vs exact search
    (operators/similarity.py:ivf_ndcg) — complements recall@k by weighting
    each hit with 1/log2(position+1); discount terms round at 9 decimals
    and sum as exact DECIMAL so the float sum is order-independent."""
    return similarity.ivf_ndcg(_t(spark, sf_dir, "embeddings"))


def _diff_oracle() -> str:
    # synthetic snapshots from orders: v1 drops %7 keys, v2 drops %11 keys
    # and rewrites priority for %5 keys — added/removed/changed all occur
    # chr(1)/chr(2) mirror operators/diff.py _SEP/_NULL (field separator +
    # NULL sentinel — concat_ws drops nulls)
    sig_v1 = hash64_sql(
        "concat_ws(chr(1), COALESCE(CAST(o_custkey AS VARCHAR), chr(2)), "
        "COALESCE(o_orderstatus, chr(2)), "
        "COALESCE(o_orderpriority, chr(2)))"
    )
    sig_v2 = hash64_sql(
        "concat_ws(chr(1), COALESCE(CAST(o_custkey AS VARCHAR), chr(2)), "
        "COALESCE(o_orderstatus, chr(2)), COALESCE(prio2, chr(2)))"
    )
    return f"""
    WITH v1 AS (
        SELECT o_orderkey, {sig_v1} AS old_sig
        FROM orders WHERE o_orderkey % 7 <> 0
    ),
    v2base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CASE WHEN o_orderkey % 5 = 0 THEN 'X'
                    ELSE o_orderpriority END AS prio2
        FROM orders WHERE o_orderkey % 11 <> 0
    ),
    v2 AS (SELECT o_orderkey, {sig_v2} AS new_sig FROM v2base)
    SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
           CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN old_sig <> new_sig THEN 'changed' END AS status,
           old_sig, new_sig
    FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    WHERE (CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                WHEN v2.o_orderkey IS NULL THEN 'removed'
                WHEN old_sig <> new_sig THEN 'changed' END) IS NOT NULL
    """


@_register("snapshot_diff", _diff_oracle())
def snapshot_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/diff.py): added/removed/changed keys
    between two table versions, each side reduced to (key, md5-hash64 row
    signature) in the scan projection — the full-outer join shuffles ~24
    bytes/row regardless of table width. Snapshots are synthesized
    deterministically from orders (drop %7 / drop %11 + rewrite %5)."""
    from solana_etl_spark.operators.diff import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.col("o_orderpriority").alias("prio"),
    )
    v2 = o.filter(F.col("o_orderkey") % 11 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(F.col("o_orderkey") % 5 == 0, F.lit("X"))
        .otherwise(F.col("o_orderpriority"))
        .alias("prio"),
    )
    return snapshot_diff(
        v1, v2, "o_orderkey", ["o_custkey", "o_orderstatus", "prio"]
    )


def _weighted_sample_oracle(n: int) -> str:
    from solana_etl_spark.operators.sampling import WEIGHTED_DENOM

    h = hash64_sql("CAST(doc_id AS VARCHAR)")
    u = f"((({h}) % {WEIGHTED_DENOM}) + 1) / CAST({WEIGHTED_DENOM} AS DOUBLE)"
    return f"""
    SELECT doc_id, n_chars, source FROM (
        SELECT doc_id, n_chars, source,
               ROUND(ln({u}) / n_chars, 9) AS es
        FROM documents
    )
    ORDER BY es DESC, doc_id ASC
    LIMIT {n}
    """


@_register("s6_weighted_sample", _weighted_sample_oracle(40))
def s6_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement (Efraimidis-Spirakis, operators/
    sampling.py): top-n documents by the deterministic ln(u)/weight key,
    weighted by length — heavier documents win more often, the draw is a
    pure function of row content (retry-safe), and the top-n runs as
    TakeOrderedAndProject, never a global sort."""
    from solana_etl_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars", "source")
    return weighted_sample(docs, "doc_id", "n_chars", 40)


_SHUFFLE_SHARDS = 8


def _corpus_shuffle_oracle(n_shards: int) -> str:
    h = hash64_sql("CAST(doc_id AS VARCHAR)")
    return f"""
    SELECT doc_id,
           CAST(h % {n_shards} AS INT) AS shard,
           CAST(row_number() OVER (
               PARTITION BY h % {n_shards} ORDER BY h, doc_id
           ) AS INT) AS pos
    FROM (SELECT doc_id, {h} AS h FROM documents)
    """


@_register("s7_corpus_shuffle", _corpus_shuffle_oracle(_SHUFFLE_SHARDS))
def s7_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle for training order (operators/
    sampling.py corpus_shuffle): every document gets a (shard, pos) —
    reading shards in pos order is a reproducible hash-random permutation
    of the corpus. The only shuffle is the per-shard window (parallel
    across shards, never a global sort); re-runs and retries produce the
    identical order, unlike epoch-seeded rand() shuffles."""
    from solana_etl_spark.operators.sampling import corpus_shuffle

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return corpus_shuffle(docs, "doc_id", _SHUFFLE_SHARDS)


@_register(
    "incr_join_maintenance",
    # oracle = the full recompute the incremental plan must equal
    """
    SELECT o.o_orderkey, o.o_custkey, l.l_linenumber,
           CAST(l.l_quantity AS DOUBLE) AS qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey % 3 = 0
    """,
)
def incr_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN maintenance (operators/incremental.py:
    maintain_join_append): the orders⋈lineitem view under append-only
    deltas — old result reused verbatim, only the three delta terms
    computed (delta rule ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB). The oracle is the full
    recompute; equality proves the algebra."""
    from solana_etl_spark.operators.incremental import maintain_join_append

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 3 == 0)
        .select("o_orderkey", "o_custkey", "o_orderdate")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 3 == 0)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("qty"),
            "l_shipdate",
        )
    )
    cut_a = F.lit("2000-01-01").cast("timestamp")
    cut_b = F.lit("2000-07-01").cast("timestamp")
    a_old = o.filter(F.col("o_orderdate") < cut_a).drop("o_orderdate")
    da = o.filter(F.col("o_orderdate") >= cut_a).drop("o_orderdate")
    b_old = li.filter(F.col("l_shipdate") < cut_b).drop("l_shipdate")
    db = li.filter(F.col("l_shipdate") >= cut_b).drop("l_shipdate")
    old_result = a_old.join(b_old, "o_orderkey")
    return maintain_join_append(
        old_result, a_old, b_old, da, db, ["o_orderkey"]
    ).select("o_orderkey", "o_custkey", "l_linenumber", "qty")


@_register(
    "pipeline_chunk_dedup",
    # chunk-granularity dedup: a chunk is a duplicate if an identical chunk
    # exists earlier in (doc_id, chunk_idx) order — the RAG-index dedup step
    f"""
    WITH {_CHUNK_SPINE_CTE},
    chunks AS (
        SELECT doc_id, CAST(s / {_STRIDE} AS BIGINT) AS chunk_idx,
               md5(substring(text, CAST(s + 1 AS BIGINT), {_CHUNK})) AS chunk_md5
        FROM s
    ),
    flagged AS (
        SELECT doc_id, chunk_idx,
               row_number() OVER (
                   PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx
               ) > 1 AS is_dup
        FROM chunks
    )
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
           ROUND(SUM(CASE WHEN is_dup THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS dup_chunk_frac
    FROM flagged GROUP BY doc_id
    """,
)
def pipeline_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity cross-document dedup (the RAG-index dedup step,
    composing chunk_documents with first-occurrence-wins window dedup):
    per document, how many of its stride-overlapped chunks already exist
    verbatim elsewhere. One shuffle keyed by chunk hash (16 bytes/chunk),
    one per-doc rollup."""
    from solana_etl_spark.operators.packing import chunk_documents

    chunks = chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_chars=_CHUNK, stride=_STRIDE
    )
    is_dup = (
        F.row_number().over(
            Window.partitionBy("chunk_md5").orderBy("doc_id", "chunk_idx")
        )
        > 1
    )
    return (
        chunks.select("doc_id", "chunk_idx", is_dup.alias("is_dup"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.round(
                F.sum(F.when(F.col("is_dup"), 1).otherwise(0))
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_chunk_frac"),
        )
    )


@_register(
    "st_cohort_retention",
    # the fixture's users are ALL active from week 1 (uniform synthetic
    # activity), which would collapse the triangle to one cohort; a
    # deterministic hash keeps ~25% of each user's user-weeks, modeling
    # sparse engagement so first-activity weeks genuinely differ (5
    # cohorts at both sf) and the cross-cohort arithmetic is exercised
    f"""
    WITH surv AS (
        SELECT * FROM events
        WHERE {hash64_sql(
            "CAST(user_id AS VARCHAR) || '|' || "
            "CAST(CAST(date_trunc('week', ts) AS DATE) AS VARCHAR)"
        )} % 10000 < 2500
    ),
    firsts AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
        FROM surv GROUP BY user_id
    ),
    active AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM surv
    ),
    j AS (
        SELECT f.cohort,
               CAST(date_diff('day', f.cohort, a.wk) / 7 AS BIGINT)
                   AS week_offset
        FROM firsts f JOIN active a ON a.user_id = f.user_id
    )
    SELECT CAST(cohort AS DATE) AS cohort, week_offset,
           COUNT(*) AS n_users
    FROM j GROUP BY cohort, week_offset
    """,
)
def st_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (the standard growth-analytics triangle):
    users grouped by first-activity week, counted in each later active
    week. Two per-user aggregates (first week, distinct active weeks) and
    a user-keyed join — event grain is scanned, never self-joined; week
    offsets are exact integer day arithmetic on week-truncated timestamps
    (both engines truncate to ISO Monday). A deterministic hash keeps
    ~25% of user-weeks (sparse engagement) so cohorts spread over 5 weeks
    instead of collapsing to one."""
    from solana_etl_spark.functions.hashing import hash64

    # date form on both sides: DuckDB's date_trunc('week') yields DATE
    # while Spark's yields TIMESTAMP — cast to DATE before stringifying
    wk_key = F.concat(
        F.col("user_id").cast("string"),
        F.lit("|"),
        F.date_trunc("week", F.col("ts")).cast("date").cast("string"),
    )
    ev = _t(spark, sf_dir, "events").filter(hash64(wk_key) % 10000 < 2500)
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort")
    )
    active = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    j = firsts.join(active, "user_id").select(
        "cohort",
        (F.datediff(F.col("wk"), F.col("cohort")) / 7)
        .cast("long")
        .alias("week_offset"),
    )
    return (
        j.groupBy("cohort", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("cohort").cast("date").alias("cohort"),
            "week_offset",
            "n_users",
        )
    )


@_register(
    "dq_k_anonymity",
    # quasi-identifier groups smaller than k: the re-identification risk
    # audit run before releasing a dataset
    # the 3-column QI (nation x segment x 2k-wide balance band) leaves
    # BOTH violating and passing groups at both sf (578/623 violate at
    # sf0.01, 2/750 at sf0.1) so the flag's true branch is gate-checked
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_band,
           COUNT(*) AS group_size,
           COUNT(*) < 5 AS violates_k
    FROM customer
    GROUP BY c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 2000) AS BIGINT)
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (data-governance family, alongside the constraint
    gate and PII redaction): size of every quasi-identifier group
    (nationality x market segment x coarse balance band) with a
    violates-k flag — one map-side-combined aggregate; groups below k are
    the re-identification risk a release gate blocks on."""
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 2000).cast("long")
    return c.groupBy(
        "c_nationkey", "c_mktsegment", band.alias("bal_band")
    ).agg(
        F.count(F.lit(1)).alias("group_size"),
        (F.count(F.lit(1)) < 5).alias("violates_k"),
    )


@_register(
    "dq_l_diversity",
    # l-diversity companion to the k-anonymity audit: a QI group can be
    # large yet still leak if the SENSITIVE attribute barely varies inside
    # it — count distinct sensitive values (account-balance band) per group
    # the custkey-block third QI column leaves both violating and passing
    # groups at both sf (605/766 at sf0.01, 5912/7541 at sf0.1)
    """
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_custkey / 200) AS BIGINT) AS cust_block,
           COUNT(*) AS group_size,
           COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
               AS distinct_sensitive,
           COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) < 3
               AS violates_l
    FROM customer
    GROUP BY c_nationkey, c_mktsegment,
             CAST(floor(c_custkey / 200) AS BIGINT)
    """,
)
def dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit: distinct sensitive-attribute values (1k-wide
    balance bands) per quasi-identifier group — the leak k-anonymity
    misses when a big group is homogeneous. One two-phase count-distinct
    aggregate."""
    c = _t(spark, sf_dir, "customer")
    band = F.floor(F.col("c_acctbal") / 1000).cast("long")
    block = F.floor(F.col("c_custkey") / 200).cast("long")
    return c.groupBy(
        "c_nationkey", "c_mktsegment", block.alias("cust_block")
    ).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(band).alias("distinct_sensitive"),
        (F.countDistinct(band) < 3).alias("violates_l"),
    )


def _drift_oracle() -> str:
    from solana_etl_spark.operators.drift import EPS, N_BINS

    b = N_BINS
    return f"""
    WITH ref AS (SELECT n_chars FROM documents
                 WHERE CAST(substr(source, 4) AS INT) % 2 = 0
                   AND n_chars IS NOT NULL),
    cur AS (SELECT n_chars FROM documents
            WHERE CAST(substr(source, 4) AS INT) % 2 = 1
              AND n_chars IS NOT NULL),
    bounds AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM ref),
    hr AS (
        SELECT greatest(0, least({b} - 1,
                   CAST(floor(((n_chars - lo) * {b}) / (hi - lo + 1))
                        AS BIGINT))) AS bin,
               COUNT(*) AS ref_cnt
        FROM ref, bounds GROUP BY 1
    ),
    hc AS (
        SELECT greatest(0, least({b} - 1,
                   CAST(floor(((n_chars - lo) * {b}) / (hi - lo + 1))
                        AS BIGINT))) AS bin,
               COUNT(*) AS cur_cnt
        FROM cur, bounds GROUP BY 1
    ),
    h AS (
        SELECT COALESCE(hr.bin, hc.bin) AS bin,
               COALESCE(ref_cnt, 0) AS ref_cnt,
               COALESCE(cur_cnt, 0) AS cur_cnt
        FROM hr FULL OUTER JOIN hc ON hr.bin = hc.bin
    ),
    t AS (SELECT SUM(ref_cnt) AS n_ref, SUM(cur_cnt) AS n_cur FROM h),
    per_bin AS (
        SELECT bin, n_ref, n_cur,
               (greatest(ref_cnt / n_ref, {EPS}) - greatest(cur_cnt / n_cur, {EPS}))
               * (ln(greatest(ref_cnt / n_ref, {EPS}))
                  - ln(greatest(cur_cnt / n_cur, {EPS}))) AS psi_term,
               abs(SUM(ref_cnt / n_ref) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING)
                   - SUM(cur_cnt / n_cur) OVER (ORDER BY bin
                       ROWS UNBOUNDED PRECEDING)) AS cdf_gap
        FROM h, t
    )
    SELECT 'n_chars' AS feature,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(SUM(psi_term), 6) AS psi,
           ROUND(MAX(cdf_gap), 6) AS ks_stat
    FROM per_bin GROUP BY n_ref, n_cur
    """


@_register("dq_drift_psi", _drift_oracle())
def dq_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report (operators/drift.py): PSI + KS statistic
    of document length, comparing the odd-numbered sources (the "new
    ingest") against the even-numbered reference slice — balanced halves
    at every fixture scale. One bounded histogram aggregate per slice, a
    broadcast bounds join, and a 16-row window — corpus-size-independent
    state throughout."""
    from solana_etl_spark.operators.drift import drift_report

    docs = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    return drift_report(
        docs.filter(src_num % 2 == 0),
        docs.filter(src_num % 2 == 1),
        "n_chars",
    )


def _centroid_drift_oracle() -> str:
    # parallel-unnest (value, dim) pattern as in the IVF oracles; per-dim
    # float sums follow the exact-DECIMAL discipline so addition order
    # cannot split the engines
    dm = """
        SELECT dim,
               ROUND(CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 9)
                                   AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 9) AS m,
               COUNT(*) AS n
        FROM (SELECT unnest(embedding) AS v,
                     unnest(generate_series(1, len(embedding))) AS dim
              FROM embeddings WHERE vec_id % 2 = {par}) e
        GROUP BY dim
    """
    return f"""
    WITH ma AS ({dm.format(par=0)}), mb AS ({dm.format(par=1)}),
    j AS (
        SELECT ma.m AS m_a, mb.m AS m_b, ma.n AS n_a, mb.n AS n_b
        FROM ma JOIN mb ON ma.dim = mb.dim
    ),
    agg AS (
        SELECT MAX(n_a) AS n_ref, MAX(n_b) AS n_cur,
               SUM(CAST(ROUND((m_a - m_b) * (m_a - m_b), 12)
                        AS DECIMAL(30,12))) AS d2,
               SUM(CAST(ROUND(m_a * m_b, 12) AS DECIMAL(30,12))) AS dot,
               SUM(CAST(ROUND(m_a * m_a, 12) AS DECIMAL(30,12))) AS na2,
               SUM(CAST(ROUND(m_b * m_b, 12) AS DECIMAL(30,12))) AS nb2,
               MAX(abs(m_a - m_b)) AS gap
        FROM j
    )
    SELECT 'embedding' AS feature,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND(sqrt(CAST(d2 AS DOUBLE)), 6) AS centroid_l2,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))),
                 6) AS centroid_cos,
           ROUND(gap, 6) AS max_dim_gap
    FROM agg
    """


@_register("dq_drift_centroid", _centroid_drift_oracle())
def dq_drift_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift (operators/drift.py:embedding_centroid_drift):
    centroid L2 / cosine / per-dimension sup-norm between the even- and
    odd-vec_id embedding slices. One posexplode + dim-keyed aggregate per
    slice; every cross-row float sum is exact-DECIMAL so the report is
    partition-order-independent."""
    from solana_etl_spark.operators.drift import embedding_centroid_drift

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_centroid_drift(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
    )


@_register(
    "a19_value_histogram",
    # equi-width histogram of event values per type: integer bucket edges,
    # exact counts — the profile statistic optimizers and data cards both use
    """
    SELECT event_type,
           CAST(floor(value / 50) AS BIGINT) AS bucket,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(ROUND(value, 4) AS DECIMAL(18,4))), 4)
                AS DOUBLE) AS bucket_sum
    FROM events
    GROUP BY event_type, CAST(floor(value / 50) AS BIGINT)
    """,
)
def a19_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width value histogram per event type (width-50 buckets): one
    map-side-combined aggregate producing exact counts and exact-decimal
    bucket sums — the distribution statistic data cards and join-size
    estimators consume."""
    ev = _t(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 50).cast("long")
    return ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.round(F.col("value"), 4).cast("decimal(18,4)")), 4)
        .cast("double")
        .alias("bucket_sum"),
    )


@_register(
    "st_disorder_stats",
    # per-user event-time disorder under arrival order. The fixture stream
    # is perfectly ordered (event_id order == ts order per user), so
    # arrival is modeled with a deterministic per-event network delay
    # (hash(event_id) % 2h) — exactly how one stress-tests watermark
    # sizing on clean synthetic data. All arithmetic is exact integer
    # MICROseconds (the guard and the counters agree at full precision).
    f"""
    WITH arr AS (
        SELECT user_id, event_id, epoch_us(ts) AS ts_us,
               epoch_us(ts)
                 + ({hash64_sql("CAST(event_id AS VARCHAR)")} % 7200)
                   * 1000000 AS arrival_us
        FROM events
    ),
    seq AS (
        SELECT user_id, ts_us,
               MAX(ts_us) OVER (
                   PARTITION BY user_id ORDER BY arrival_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev_max_us
        FROM arr
    ),
    lateness AS (
        SELECT CASE WHEN prev_max_us IS NOT NULL AND ts_us < prev_max_us
                    THEN prev_max_us - ts_us ELSE 0 END AS late_us
        FROM seq
    )
    SELECT COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_out_of_order,
           CAST(MAX(late_us) // 1000000 AS BIGINT) AS max_late_s,
           CAST(SUM(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_beyond_1h_watermark
    FROM lateness
    """,
)
def st_disorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time disorder measurement ("measure, don't guess" applied to
    watermarks): per user, how late each event's time is vs the latest
    event time already ARRIVED (arrival = event time + a deterministic
    hash-derived network delay up to 2h — the fixture stream itself is
    perfectly ordered), rolled into corpus counts, max lateness, and how
    many events a 1-hour watermark would drop. One per-user window pass;
    guard and counters share the same exact-microsecond comparison."""
    from solana_etl_spark.functions.hashing import hash64

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        (
            F.unix_micros(F.col("ts"))
            + (hash64(F.col("event_id").cast("string")) % 7200)
            * F.lit(1_000_000)
        ).alias("arrival_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("ts_us").over(w)
    late_us = F.when(
        prev_max.isNotNull() & (F.col("ts_us") < prev_max),
        prev_max - F.col("ts_us"),
    ).otherwise(F.lit(0))
    lateness = ev.select(late_us.alias("late_us"))
    return lateness.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0)).alias(
            "n_out_of_order"
        ),
        F.floor(F.max("late_us") / 1_000_000)
        .cast("long")
        .alias("max_late_s"),
        F.sum(
            F.when(F.col("late_us") > 3600 * 1_000_000, 1).otherwise(0)
        ).alias("n_beyond_1h_watermark"),
    )


@_register(
    "stream_windowed_counts",
    # batch semantics of the tumbling window: epoch-aligned 1-hour buckets
    # == date_trunc; the value sum goes through DECIMAL(18,4) exactly like
    # the operator before widening back to double
    """
    SELECT date_trunc('hour', ts) AS window_start,
           date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def stream_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time windowed aggregation as a REAL Structured-Streaming run
    under the gate (streaming/windows.py:windowed_event_counts): the
    events table re-lands as several parquet files, streams through
    maxFilesPerTrigger=1 micro-batches into a stateful tumbling-window
    count/sum (complete mode — the watermark path is exercised by
    tests/test_streaming_windows.py), and the final result must value-
    hash-equal the plain batch GROUP BY oracle. Third member of the
    stream-equals-batch gate family (join view, CDC snapshot, windowed
    agg)."""
    from solana_etl_spark.streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events").select("ts", "event_type", "value")
    return _stream_gate(
        spark,
        "win",
        [ev.repartition(4)],
        lambda stream, work: (
            windowed_event_counts(stream)
            .writeStream.format("memory")
            .queryName("gate_win_out")
            .outputMode("complete")
            .trigger(availableNow=True)
            .option("checkpointLocation", f"{work}/ckpt")
            .start()
        ),
        lambda work: spark.table("gate_win_out"),
    )


def _stream_gate(
    spark: SparkSession,
    name: str,
    parts: list[DataFrame],
    start: Callable,
    result: Callable[[str], DataFrame],
) -> DataFrame:
    """One stream-equals-batch gate run. Each frame of ``parts`` lands as
    its own parquet directory under a fresh ``gate_stream_<name>_`` work
    dir, and the file stream takes one file per micro-batch
    (maxFilesPerTrigger=1) — so the landing layout fixes the micro-batch
    boundaries the oracle checks. ``start(stream, work)`` starts the
    query; it must end within 300 s (``state.await_end``: a stalled
    stream raises instead of handing over half-run state).
    ``result(work)`` is pinned into Spark block storage (eager
    localCheckpoint) so the work dir can be removed — on failure too."""
    import shutil
    import tempfile

    from solana_etl_spark.streaming import state

    work = tempfile.mkdtemp(prefix=f"gate_stream_{name}_")
    try:
        for i, part in enumerate(parts):
            part.write.mode("overwrite").parquet(f"{work}/src/{i}")
        stream = (
            spark.readStream.schema(parts[0].schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{work}/src/*/*.parquet")
        )
        state.await_end(start(stream, work), 300)
        return result(work).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stream_corpus_pipeline_oracle() -> str:
    """Batch-equivalent of the streaming cleaning chain: quality filter
    FIRST (the CorpusPipeline stage order), then exact keepers / LSH pairs
    over the quality-filtered corpus, then n-gram decontamination vs the
    src19 eval slice. Safe to compute pairs over the pre-exact-dedup set:
    exact copies share every LSH band with their keeper, so dropping
    non-keepers never changes a bucket minimum (survivor-set invariant)."""
    n = 5
    toks = _TOKENS_SQL
    gram_hash = hash64_sql(f"array_to_string(toks[i:i+{n - 1}], ' ')")
    return f"""
    WITH qdocs AS (
        SELECT * FROM documents
        WHERE source <> 'src19' AND {_quality_cond_sql()}
    ),
    {_clean_corpus_ctes("qdocs")},
    g AS (
        SELECT doc_id, source,
               list_distinct([ {gram_hash}
                   for i in generate_series(1, greatest(len(toks) - {n - 1}, 0)) ]) AS grams
        FROM (SELECT doc_id, source, {toks} AS toks FROM documents)
    ),
    probe AS (SELECT DISTINCT unnest(grams) AS gh FROM g
              WHERE source = 'src19'),
    contam AS (
        SELECT DISTINCT t.doc_id
        FROM (SELECT doc_id, unnest(grams) AS gh FROM g
              WHERE source <> 'src19') t
        JOIN probe USING (gh)
    )
    SELECT d.doc_id, d.lang, d.source FROM qdocs d
    WHERE d.doc_id IN (SELECT doc_id FROM keepers)
      AND d.doc_id NOT IN (SELECT doc_b FROM pairs)
      AND d.doc_id NOT IN (SELECT doc_id FROM contam)
    """


@_register("stream_corpus_pipeline", _stream_corpus_pipeline_oracle())
def stream_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL CorpusPipeline cleaning chain (quality -> exact dedup ->
    LSH near-dedup -> n-gram decontamination) as a REAL Structured-
    Streaming run (streaming/corpus_stream.py): the corpus streams
    through twice (two files, two foreachBatch micro-batches) against
    the persisted dedup index, so the first pass must equal the batch
    pipeline's output and the re-ingest pass must add zero rows —
    stream-equals-batch for the whole capstone composition, not just the
    dedup stage. Eval slice (src19) is static model-side state. The
    oracle is the batch-SQL pipeline."""
    from solana_etl_spark.streaming.corpus_stream import (
        start_streaming_corpus_pipeline,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("source") != "src19")
    eval_docs = docs.filter(F.col("source") == "src19")
    return _stream_gate(
        spark,
        "corpus",
        [corpus.coalesce(1)] * 2,
        lambda stream, work: start_streaming_corpus_pipeline(
            spark,
            stream,
            eval_docs,
            survivors_dir=f"{work}/out",
            index_dir=f"{work}/idx",
            checkpoint_dir=f"{work}/ckpt",
        ),
        lambda work: spark.read.parquet(f"{work}/out").select(
            "doc_id", "lang", "source"
        ),
    )



@_register(
    "stream_attribution_view",
    """
    WITH s AS (SELECT user_id, ts AS signup_ts FROM events
               WHERE event_type = 'signup'),
         p AS (SELECT user_id, ts AS purchase_ts, value FROM events
               WHERE event_type = 'purchase')
    SELECT s.user_id, signup_ts, purchase_ts, value
    FROM s JOIN p USING (user_id)
    """,
)
def stream_attribution_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A REAL Structured Streaming run inside the correctness gate: the
    events table is re-landed as several parquet files, tailed with
    maxFilesPerTrigger=1 (multiple micro-batches), and the streaming
    materialized-join view (streaming/view_stream.py — the delta rule
    ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, idempotent per-batch state dirs, retained-version
    pruning) maintains signups ⋈ purchases incrementally. The returned
    final view is value-hash-checked against the plain batch join oracle —
    the stream-equals-batch exactly-once claim, enforced by the gate
    rather than only by pytest."""
    from solana_etl_spark.streaming.view_stream import (
        current_view,
        start_view_stream,
    )

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    return _stream_gate(
        spark,
        "attr",
        [ev.repartition(3)],
        lambda stream, work: start_view_stream(
            spark,
            stream,
            state_dir=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
            retain=2,
        ),
        lambda work: current_view(spark, f"{work}/state"),
    )


@_register(
    "stream_cdc_snapshot",
    """
    WITH latest AS (
        SELECT user_id, event_type, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY event_id DESC
               ) AS rn
        FROM events
    )
    SELECT user_id, event_type, value
    FROM latest WHERE rn = 1 AND event_type <> 'error'
    """,
)
def stream_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC merge stream under the correctness gate: events become a
    change stream (key = user_id, version = event_id, 'error' events as
    deletes), landed as parquet files and tailed in micro-batches through
    streaming/merge_stream.py (versioned _SUCCESS-gated snapshots,
    retain=2 pruning). The final snapshot must equal the plain
    latest-change-per-key oracle.

    Change files are hash-split by user_id so each key's changes land in
    ONE micro-batch — the snapshot is then a pure function of the data,
    independent of batch ordering (cross-batch, later batches win by
    construction; a version-ordered split is a stream-source ordering
    assumption this gate query must not make)."""
    from solana_etl_spark.streaming.merge_stream import (
        current_snapshot,
        start_merge_stream,
    )

    changes = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("event_id").alias("version"),
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "event_type",
        "value",
    )
    return _stream_gate(
        spark,
        "cdc",
        [changes.repartition(3, F.col("user_id") % 3)],
        lambda stream, work: start_merge_stream(
            spark,
            stream,
            snapshot_dir=f"{work}/snap",
            checkpoint_dir=f"{work}/ckpt",
            keys=["user_id"],
            retain=2,
        ),
        lambda work: current_snapshot(spark, f"{work}/snap"),
    )


def _stream_dedup_oracle() -> str:
    # batch semantics of the streaming survivor set: exact keepers minus
    # LSH band-collision drops. Computing pairs on the full corpus is
    # equivalent to computing them post-exact-dedup: a non-keeper's keeper
    # is the MIN of its content group, has identical shingles/signatures,
    # and is therefore a smaller colliding partner for anything the
    # non-keeper collided with.
    return f"""
    WITH {_clean_corpus_ctes("documents")}
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    JOIN keepers k USING (doc_id)
    WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs)
    """


@_register("stream_dedup_ingest", _stream_dedup_oracle())
def stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingest with the persisted dedup index as a REAL
    Structured-Streaming run under the gate (streaming/dedup_stream.py):
    the documents table streams through twice (two files → two
    foreachBatch micro-batches), so the FIRST pass must produce exactly
    the batch dedup result (exact keepers minus LSH drops) and the SECOND
    pass must be fully suppressed by the warehouse index — re-ingesting
    the whole corpus adds zero rows. Because both micro-batches carry the
    identical corpus, the final survivor set is independent of file
    processing order, which makes the streaming run batch-SQL-expressible.
    Fourth member of the stream-equals-batch gate family."""
    from solana_etl_spark.streaming.dedup_stream import (
        start_streaming_corpus_ingest,
    )

    docs = _t(spark, sf_dir, "documents")
    return _stream_gate(
        spark,
        "dedup",
        [docs.coalesce(1)] * 2,
        lambda stream, work: start_streaming_corpus_ingest(
            spark,
            stream,
            survivors_dir=f"{work}/out",
            index_dir=f"{work}/idx",
            checkpoint_dir=f"{work}/ckpt",
        ),
        lambda work: spark.read.parquet(f"{work}/out").select(
            "doc_id", "lang", "source"
        ),
    )


# ---------------------------------------------------------------------------
# 13. Web curation: URL canonicalization/dedup/domain caps + C4 cleaning
# ---------------------------------------------------------------------------


def _web_pages_path() -> str:
    from solana_etl_spark.sources.synth import (
        N_PAGES,
        WEB_VERSION,
        _WEB_GEN,
        _tables_root,
    )

    return (
        f"{_tables_root()}/web_v{WEB_VERSION}g{_WEB_GEN}_{N_PAGES}"
        "/pages.parquet"
    )


def _read_web(spark: SparkSession) -> DataFrame:
    from solana_etl_spark.sources.synth import ensure_web_table

    ensure_web_table()
    return spark.read.parquet(_web_pages_path())


@_register(
    "web_html_extract",
    # the GROUND-TRUTH oracle: the generator builds html by wrapping the
    # text column in markup plus script/style/title noise
    # (sources/synth.py _page_html), so correct extraction must
    # reproduce the text column exactly — a divergence anywhere in the
    # strip chain (tag rules, entity order, line trimming) fails the
    # value hash rather than being mirrored into the oracle
    f"""
    SELECT page_id, text
    FROM read_parquet('{_web_pages_path()}')
    """,
)
def web_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML→text extraction (operators/web.py html_to_text): the crawl
    stage upstream of the whole URL/C4/span family — drop
    script/style/title subtrees, break on <br> and block elements, strip
    tags, decode entities, trim lines. A pure scan-fused
    regexp_replace chain (RE2-safe, zero shuffle — raw HTML is the
    bulkiest thing a 100 TB crawl holds, so this stage must not be a
    UDF). The oracle is the planted ground truth."""
    from solana_etl_spark.operators.web import extract_html_pages

    return extract_html_pages(_read_web(spark).select("page_id", "html"))


_URL_SQL_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)(\?[^#]*)?(#.*)?$"


def _psl_values_sql() -> str:
    """operators/web.py's vendored PSL as a DuckDB VALUES relation —
    interpolated from psl_rows() so a rule edit cannot desynchronize the
    mirror."""
    from solana_etl_spark.operators.web import psl_rows

    def _lit(v: int | None) -> str:
        return "NULL" if v is None else str(v)

    return ", ".join(
        f"('{k}', {klab}, {_lit(e)}, {_lit(w)}, {_lit(x)})"
        for k, klab, e, w, x in psl_rows()
    )


def _url_canon_cte() -> str:
    """CTE body producing (page_id, url, text, url_canonical, domain) —
    the DuckDB mirror of operators/web.py's canonical_url +
    with_registrable_domain (identical RE2-safe regexes, identical rule
    order, same PSL rule table via :func:`_psl_values_sql`): ``ps`` is
    the public-suffix label count (exception rules win, else longest
    match, else the implicit one-label default) and the registrable
    domain is the last ps+1 host labels ('' when the host IS a public
    suffix)."""
    re_ = _URL_SQL_RE
    psl = _psl_values_sql()
    rules = f"(VALUES {psl}) r(rkey, klab, ps_exact, ps_wild, ps_exc)"
    return f"""
        SELECT page_id, url, text, url_canonical,
               CASE WHEN hn > ps
                    THEN array_to_string(harr[hn - ps:], '.')
                    ELSE '' END AS domain
        FROM (
            SELECT *, COALESCE(
                (SELECT MAX(r.ps_exc) FROM {rules}
                  WHERE r.ps_exc IS NOT NULL AND r.klab <= hn
                    AND array_to_string(harr[hn - r.klab + 1:], '.') = r.rkey),
                GREATEST(1, COALESCE((
                    SELECT MAX(GREATEST(COALESCE(r.ps_exact, 0),
                           CASE WHEN r.ps_wild IS NOT NULL AND hn > r.klab
                                THEN r.ps_wild ELSE 0 END))
                    FROM {rules}
                    WHERE r.klab <= hn
                      AND array_to_string(harr[hn - r.klab + 1:], '.') = r.rkey
                ), 0))
            ) AS ps
            FROM (
                SELECT *,
                       string_split(hbare, '.') AS harr,
                       len(string_split(hbare, '.')) AS hn
                FROM (
                    SELECT page_id, url, text,
                           scheme || '://' || host || cpath ||
                           CASE WHEN len(params) > 0
                                THEN '?' || array_to_string(params, '&')
                                ELSE '' END AS url_canonical,
                           regexp_replace(host, ':[0-9]+$', '') AS hbare
                    FROM (
                        SELECT *,
                               regexp_replace(
                                   CASE WHEN scheme = 'http'
                                        THEN regexp_replace(hp, ':80$', '')
                                        WHEN scheme = 'https'
                                        THEN regexp_replace(hp, ':443$', '')
                                        ELSE hp END,
                                   '^www\\.', '') AS host,
                               regexp_replace(p0, '/+$', '') AS cpath,
                               list_sort(list_filter(
                                   string_split(regexp_replace(q0, '^\\?', ''), '&'),
                                   x -> x <> '' AND NOT regexp_matches(
                                       x, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)')
                               )) AS params
                        FROM (
                            SELECT page_id, url, text,
                                   lower(regexp_extract(url, '{re_}', 1)) AS scheme,
                                   lower(regexp_extract(url, '{re_}', 2)) AS hp,
                                   regexp_extract(url, '{re_}', 3) AS p0,
                                   regexp_extract(url, '{re_}', 4) AS q0
                            FROM read_parquet('{_web_pages_path()}')
                        )
                    )
                )
            )
        )
    """


def _web_url_canonical_oracle() -> str:
    return f"""
    WITH canon AS ({_url_canon_cte()})
    SELECT page_id, url_canonical, domain FROM canon
    """


@_register("web_url_canonical", _web_url_canonical_oracle())
def web_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/web.py canonical_url): lowercase
    scheme/host, fragment + default-port + www + tracking-param strip,
    param sort, trailing-slash strip — one codegen projection over the
    scan, zero shuffle, zero UDFs. The synthetic web corpus plants every
    variant class (case, :443/:80, utm/fbclid/ref noise, fragments,
    trailing slashes)."""
    from solana_etl_spark.operators.web import canonicalize

    return canonicalize(_read_web(spark)).select(
        "page_id", "url_canonical", "domain"
    )


def _dedup_url_oracle() -> str:
    return f"""
    WITH canon AS ({_url_canon_cte()})
    SELECT url_canonical, page_id, n_variants FROM (
        SELECT url_canonical, page_id,
               row_number() OVER (
                   PARTITION BY url_canonical
                   ORDER BY len(text) DESC, page_id ASC) AS rn,
               count(*) OVER (PARTITION BY url_canonical) AS n_variants
        FROM canon
    ) WHERE rn = 1
    """


@_register("dedup_url_keep_best", _dedup_url_oracle())
def dedup_url_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup, keep-best (operators/web.py): the same
    resource served under tracking noise collapses to its longest-text
    copy (ties to smallest id) via ONE hash aggregate with the
    struct-argmax — no window, no sort, no pair materialization; the
    oracle states the same semantics as a rank-1 window."""
    from solana_etl_spark.operators.web import url_dedup_keep_best

    return url_dedup_keep_best(_read_web(spark))


def _domain_cap_oracle() -> str:
    from solana_etl_spark.operators.web import DOMAIN_CAP

    return f"""
    WITH canon AS ({_url_canon_cte()})
    SELECT page_id, domain FROM (
        SELECT page_id, domain,
               row_number() OVER (
                   PARTITION BY domain
                   ORDER BY md5(domain || ':' || CAST(page_id AS VARCHAR))
               ) AS rn
        FROM canon
    ) WHERE rn <= {DOMAIN_CAP}
    """


@_register("s9_domain_cap", _domain_cap_oracle())
def s9_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain cap (operators/web.py per_domain_cap):
    keep ≤ cap pages per domain by deterministic md5 order. The plan is
    the TWO-LEVEL rank — first inside (domain, id-hash shard), bounding
    any window partition to ~domain/16, then over the ≤ cap*16 per-domain
    survivors — so a mega-domain never pins one reducer; provably equal
    to the oracle's single global rank (each global winner ranks ≤ cap
    in its own shard)."""
    from solana_etl_spark.operators.web import per_domain_cap

    return per_domain_cap(_read_web(spark))


def _c4_line_kept_sql() -> str:
    from solana_etl_spark.operators.c4 import MIN_LINE_WORDS

    return (
        "regexp_matches(x, '[.!?\"]\\s*$') "
        f"AND len(regexp_extract_all(x, '\\S+')) >= {MIN_LINE_WORDS} "
        "AND NOT contains(lower(x), 'javascript')"
    )


def _c4_page_drop_sql() -> str:
    from solana_etl_spark.operators.c4 import BAD_WORDS

    bad = " OR ".join(f"contains(lower(text), '{w}')" for w in BAD_WORDS)
    return (
        f"{bad} OR contains(lower(text), 'lorem ipsum') "
        "OR contains(text, '{')"
    )


_C4_LINE_KEPT_SQL = _c4_line_kept_sql()
_C4_PAGE_DROP_SQL = _c4_page_drop_sql()


def _c4_line_filter_oracle() -> str:
    from solana_etl_spark.operators.c4 import MIN_PAGE_LINES

    return f"""
    SELECT page_id,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept,
           array_to_string(kept, chr(10)) AS text_clean
    FROM (
        SELECT page_id, text,
               list_filter(string_split(text, chr(10)), x -> x <> '') AS ls,
               list_filter(list_filter(string_split(text, chr(10)),
                                       x -> x <> ''),
                           x -> {_C4_LINE_KEPT_SQL}) AS kept
        FROM read_parquet('{_web_pages_path()}')
        WHERE NOT ({_C4_PAGE_DROP_SQL})
    )
    WHERE len(kept) >= {MIN_PAGE_LINES}
    """


@_register("text_c4_line_filter", _c4_line_filter_oracle())
def text_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line + page rules (operators/c4.py c4_line_filter; Raffel et
    al. 2020 §2.2): terminal-punctuation lines of ≥5 words without
    'javascript', pages without bad words / 'lorem ipsum' / braces and
    with ≥3 surviving lines. Bare array expressions over one scan —
    zero shuffle; at 100 TB this is a map-only stage."""
    from solana_etl_spark.operators.c4 import c4_line_filter

    return c4_line_filter(_read_web(spark))


def _c4_span_cte(src: str) -> str:
    """CTEs (occ, drops) for three-sentence-span dedup over ``src``
    (page_id, text) — mirror of operators/c4.py c4_span_dedup."""
    from solana_etl_spark.operators.c4 import SPAN_SENTS

    w = SPAN_SENTS
    return f"""
    lsrc AS (
        SELECT page_id,
               list_filter(string_split(text, chr(10)), x -> x <> '') AS ls
        FROM {src}
    ),
    occ AS (
        SELECT page_id, i - 1 AS pos,
               md5(array_to_string(ls[i:i+{w - 1}], chr(10))) AS h
        FROM (
            SELECT page_id, ls,
                   unnest(generate_series(1, len(ls) - {w - 1})) AS i
            FROM lsrc WHERE len(ls) >= {w}
        )
    ),
    k AS (
        SELECT h, page_id AS kp, pos AS kpos FROM (
            SELECT h, page_id, pos,
                   row_number() OVER (
                       PARTITION BY h ORDER BY page_id, pos) AS rn,
                   count(*) OVER (PARTITION BY h) AS n
            FROM occ
        ) WHERE rn = 1 AND n > 1
    ),
    drops AS (
        SELECT page_id, list(DISTINCT idx) AS idxs
        FROM (
            SELECT o.page_id, o.pos + j AS idx
            FROM occ o
            JOIN k USING (h), generate_series(0, {w - 1}) AS g(j)
            WHERE NOT (o.page_id = k.kp AND o.pos = k.kpos)
        ) GROUP BY page_id
    )
    """


def _c4_span_dedup_oracle() -> str:
    src = f"read_parquet('{_web_pages_path()}')"
    return f"""
    WITH {_c4_span_cte(src)}
    SELECT l.page_id,
           CAST(len(l.ls) AS BIGINT) AS n_lines,
           CAST(coalesce(len(d.idxs), 0) AS BIGINT) AS n_dropped_lines,
           coalesce(array_to_string(
               [l.ls[i] for i in generate_series(1, len(l.ls))
                if NOT coalesce(list_contains(d.idxs, i - 1), false)],
               chr(10)), '') AS text_dedup
    FROM lsrc l LEFT JOIN drops d USING (page_id)
    """


@_register("dedup_c4_spans", _c4_span_dedup_oracle())
def dedup_c4_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 three-sentence-span corpus dedup (operators/c4.py
    c4_span_dedup): every 3-consecutive-line window hashes (md5), the
    globally (page, pos)-first occurrence survives, all lines covered by
    other occurrences are removed. Catches the planted per-site cookie
    blocks and cross-site syndicated blocks. Shuffles only 32-byte
    (hash, page, pos) rows — linear, never pairwise."""
    from solana_etl_spark.operators.c4 import c4_span_dedup

    return c4_span_dedup(_read_web(spark))


def _web_clean_ctes() -> str:
    """CTEs (canon, best, clean): canonical-URL keep-best + C4 line/page
    rules — the shared prefix of the batch web-clean capstone and the
    stream-equals-batch gate."""
    from solana_etl_spark.operators.c4 import MIN_PAGE_LINES

    return f"""
    canon AS ({_url_canon_cte()}),
    best AS (
        SELECT page_id, domain, text FROM (
            SELECT page_id, domain, text,
                   row_number() OVER (
                       PARTITION BY url_canonical
                       ORDER BY len(text) DESC, page_id ASC) AS rn
            FROM canon
        ) WHERE rn = 1
    ),
    clean AS (
        SELECT page_id, domain,
               array_to_string(kept, chr(10)) AS text
        FROM (
            SELECT page_id, domain,
                   list_filter(list_filter(string_split(text, chr(10)),
                                           x -> x <> ''),
                               x -> {_C4_LINE_KEPT_SQL}) AS kept
            FROM best
            WHERE NOT ({_C4_PAGE_DROP_SQL})
        )
        WHERE len(kept) >= {MIN_PAGE_LINES}
    )
    """


def _pipeline_web_clean_oracle() -> str:
    return f"""
    WITH {_web_clean_ctes()},
    {_c4_span_cte("clean")}
    SELECT l.page_id, c.domain,
           CAST(len(l.ls) AS BIGINT) AS n_kept,
           CAST(coalesce(len(d.idxs), 0) AS BIGINT) AS n_dropped_lines,
           coalesce(array_to_string(
               [l.ls[i] for i in generate_series(1, len(l.ls))
                if NOT coalesce(list_contains(d.idxs, i - 1), false)],
               chr(10)), '') AS text_final
    FROM lsrc l
    JOIN clean c USING (page_id)
    LEFT JOIN drops d USING (page_id)
    """


@_register("pipeline_web_clean", _pipeline_web_clean_oracle())
def pipeline_web_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-curation capstone, FROM RAW HTML: scan-fused HTML→text
    extraction → canonicalize → canonical-URL keep-best → C4 line/page
    rules → corpus-wide three-sentence-span dedup, one lazy plan. The
    oracle consumes the generator's ground-truth text column, so the
    extraction stage is value-hash-checked inside the same row
    (extraction must reproduce the planted text EXACTLY or every
    downstream stage drifts). Stage costs at scale: two projections
    (0 shuffles — raw HTML dies at the first one) + keep-best (1 hash
    agg) + line rules (0) + span dedup (hash-keyed linear)."""
    from solana_etl_spark.corpus import WebPipeline
    from solana_etl_spark.operators.c4 import c4_line_filter, c4_span_dedup
    from solana_etl_spark.operators.web import (
        canonicalize,
        url_dedup_keep_best,
    )

    pages = WebPipeline.from_html(
        _read_web(spark).select("page_id", "url", "html")
    ).df
    keepers = url_dedup_keep_best(pages).select("page_id")
    best = canonicalize(pages).join(keepers, "page_id", "left_semi")
    clean = c4_line_filter(best).withColumnRenamed("text_clean", "text")
    domains = best.select("page_id", "domain")
    return (
        c4_span_dedup(clean)
        .join(domains, "page_id")
        .select(
            "page_id",
            "domain",
            F.col("n_lines").alias("n_kept"),
            "n_dropped_lines",
            F.col("text_dedup").alias("text_final"),
        )
    )


def _stream_web_oracle() -> str:
    """Batch web-clean chain output (page_id, text_final): the stream's
    first full-corpus micro-batch must reproduce it exactly and the
    second identical pass is fully suppressed by the persisted canonical
    index, so the union of per-batch survivors IS the batch result."""
    return f"""
    WITH {_web_clean_ctes()},
    {_c4_span_cte("clean")}
    SELECT l.page_id,
           coalesce(array_to_string(
               [l.ls[i] for i in generate_series(1, len(l.ls))
                if NOT coalesce(list_contains(d.idxs, i - 1), false)],
               chr(10)), '') AS text_final
    FROM lsrc l LEFT JOIN drops d USING (page_id)
    """


@_register("stream_web_pipeline", _stream_web_oracle())
def stream_web_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebPipeline crawl chain as a REAL Structured-Streaming run under
    the gate (streaming/web_stream.py): the pages table streams through
    twice (two files → two foreachBatch micro-batches), so the FIRST
    pass must produce exactly the batch chain's output (URL keep-best →
    C4 line/page rules → span dedup) and the SECOND pass must be fully
    suppressed by the persisted canonical-URL index — re-ingesting the
    whole crawl adds zero rows. Fifth member of the stream-equals-batch
    gate family."""
    from solana_etl_spark.streaming.web_stream import (
        start_streaming_web_pipeline,
    )

    pages = _read_web(spark)
    return _stream_gate(
        spark,
        "web",
        [pages.coalesce(1)] * 2,
        lambda stream, work: start_streaming_web_pipeline(
            spark,
            stream,
            survivors_dir=f"{work}/out",
            index_dir=f"{work}/idx",
            checkpoint_dir=f"{work}/ckpt",
        ),
        lambda work: spark.read.parquet(f"{work}/out").select(
            "page_id", "text_final"
        ),
    )


# ---------------------------------------------------------------------------
# 14. WordPiece tokenizer (third tokenizer family)
# ---------------------------------------------------------------------------

# Frozen vocabulary artifact for text_wordpiece_encode: trained ONCE with
# operators/wordpiece.py:train_wordpiece_vocab on the sf0.001 documents
# sample (24 merges, likelihood score count(ab)/(count(a)*count(b))) and
# frozen — the production shape (train on a bounded sample, ship the
# vocabulary). Alphabet first (bare + ## continuation forms), then the
# 24 merged pieces in merge order.
_WORDPIECE_VOCAB: list[str] = [
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k", "##l",
    "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##u", "##w", "##y",
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p", "q",
    "r", "s", "t", "v", "w",
    "li", "wi", "qu", "lin", "win", "wind", "th", "##sh", "##ch", "fi",
    "bi", "##in", "big", "ag", "agg", "##bl", "fil", "##up", "sp", "##us",
    "cus", "##lu", "##lum", "##lumn",
]


def _wp_seg_ctes() -> str:
    """Shared recursive CTEs (wpv .. segs): the greedy longest-match walk
    over every distinct corpus word — used by the encode and pack
    oracles (mirror of operators/wordpiece.py wordpiece_segment)."""
    from solana_etl_spark.operators.wordpiece import MAX_PIECE_LEN, UNK

    vocab_vals = ", ".join(f"('{p}')" for p in _WORDPIECE_VOCAB)
    return f"""
    wpv(piece) AS (VALUES {vocab_vals}),
    wpw AS MATERIALIZED (
        SELECT DISTINCT unnest(list_filter(
                   string_split_regex(lower(text), '\\s+'),
                   x -> x <> '')) AS word
        FROM documents WHERE text IS NOT NULL
    ),
    wpc AS (
        SELECT word, s, unnest(generate_series(
                   1, least({MAX_PIECE_LEN}, length(word) - s + 1))) AS j
        FROM (SELECT word, unnest(generate_series(1, length(word))) AS s
              FROM wpw)
    ),
    wpm AS MATERIALIZED (
        -- longest vocabulary match per (word, cursor): continuation
        -- positions (s > 1) match only ## pieces
        SELECT word, s - 1 AS pos, max(j) AS l
        FROM wpc JOIN wpv
          ON wpv.piece = CASE WHEN s = 1 THEN substr(word, s, j)
                              ELSE '##' || substr(word, s, j) END
        GROUP BY word, s
    ),
    walk AS (
        SELECT word, 0 AS pos, CAST([] AS VARCHAR[]) AS toks,
               false AS failed
        FROM wpw
        UNION ALL
        SELECT w.word,
               CASE WHEN m.l IS NULL THEN length(w.word)
                    ELSE w.pos + m.l END,
               CASE WHEN m.l IS NULL THEN w.toks
                    ELSE list_append(w.toks,
                         CASE WHEN w.pos > 0 THEN '##' ELSE '' END
                         || substr(w.word, w.pos + 1, m.l)) END,
               m.l IS NULL
        FROM walk w LEFT JOIN wpm m ON m.word = w.word AND m.pos = w.pos
        WHERE w.pos < length(w.word) AND NOT w.failed
    ),
    segs AS (
        SELECT word,
               CASE WHEN failed THEN ['{UNK}'] ELSE toks END AS pieces
        FROM walk WHERE pos = length(word)
    )
    """


def _wordpiece_encode_oracle() -> str:
    from solana_etl_spark.operators.wordpiece import UNK

    return f"""
    WITH RECURSIVE {_wp_seg_ctes()},
    wpstream AS (
        SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS word
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL)
    ),
    wpdoc AS (
        SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS toks
        FROM wpstream JOIN segs USING (word) GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE CAST(COALESCE(len(e.toks), 0) AS BIGINT) END AS n_tokens,
           CASE WHEN d.text IS NULL THEN NULL
                ELSE CAST(COALESCE(len(list_filter(e.toks,
                     x -> x = '{UNK}')), 0) AS BIGINT) END AS n_unk,
           CASE WHEN d.text IS NULL THEN ''
                ELSE array_to_string(COALESCE(e.toks, [])[1:8], ' ')
           END AS tok_prefix
    FROM documents d LEFT JOIN wpdoc e USING (doc_id)
    """


@_register("text_wordpiece_encode", _wordpiece_encode_oracle())
def text_wordpiece_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization with a shipped WordPiece vocabulary
    (operators/wordpiece.py apply_wordpiece) — the THIRD tokenizer
    family (BERT's greedy longest-match-first, whole-word [UNK] on any
    unmatchable cursor), next to BPE (text_bpe_encode) and unigram-LM
    (text_unigram_encode). Greedy segmentation runs once per DISTINCT
    word (Zipf-bounded) as a membership-map build + per-row fold — zero
    Python — then joins back in word order. The DuckDB oracle replays
    the greedy walk as a recursive CTE over (word, cursor) states.
    Returns per-doc token count, [UNK] count, first 8 tokens."""
    from solana_etl_spark.operators.wordpiece import UNK, apply_wordpiece

    docs = _t(spark, sf_dir, "documents")
    enc = apply_wordpiece(docs, _WORDPIECE_VOCAB)
    toks = F.col("wp_tokens")
    # size(NULL) is -1 under the session's non-ANSI legacy semantics, so
    # NULL-text rows need the explicit isNull branch to match the
    # oracle's NULL (latent on current fixtures, which carry no NULLs)
    null_text = F.col("text").isNull()
    return enc.select(
        "doc_id",
        F.when(null_text, F.lit(None))
        .otherwise(F.size(toks))
        .cast("long")
        .alias("n_tokens"),
        F.when(null_text, F.lit(None))
        .otherwise(F.size(F.filter(toks, lambda t: t == UNK)))
        .cast("long")
        .alias("n_unk"),
        F.when(null_text, F.lit(""))
        .otherwise(F.array_join(F.slice(toks, 1, 8), " "))
        .alias("tok_prefix"),
    )


def _wp_pack_oracle() -> str:
    b = _BPE_PACK_BUDGET
    return f"""
    WITH RECURSIVE {_wp_seg_ctes()},
    wpkw AS (
        SELECT doc_id, lang, unnest(ws) AS word
        FROM (SELECT doc_id, lang,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 x -> x <> '') AS ws
              FROM documents WHERE text IS NOT NULL)
    ),
    wpkd AS (
        SELECT w.doc_id, ANY_VALUE(w.lang) AS lang,
               CAST(SUM(len(s.pieces)) AS BIGINT) AS n_tokens
        FROM wpkw w JOIN segs s USING (word) GROUP BY w.doc_id
    ),
    wpcum AS (
        SELECT lang, doc_id, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS e
        FROM wpkd
    ),
    wpex AS (
        SELECT lang, doc_id, n_tokens, e - n_tokens AS s, e,
               unnest(generate_series(CAST((e - n_tokens) // {b} AS BIGINT),
                                      CAST((e - 1) // {b} AS BIGINT)))
                   AS seq_id
        FROM wpcum WHERE n_tokens > 0
    )
    SELECT lang, doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           seq_id,
           CAST(greatest(s, seq_id * {b}) - seq_id * {b} AS BIGINT)
               AS seq_offset,
           CAST(least(e, seq_id * {b} + {b}) - greatest(s, seq_id * {b})
                AS BIGINT) AS tokens_in_seq
    FROM wpex
    """


def _wp_strip_sql(e: str) -> str:
    return f"CASE WHEN {e} LIKE '##%' THEN substr({e}, 3) ELSE {e} END"


def _wp_train_oracle(n_merges: int) -> str:
    """Classic WordPiece TRAINING unrolled as DuckDB CTE stages — the
    likelihood-score sibling of _bpe_train_oracle: per stage, symbol
    counts + pair counts over the sentinel streams, candidate filter on
    ##-stripped content length (operators/wordpiece.py's
    encoder-reachability bound), argmax of cnt/(cnt_a·cnt_b) in float64
    with (a, b) lexical ties, one stream replace. Output = alphabet
    (binary-sorted distinct initial symbols) + merged pieces in merge
    order, positions 0..n — exactly train_wordpiece_vocab's artifact."""
    from solana_etl_spark.operators.wordpiece import MAX_PIECE_LEN

    parts = [
        """
    s0 AS MATERIALIZED (
        SELECT chr(31) || substr(word, 1, 1) || chr(31) ||
               COALESCE(regexp_replace(substr(word, 2), '(.)',
                        chr(31) || '##\\1' || chr(31), 'gs'), '') AS stream,
               CAST(freq AS BIGINT) AS freq
        FROM (
            SELECT w AS word, COUNT(*) AS freq FROM (
                SELECT unnest(list_filter(
                    string_split_regex(lower(text), '\\s+'),
                    x -> x <> '')) AS w
                FROM documents
            ) GROUP BY w
        )
    ),
    alpha AS MATERIALIZED (
        SELECT DISTINCT unnest(list_filter(string_split(stream, chr(31)),
                                           x -> x <> '')) AS s
        FROM s0
    )"""
    ]
    for i in range(n_merges):
        parts.append(
            f"""
    sy{i} AS MATERIALIZED (
        SELECT s, CAST(SUM(freq) AS BIGINT) AS scnt FROM (
            SELECT unnest(list_filter(string_split(stream, chr(31)),
                                      x -> x <> '')) AS s, freq
            FROM s{i}
        ) GROUP BY s
    ),
    p{i} AS (
        SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt FROM (
            SELECT syms[i] AS a, syms[i+1] AS b, freq FROM (
                SELECT syms, freq,
                       unnest(generate_series(1, len(syms) - 1)) AS i
                FROM (
                    SELECT list_filter(string_split(stream, chr(31)),
                                       x -> x <> '') AS syms, freq
                    FROM s{i}
                )
            )
        ) GROUP BY a, b
    ),
    b{i} AS MATERIALIZED (
        SELECT p.a AS a, p.b AS b,
               p.a || {_wp_strip_sql('p.b')} AS merged
        FROM p{i} p
        JOIN sy{i} sa ON sa.s = p.a
        JOIN sy{i} sb ON sb.s = p.b
        WHERE length({_wp_strip_sql('p.a')})
              + length({_wp_strip_sql('p.b')}) <= {MAX_PIECE_LEN}
        ORDER BY CAST(p.cnt AS DOUBLE)
                 / CAST(sa.scnt * sb.scnt AS DOUBLE) DESC, p.a, p.b
        LIMIT 1
    ),
    s{i + 1} AS MATERIALIZED (
        SELECT replace(stream,
                       chr(31) || a || chr(31) || chr(31) || b || chr(31),
                       chr(31) || merged || chr(31)) AS stream, freq
        FROM s{i}, b{i}
    )"""
        )
    sel = (
        "SELECT CAST(ROW_NUMBER() OVER (ORDER BY s) - 1 AS BIGINT) AS pos,"
        " s AS piece FROM alpha"
        + "".join(
            f"\nUNION ALL SELECT (SELECT COUNT(*) FROM alpha) + {i},"
            f" merged FROM b{i}"
            for i in range(n_merges)
        )
    )
    return "WITH " + ",".join(parts) + "\n" + sel


_WP_TRAIN_N_MERGES = 12


@_register(
    "text_wordpiece_vocab_train",
    _wp_train_oracle(_WP_TRAIN_N_MERGES),
)
def text_wordpiece_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece vocabulary TRAINING certified end-to-end, the
    text_bpe_vocab_train sibling: the hybrid trainer
    (operators/wordpiece.py train_wordpiece_vocab — distributed word
    table, likelihood-score greedy merges on the driver via
    operators/vocab_driver.py) learns alphabet + merges on THIS sf's
    documents, and DuckDB independently re-learns them with the merge
    loop unrolled as SQL stages."""
    from solana_etl_spark.operators.wordpiece import train_wordpiece_vocab

    docs = _t(spark, sf_dir, "documents")
    vocab = train_wordpiece_vocab(docs, n_merges=_WP_TRAIN_N_MERGES)
    return spark.createDataFrame(
        [(i, p) for i, p in enumerate(vocab)], "pos long, piece string"
    )


@_register("pipeline_wordpiece_pack", _wp_pack_oracle())
def pipeline_wordpiece_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer->packing composite on the WordPiece family: encode the
    corpus with the shipped WordPiece vocabulary (greedy longest-match,
    whole-word [UNK] counts as one token), then pack the REAL token
    counts into fixed 2048-token training sequences per language — the
    pipeline_bpe_pack / pipeline_unigram_pack counterpart proving the
    THIRD tokenizer chains into the same downstream accounting. One
    pack-window shuffle on top of the encode's linear ones."""
    from solana_etl_spark.operators.packing import pack_sequences
    from solana_etl_spark.operators.wordpiece import apply_wordpiece

    docs = _t(spark, sf_dir, "documents")
    enc = apply_wordpiece(docs, _WORDPIECE_VOCAB)
    packed = pack_sequences(
        enc,
        budget=_BPE_PACK_BUDGET,
        group_cols=("lang",),
        order_col="doc_id",
        n_tokens=F.size("wp_tokens"),
    )
    return packed.select(
        "lang",
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "seq_id",
        "seq_offset",
        "tokens_in_seq",
    )


# ---------------------------------------------------------------------------
# Round-6 additions: grouping sets, ranking family, rolling windows, RFM,
# median imputation, SQ8-quantized ANN
# ---------------------------------------------------------------------------


@_register(
    "a22_grouping_sets",
    """
    WITH li AS (
        SELECT *, CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year FROM lineitem
    )
    SELECT l_returnflag, l_linestatus, ship_year,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
           CAST(GROUPING(l_returnflag) * 4 + GROUPING(l_linestatus) * 2
                + GROUPING(ship_year) AS BIGINT) AS grouping_level
    FROM li
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (ship_year), ())
    """,
)
def a22_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form of a12's ROLLUP / a16's
    CUBE (SURVEY §2.4 'absent in ref' family): three unrelated groupings
    ((flag, status), (ship year), grand total) in ONE pass. Spark expands
    the sets map-side before a single exchange — vs three group-bys +
    union, which would scan the fact table three times."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("long")
    )
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["ship_year"], []],
        "l_returnflag", "l_linestatus", "ship_year",
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_price"),
        (
            F.grouping("l_returnflag") * 4
            + F.grouping("l_linestatus") * 2
            + F.grouping("ship_year")
        ).cast("long").alias("grouping_level"),
    )


@_register(
    "w5_rank_family",
    """
    SELECT o_custkey, o_orderkey,
           CAST(RANK() OVER wt AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER wt AS BIGINT) AS drnk,
           ROUND(PERCENT_RANK() OVER wt, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER wt, 6) AS cume,
           CAST(NTILE(4) OVER wu AS BIGINT) AS quartile
    FROM orders WHERE o_custkey <= 200
    WINDOW wt AS (PARTITION BY o_custkey ORDER BY o_orderdate),
           wu AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def w5_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function surface (SURVEY §2.8 'absent in ref'):
    rank/dense_rank/percent_rank/cume_dist share ONE tie-aware window
    (same-date orders rank equally — deterministic under ties by
    definition); ntile gets a UNIQUE (date, orderkey) order because its
    assignment is positional, not tie-aware. Both specs partition on the
    same key, so it stays one shuffle with two in-partition sorts.
    percent_rank/cume_dist are exact-integer ratios divided once in
    IEEE doubles — bit-identical cross-engine."""
    o = _t(spark, sf_dir, "orders").filter(F.col("o_custkey") <= 200)
    wt = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    wu = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(wt).cast("long").alias("rnk"),
        F.dense_rank().over(wt).cast("long").alias("drnk"),
        F.round(F.percent_rank().over(wt), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(wt), 6).alias("cume"),
        F.ntile(4).over(wu).cast("long").alias("quartile"),
    )


@_register(
    "ts_rolling",
    """
    WITH e AS (
        SELECT user_id, event_id, ts,
               CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        FROM events WHERE value IS NOT NULL
    )
    SELECT user_id AS key, event_id,
           CAST(SUM(v) OVER w AS DOUBLE) AS roll_sum,
           COUNT(*) OVER w AS n_window,
           ROUND(CAST(SUM(v) OVER w AS DOUBLE) / (COUNT(*) OVER w), 6)
               AS roll_mean,
           CAST(MIN(v) OVER w AS DOUBLE) AS roll_min,
           CAST(MAX(v) OVER w AS DOUBLE) AS roll_max
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def ts_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 5-row moving sum/mean/min/max per user (operators/
    timeseries.py rolling_stats): the moving-average smoother, as one
    ROWS-frame window pass — complements w4's RANGE (time-distance)
    frame with the row-count frame."""
    from solana_etl_spark.operators.timeseries import rolling_stats

    return rolling_stats(_t(spark, sf_dir, "events"))


@_register(
    "st_rfm",
    """
    WITH p AS (
        SELECT user_id, ts, CAST(round(value, 4) AS DECIMAL(18,4)) AS v
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    u AS (
        SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS frequency,
               CAST(SUM(v) AS DOUBLE) AS monetary
        FROM p GROUP BY user_id
    ),
    g AS (SELECT MAX(ts) AS now_ts FROM p),
    m AS (
        SELECT u.user_id,
               CAST(epoch_us(g.now_ts) - epoch_us(u.last_ts) AS BIGINT)
                   AS recency_us,
               u.frequency, u.monetary
        FROM u, g
    )
    SELECT user_id, recency_us, frequency, monetary,
           CAST(NTILE(4) OVER (ORDER BY recency_us, user_id) AS BIGINT) AS r_q,
           CAST(NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) AS f_q,
           CAST(NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) AS m_q,
           CAST(NTILE(4) OVER (ORDER BY recency_us, user_id) * 100
                + NTILE(4) OVER (ORDER BY frequency DESC, user_id) * 10
                + NTILE(4) OVER (ORDER BY monetary DESC, user_id)
                AS BIGINT) AS rfm_segment
    FROM m
    """,
)
def st_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles — the
    classic customer-analytics rollup, sibling of sessionize/funnel/
    cohort): one map-side-combined per-user aggregate over purchases,
    a broadcast 1-row corpus clock, then quartile labels with user_id
    tie-breaks (deterministic cross-engine). The three NTILEs ride the
    TWO-PHASE row_number (operators/prefix.py two_phase_row_number:
    range-bucketed partitioned windows + broadcast offsets — NO
    unpartitioned user-grain window, plan-shape-guarded) and the exact
    closed-form ntile_from_rank reconstruction, which the driver's value
    hash pins against the oracle's real NTILE. Recency stays exact
    integer microseconds — no float time math."""
    from solana_etl_spark.operators.prefix import (
        N_RANGE_BUCKETS,
        ntile_from_rank_sql,
        two_phase_row_number,
    )

    e = _t(spark, sf_dir, "events")
    p = e.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id", "ts", F.round("value", 4).cast(DEC).alias("v")
    )
    u = p.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("v").cast("double").alias("monetary"),
    )
    g = p.agg(F.max("ts").alias("now_ts"))
    m = u.crossJoin(F.broadcast(g)).select(
        "user_id",
        (F.unix_micros("now_ts") - F.unix_micros("last_ts")).alias("recency_us"),
        "frequency",
        "monetary",
    ).persist()  # ONE fused quantile pass + the user count read it;
    # unpersisted below once those driver-state actions complete

    # r9: ONE multi-column approxQuantile job computes all three metrics'
    # range-bucket splits (was three eager jobs, one per
    # two_phase_row_number call — same driver-state class, 2 fewer job
    # round trips over the persisted frame). Splits only steer bucket
    # load balance; ranks — and therefore the output — are exact for any
    # splits, so the full-frame pass here and quantile_splits' hash-
    # sampled pass are interchangeable. Degrade contract preserved: any
    # failure falls back to single-bucket ([]), a parallelism loss only.
    _metrics = ["recency_us", "frequency", "monetary"]
    _probs = [i / N_RANGE_BUCKETS for i in range(1, N_RANGE_BUCKETS)]
    try:
        _q3 = m.approxQuantile(_metrics, _probs, 1.0 / (4 * N_RANGE_BUCKETS))
        _splits = {
            c: sorted({float(v) for v in qs})
            for c, qs in zip(_metrics, _q3)
        }
    except Exception as _e:
        # degrade loudly (repo convention: no silent caps — ADVICE r9):
        # single-bucket ranks are correct but serialize three windows
        # over the full user set, a real perf cliff worth a log line
        import logging

        logging.getLogger(__name__).warning(
            "st_rfm: fused approxQuantile failed (%s); degrading to "
            "single-bucket rank windows (correct, unparallelized)", _e
        )
        _splits = {c: [] for c in _metrics}

    def rank_table(metric: str, order_cols, desc: bool, out: str):
        sub = m.select("user_id", metric)
        return two_phase_row_number(
            sub, metric, order_cols, out_col=out, descending=desc,
            splits=_splits[metric],
        ).select("user_id", out)

    r_rn = rank_table(
        "recency_us",
        [F.asc("recency_us"), F.asc("user_id")],
        False,
        "_r_rn",
    )
    f_rn = rank_table(
        "frequency",
        [F.desc("frequency"), F.asc("user_id")],
        True,
        "_f_rn",
    )
    m_rn = rank_table(
        "monetary",
        [F.desc("monetary"), F.asc("user_id")],
        True,
        "_m_rn",
    )
    # user count is one long of driver state (same bounded-collect class
    # as the quantile splits); taking it as an action HERE lets the
    # persist be released before returning — repeated invocations in a
    # long-lived session no longer accumulate cached blocks. The final
    # plan recomputes m's aggregate, but its 4 references share one
    # exchange (ReuseExchange), so the recompute is a single pass.
    n_users = m.count()
    m.unpersist()
    ranked = (
        m.join(r_rn, "user_id")
        .join(f_rn, "user_id")
        .join(m_rn, "user_id")
    )
    # one parsed selectExpr instead of ~250 Column-API py4j round trips
    # (r10, guide §7.3); ntile_from_rank_sql folds the known user count
    # into the identical closed-form tree
    r_q = f"CAST({ntile_from_rank_sql('`_r_rn`', n_users, 4)} AS BIGINT)"
    f_q = f"CAST({ntile_from_rank_sql('`_f_rn`', n_users, 4)} AS BIGINT)"
    m_q = f"CAST({ntile_from_rank_sql('`_m_rn`', n_users, 4)} AS BIGINT)"
    return ranked.selectExpr(
        "user_id", "recency_us", "frequency", "monetary",
        f"{r_q} AS r_q", f"{f_q} AS f_q", f"{m_q} AS m_q",
        f"CAST(({r_q}) * 100 + ({f_q}) * 10 + ({m_q}) AS BIGINT)"
        " AS rfm_segment",
    )


@_register(
    "dq_impute_median",
    """
    WITH obs AS (
        SELECT user_id, value FROM events
        WHERE event_type <> 'error' AND value IS NOT NULL
    ),
    grp AS (
        SELECT user_id, quantile_cont(value, 0.5) AS gm
        FROM obs GROUP BY user_id
    ),
    allobs AS (SELECT quantile_cont(value, 0.5) AS m FROM obs)
    SELECT e.event_id, e.user_id,
           e.event_type = 'error' AS is_missing,
           ROUND(e.value, 6) AS value_raw,
           ROUND(CASE WHEN e.event_type = 'error'
                      THEN COALESCE(grp.gm, allobs.m)
                      ELSE e.value END, 6) AS value_imputed
    FROM events e LEFT JOIN grp USING (user_id), allobs
    """,
)
def dq_impute_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missing-value repair (operators/impute.py impute_group_median):
    'error' events' values are declared missing and filled with the
    user's median OBSERVED value, global-median fallback for all-error
    users — the data-quality family's repair step next to the detect
    steps (constraints/drift/outliers). Exact continuous-interpolation
    medians (a13-proven cross-engine)."""
    from solana_etl_spark.operators.impute import impute_group_median

    e = _t(spark, sf_dir, "events")
    return impute_group_median(
        e,
        key_col="user_id",
        value_col="value",
        is_missing=F.col("event_type") == "error",
        id_cols=("event_id",),
    )


def _sq8_oracle() -> str:
    from solana_etl_spark.operators.similarity import (
        SQ8_REFINE_FACTOR,
        TOPK,
    )

    return f"""
    WITH {_NEMB_CTE},
    dimvals AS (
        -- parallel unnests zip: (dimension ordinal, value) per element
        SELECT unnest(generate_series(1, len(embedding))) AS dim,
               unnest(embedding)::DOUBLE AS x
        FROM embeddings
    ),
    d2 AS (
        SELECT dim, MIN(x) AS mn,
               CASE WHEN MAX(x) > MIN(x) THEN MAX(x) - MIN(x) ELSE 1.0
               END AS rng
        FROM dimvals GROUP BY dim
    ),
    dl AS (
        SELECT list(mn ORDER BY dim) AS mins, list(rng ORDER BY dim) AS rngs
        FROM d2
    ),
    codes AS (
        SELECT e.vec_id,
               [CAST(round((e.embedding[i]::DOUBLE - dl.mins[i]) * 255.0
                           / dl.rngs[i], 0) AS BIGINT)
                for i in generate_series(1, len(e.embedding))] AS codes
        FROM embeddings e, dl
    ),
    q AS (SELECT vec_id AS q_id, codes AS qc FROM codes
          ORDER BY vec_id LIMIT 1),
    scores AS (
        SELECT c.vec_id,
               CAST(list_reduce(
                   [c.codes[i] * q.qc[i]
                    for i in generate_series(1, len(c.codes))],
                   (x, y) -> x + y) AS BIGINT) AS score_sq8
        FROM codes c, q WHERE c.vec_id <> q.q_id
    ),
    cand AS (
        SELECT vec_id, score_sq8 FROM scores
        ORDER BY score_sq8 DESC, vec_id LIMIT {TOPK * SQ8_REFINE_FACTOR}
    )
    SELECT vec_id, c.score_sq8, ROUND({_NDOT_SQL}, 6) AS cosine_sim
    FROM cand c JOIN nemb a USING (vec_id),
         (SELECT vec_id AS q_id, v FROM nemb ORDER BY vec_id LIMIT 1) b
    ORDER BY cosine_sim DESC, vec_id LIMIT {TOPK}
    """


@_register("ann_sq8_topk", _sq8_oracle())
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN (operators/similarity.py sq8_topk): the
    8-bit rung of the quantization ladder (sign-LSH → SQ8 → PQ/IVF-PQ) —
    integer-dot candidate scoring over per-dim affine codes, exact cosine
    rerank on the top 4k candidates. Integer candidate scores make the
    WHOLE operator value-hash checkable (float-scored ANN can only gate
    its rerank). Driver row since late r6."""
    from solana_etl_spark.operators.similarity import sq8_topk

    return sq8_topk(_t(spark, sf_dir, "embeddings"))


def _rp_oracle() -> str:
    from solana_etl_spark.operators.similarity import (
        RP_OUT_DIM,
        RP_REFINE_FACTOR,
        TOPK,
    )

    sign_hash = hash32_sql(
        "CAST(i AS VARCHAR) || '|' || CAST(j AS VARCHAR)"
    )
    return f"""
    WITH {_NEMB_CTE},
    proj AS (
        -- deterministic ±1 JL matrix derived from the shared md5 hash32
        -- (same bits operators/similarity.py rp_signs computes in Python)
        SELECT vec_id,
               [list_reduce([embedding[i]::DOUBLE *
                    (CASE WHEN {sign_hash} % 2 = 0
                          THEN 1.0 ELSE -1.0 END)
                    for i in generate_series(1, len(embedding))],
                   (x, y) -> x + y)
                for j in generate_series(1, {RP_OUT_DIM})] AS p
        FROM embeddings
    ),
    q AS (SELECT vec_id AS q_id, p AS qp FROM proj ORDER BY vec_id LIMIT 1),
    scores AS (
        SELECT c.vec_id,
               ROUND(list_reduce(
                   [c.p[j] * q.qp[j]
                    for j in generate_series(1, {RP_OUT_DIM})],
                   (x, y) -> x + y), 6) AS rp_score
        FROM proj c, q WHERE c.vec_id <> q.q_id
    ),
    cand AS (
        SELECT vec_id, rp_score FROM scores
        ORDER BY rp_score DESC, vec_id LIMIT {TOPK * RP_REFINE_FACTOR}
    )
    SELECT vec_id, c.rp_score, ROUND({_NDOT_SQL}, 6) AS cosine_sim
    FROM cand c JOIN nemb a USING (vec_id),
         (SELECT vec_id AS q_id, v FROM nemb ORDER BY vec_id LIMIT 1) b
    ORDER BY cosine_sim DESC, vec_id LIMIT {TOPK}
    """


@_register("ann_rp_topk", _rp_oracle())
def ann_rp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection (Johnson-Lindenstrauss) ANN (operators/
    similarity.py rp_topk): candidates scored in an 8-dim ±1-projection
    sketch (matrix = a pure function of the cross-engine hash — never
    stored), exact cosine rerank of the top 4k. The dimensionality-
    REDUCTION rung of the compression ladder next to the precision rungs
    (sign-LSH / SQ8 / PQ)."""
    from solana_etl_spark.operators.similarity import rp_topk

    return rp_topk(_t(spark, sf_dir, "embeddings"))


@_register(
    "j11_bloom_prefilter_join",
    """
    SELECT o.o_orderstatus,
           COUNT(*) AS n_items,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem l
    JOIN (SELECT * FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_custkey <= 100) o
      ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def j11_bloom_prefilter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered fact⋈dim join (operators/sketch.py
    bloom_prefilter_join): the dim key set becomes an ~8 KB literal
    bitmap tested INSIDE the fact scan, so non-matching fact rows never
    reach the join exchange — the explicit form of AQE's runtime
    row-level filter, for the 100 TB case where the dim is selective but
    too big to broadcast. False positives are re-checked by the join, so
    the result — and the oracle, a PLAIN join — is exactly the unfiltered
    join's. fast_hash (JVM xxhash64, r9): the bloom hash is invisible in
    the result by construction (only the false-positive SET changes, and
    the join re-checks equality), so this row uses the production hash —
    the md5 form stays pinned cross-engine by dedup_bloom_probe, the row
    whose output IS the filter bits. Driver row since late r6."""
    from solana_etl_spark.operators.sketch import bloom_prefilter_join

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_custkey") <= 100)
    )
    joined = bloom_prefilter_join(
        li, o, "l_orderkey", "o_orderkey", fast_hash=True
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
    )


def _scene_cut_oracle() -> str:
    from solana_etl_spark.operators.multimodal import (
        FRAME_SIZE,
        SCENE_CUT_THRESHOLD,
    )

    return f"""
    WITH m AS (
        SELECT doc_id AS media_id, text,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    ),
    f AS (
        SELECT media_id, text, n_bytes,
               unnest(generate_series(
                   0, CAST(floor((n_bytes - 1) / {FRAME_SIZE}.0) AS BIGINT), 1
               )) AS frame_idx
        FROM m
    ),
    s AS (
        -- ASCII fixture: ord(char) == byte value, so the char fold equals
        -- the kernel's byte sum
        SELECT media_id, frame_idx,
               CAST(list_reduce(
                   [ord(substring(text,
                        CAST(frame_idx * {FRAME_SIZE} + i AS BIGINT), 1))
                    for i in generate_series(1,
                        CAST(least({FRAME_SIZE},
                             n_bytes - frame_idx * {FRAME_SIZE}) AS BIGINT))],
                   (x, y) -> x + y) AS BIGINT) AS sig
        FROM f
    ),
    d AS (
        SELECT media_id, sig,
               abs(sig - lag(sig) OVER (
                   PARTITION BY media_id ORDER BY frame_idx)) AS jump
        FROM s
    )
    SELECT media_id, COUNT(*) AS n_frames,
           CAST(SUM(CASE WHEN jump >= {SCENE_CUT_THRESHOLD} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_cuts,
           CAST(COALESCE(MAX(jump), 0) AS BIGINT) AS max_jump
    FROM d GROUP BY media_id
    """


@_register("mm_scene_cuts", _scene_cut_oracle())
def mm_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection (operators/multimodal.py scene_cut_stats): the
    video-analysis shape — per-frame signatures from an Arrow byte kernel
    (the ONLY Python stage), temporal cut logic as a relational lag
    window over 24-byte rows. Completes the video modality next to the
    frame sampler (mm_frame_sample). Driver row since late r6."""
    from solana_etl_spark.operators.multimodal import (
        documents_as_media,
        scene_cut_stats,
    )

    return scene_cut_stats(documents_as_media(_t(spark, sf_dir, "documents")))


@_register(
    "stream_reservoir_sample",
    f"""
    SELECT doc_id,
           {hash64_sql("'sample|' || CAST(doc_id AS VARCHAR)")} AS sample_rank
    FROM documents
    ORDER BY sample_rank, doc_id
    LIMIT 100
    """,
)
def stream_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deterministic sample (streaming/sample_stream.py): the
    documents table streams through as TWO micro-batches (and the second
    replays the full corpus), yet the maintained hash-rank sample equals
    the batch ORDER BY rank LIMIT n — min-n over a set is idempotent and
    order-free, which is what makes a 'reservoir' exactly maintainable
    under at-least-once streaming. Ninth stream-equals-batch gate row."""
    from solana_etl_spark.streaming.sample_stream import (
        read_sample,
        start_streaming_sample,
    )

    docs = _t(spark, sf_dir, "documents")
    return _stream_gate(
        spark,
        "sample",
        [docs.coalesce(1)] * 2,
        lambda stream, work: start_streaming_sample(
            spark,
            stream,
            state_dir=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
        ),
        lambda work: read_sample(spark, f"{work}/state"),
    )


@_register(
    "dq_drift_ks_exact",
    """
    WITH a AS (SELECT value AS v FROM events
               WHERE event_type = 'purchase' AND value IS NOT NULL),
    b AS (SELECT value AS v FROM events
          WHERE event_type = 'view' AND value IS NOT NULL),
    hist AS (
        SELECT v, SUM(ca) AS na_v, SUM(cb) AS nb_v
        FROM (
            SELECT v, 1 AS ca, 0 AS cb FROM a
            UNION ALL
            SELECT v, 0 AS ca, 1 AS cb FROM b
        ) GROUP BY v
    ),
    cums AS (
        SELECT CAST(SUM(na_v) OVER w AS BIGINT) AS cum_a,
               CAST(SUM(nb_v) OVER w AS BIGINT) AS cum_b
        FROM hist
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
    ),
    totals AS (
        SELECT CAST(SUM(na_v) AS BIGINT) AS n_a,
               CAST(SUM(nb_v) AS BIGINT) AS n_b
        FROM hist
    )
    SELECT n_a, n_b,
           -- HUGEINT-exact max, surfaced as DOUBLE (the a23 recipe): the
           -- int64 form would wrap once n_a*n_b passes 2^63
           CAST(MAX(abs(CAST(cum_a AS HUGEINT) * n_b
                        - CAST(cum_b AS HUGEINT) * n_a)) AS DOUBLE) AS ks_num,
           ROUND(CAST(MAX(abs(CAST(cum_a AS HUGEINT) * n_b
                              - CAST(cum_b AS HUGEINT) * n_a)) AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks_stat
    FROM cums, totals
    GROUP BY n_a, n_b
    """,
)
def dq_drift_ks_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS between purchase and view value distributions
    (operators/drift.py exact_ks): sup-norm ECDF gap with the numerator
    kept in cross-multiplied integers — the unbinned complement of
    dq_drift_psi's histogram metrics (which can smear a gap inside one
    bin). One distributed value-grain groupBy, then the two-phase
    range-bucketed prefix sum (operators/prefix.py) — no unpartitioned
    window anywhere, so a continuous domain whose distinct-value grain
    equals the row count still runs wide."""
    from solana_etl_spark.operators.drift import exact_ks

    e = _t(spark, sf_dir, "events")
    return exact_ks(
        e.filter(F.col("event_type") == "purchase"),
        e.filter(F.col("event_type") == "view"),
    )


@_register(
    "a23_exact_corr",
    """
    WITH s AS (
        -- scaled integers (cents): products fit int64 per row; SUMs go
        -- HUGEINT (DuckDB) / DECIMAL(38,0) (Spark) — exact on both, and
        -- Pearson corr is scale-invariant so no rescaling is needed
        SELECT l_returnflag,
               CAST(round(l_quantity * 100, 0) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS y
        FROM lineitem
    ),
    suff AS (
        SELECT l_returnflag,
               COUNT(*) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy,
               CAST(SUM(x * x) AS DOUBLE) AS sxx,
               CAST(SUM(y * y) AS DOUBLE) AS syy
        FROM s GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
                 6) AS corr_qty_price
    FROM suff
    """,
)
def a23_exact_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT sufficient statistics (the z-score
    recipe extended to covariance): values scale to integer cents, the
    five sufficient sums accumulate exactly (DECIMAL(38,0) here, HUGEINT
    in the oracle) in one map-side-combined aggregate — partition-order-
    independent, unlike a float corr() accumulator — and convert to
    double ONCE before the closed-form ratio, so both engines run the
    identical IEEE expression (corr is scale-invariant, so the cents
    scaling needs no undo). The built-in corr() exists for the 100 TB
    path but cannot be oracle-matched (float accumulation order)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity") * 100, 0).cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    d38 = "decimal(38,0)"
    suff = li.select(
        "l_returnflag", x.alias("x"), y.alias("y")
    ).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(d38)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(d38)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d38)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d38)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d38)).cast("double").alias("syy"),
    )
    n = F.col("n")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return suff.select(
        "l_returnflag", "n", F.round(corr, 6).alias("corr_qty_price")
    )


@_register(
    "a24_gini_concentration",
    """
    WITH r AS (
        SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS x,
               row_number() OVER (
                   PARTITION BY lang ORDER BY n_chars, doc_id) AS i
        FROM documents WHERE n_chars IS NOT NULL
    ),
    s AS (
        SELECT lang, COUNT(*) AS n_docs,
               CAST(SUM(x) AS BIGINT) AS total_chars,
               CAST(SUM(x) AS DOUBLE) AS sx,
               CAST(SUM(i * x) AS DOUBLE) AS six
        FROM r GROUP BY lang
    )
    SELECT lang, n_docs, total_chars,
           ROUND((2 * six - (n_docs + 1) * sx) / (n_docs * sx), 6) AS gini
    FROM s
    """,
)
def a24_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of document mass per language — the data-mix
    inequality diagnostic (is one source's token budget dominated by a
    few huge documents?): G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) over
    ascending-sorted sizes (ranks tie-broken by doc_id in the oracle; the
    Σi·x sum is invariant under any tie order, since permuting ranks
    among equal x only reshuffles i within one x factor).

    Scale shape — NO per-language rank window (the dominant language
    would sort on one reducer): sizes collapse to the (lang, size)
    distinct grain first, where a tie run of ``cnt`` docs at size ``x``
    starting after ``prev`` earlier docs contributes
    x · (cnt·prev + cnt·(cnt+1)/2) exactly. ``prev`` comes from the
    two-phase prefix sum (operators/prefix.py): per-(lang, range-bucket)
    local cumulative window + broadcast bucket offsets, buckets from one
    sampled-split pass. The triangular term keeps integer arithmetic
    (``div 2`` on whichever of cnt/cnt+1 is even) and all products cast
    to DECIMAL(38,0) BEFORE multiplying (int64 i·x would silently wrap
    where DuckDB's BIGINT errors), with ONE double conversion before the
    closed-form ratio — the a23 recipe."""
    from solana_etl_spark.operators.prefix import (
        exclusive_offsets,
        nullsafe_offsets_join,
        quantile_splits,
        range_bucket,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("n_chars").isNotNull())
    splits = quantile_splits(docs, "n_chars")
    g = (
        docs.select("lang", F.col("n_chars").cast("long").alias("x"))
        .groupBy("lang", "x")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("_bkt", range_bucket("x", splits))
    )
    offs = exclusive_offsets(g, ["cnt"], group_cols=("lang",))
    wloc = (
        Window.partitionBy("lang", "_bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d38 = "decimal(38,0)"
    # nullsafe join: a NULL lang (lang-ID failure) is a real group both
    # here and in the DuckDB oracle's GROUP BY — a USING join drops it
    ranked = nullsafe_offsets_join(
        g.withColumn("_lc", F.sum("cnt").over(wloc)), offs, ["lang", "_bkt"]
    ).withColumn("_prev", F.col("_lc") - F.col("cnt") + F.col("_off_cnt"))
    cnt_d = F.col("cnt").cast(d38)
    # Σ ranks of the tie run = cnt·prev + cnt·(cnt+1)/2; one of cnt,
    # cnt+1 is even, so the halving stays integral (no decimal division)
    tri = F.when(
        F.col("cnt") % 2 == 0,
        F.expr("cnt div 2").cast(d38) * (F.col("cnt") + 1).cast(d38),
    ).otherwise(cnt_d * F.expr("(cnt + 1) div 2").cast(d38))
    rank_sum = cnt_d * F.col("_prev").cast(d38) + tri
    x_d = F.col("x").cast(d38)
    s = ranked.groupBy("lang").agg(
        F.sum("cnt").alias("n_docs"),
        F.sum(x_d * cnt_d).cast("long").alias("total_chars"),
        F.sum(x_d * cnt_d).cast("double").alias("sx"),
        F.sum(x_d * rank_sum).cast("double").alias("six"),
    )
    gini = (2 * F.col("six") - (F.col("n_docs") + 1) * F.col("sx")) / (
        F.col("n_docs") * F.col("sx")
    )
    return s.select(
        "lang", "n_docs", "total_chars", F.round(gini, 6).alias("gini")
    )


@_register(
    "sketch_hll_distinct",
    """
    WITH h AS (
        SELECT source,
               CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT source, h % 1024 AS bucket,
               CASE WHEN h // 1024 = 0 THEN 51
                    ELSE 51 - length(bin(h // 1024)) END AS rho
        FROM h
    ),
    regs AS (
        SELECT source, bucket, MAX(rho) AS reg FROM r GROUP BY source, bucket
    ),
    agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS m_used,
               SUM(CAST(1 AS BIGINT) << CAST(51 - reg AS INT)) AS s_used
        FROM regs GROUP BY source
    ),
    est AS (
        SELECT source, m_used,
               ((0.7213 / (1 + 1.079 / 1024)) * 1024 * 1024)
               * 2251799813685248.0
               / (CAST(s_used AS DOUBLE)
                  + (1024 - m_used) * 2251799813685248.0) AS raw,
               1024 - m_used AS v
        FROM agg
    )
    SELECT source, m_used,
           ROUND(CASE WHEN raw <= 2560.0 AND v > 0
                      THEN 1024.0 * ln(1024.0 / v)
                      ELSE raw END, 4) AS hll_estimate
    FROM est
    """,
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-text estimate per source
    (operators/sketch.py hll_distinct): 1024 registers from the shared
    md5 hash — bucket = h mod m, rho via length(bin(w)) (minimal binary
    digits in BOTH engines) — so the register table and the estimate are
    bit-identical cross-engine: approximate-by-definition, never by
    race. The harmonic mean stays exact (Σ 2^(51−reg) as integers, ≤
    2^61) with ONE double division; the m·ln(m/V) small-range branch is
    the only libm call, rounded to 4. ONE map-side-combined max
    aggregate with state = sources × 1024 rows at any corpus size — the
    mergeable fixed-state sibling of a14's KMV."""
    from solana_etl_spark.operators.sketch import hll_distinct

    docs = _t(spark, sf_dir, "documents")
    return hll_distinct(docs, "text", group_cols=("source",)).orderBy(
        "source"
    )


@_register(
    "text_chunk_token_windows",
    """
    WITH d AS (
        SELECT doc_id,
               list_filter(
                   string_split_regex(lower(trim(text)), '\\s+'),
                   t -> t <> ''
               ) AS toks
        FROM documents WHERE text IS NOT NULL
    ),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
    c AS (
        SELECT doc_id, toks, n,
               unnest(generate_series(0, (n - 1) // 96)) AS chunk_id
        FROM n
    )
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(chunk_id * 96 AS BIGINT) AS start_token,
           CAST(least(128, n - chunk_id * 96) AS BIGINT) AS n_tokens,
           array_to_string(
               list_slice(toks, chunk_id * 96 + 1,
                          chunk_id * 96 + least(128, n - chunk_id * 96)),
               ' '
           ) AS chunk_text
    FROM c
    """,
)
def text_chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking (operators/text.py
    chunk_token_windows, budget 128 / overlap 32): the RAG/embedding
    ingest step, as pure sequence→explode→slice column expressions —
    zero shuffles, zero Python, so it fuses into the document scan and
    the only growth is the ~n/step row explode. Value-hash oracle:
    chunk ids, offsets and the joined chunk text are all deterministic
    integer/token arithmetic."""
    from solana_etl_spark.operators.text import chunk_token_windows

    docs = _t(spark, sf_dir, "documents")
    return chunk_token_windows(docs, budget=128, overlap=32)


@_register(
    "stream_hll_distinct",
    """
    WITH h AS (
        SELECT source,
               CAST(('0x' || substr(md5(CAST(text AS VARCHAR)), 1, 15))
                    AS BIGINT) AS h
        FROM documents WHERE text IS NOT NULL
    ),
    r AS (
        SELECT source, h % 1024 AS bucket,
               CASE WHEN h // 1024 = 0 THEN 51
                    ELSE 51 - length(bin(h // 1024)) END AS rho
        FROM h
    ),
    regs AS (
        SELECT source, bucket, MAX(rho) AS reg FROM r GROUP BY source, bucket
    ),
    agg AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS m_used,
               SUM(CAST(1 AS BIGINT) << CAST(51 - reg AS INT)) AS s_used
        FROM regs GROUP BY source
    ),
    est AS (
        SELECT source, m_used,
               ((0.7213 / (1 + 1.079 / 1024)) * 1024 * 1024)
               * 2251799813685248.0
               / (CAST(s_used AS DOUBLE)
                  + (1024 - m_used) * 2251799813685248.0) AS raw,
               1024 - m_used AS v
        FROM agg
    )
    SELECT source, m_used,
           ROUND(CASE WHEN raw <= 2560.0 AND v > 0
                      THEN 1024.0 * ln(1024.0 / v)
                      ELSE raw END, 4) AS hll_estimate
    FROM est
    """,
)
def stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL (streaming/hll_stream.py): documents stream through
    as TWO micro-batches (the second replays the full corpus), the
    maintained register state (sources × 1024 rows, merged by max) is
    scored with the shared estimator — and equals the BATCH sketch over
    the same corpus exactly, because max-merge over registers is
    idempotent and order-free. Tenth stream-equals-batch gate family;
    the oracle is the batch HLL SQL."""
    from solana_etl_spark.streaming.hll_stream import (
        hll_estimate_from_state,
        read_hll_state,
        start_streaming_hll,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return _stream_gate(
        spark,
        "hll",
        [docs.coalesce(1)] * 2,
        lambda stream, work: start_streaming_hll(
            spark,
            stream,
            state_dir=f"{work}/state",
            checkpoint_dir=f"{work}/ckpt",
            key_col="text",
            group_cols=("source",),
        ),
        lambda work: hll_estimate_from_state(
            read_hll_state(spark, f"{work}/state", group_cols=("source",)),
            group_cols=("source",),
        ).orderBy("source"),
    )


def _chi2_oracle() -> str:
    from solana_etl_spark.operators.drift import N_BINS

    b = N_BINS
    return f"""
    WITH ref AS (SELECT n_chars FROM documents
                 WHERE CAST(substr(source, 4) AS INT) % 2 = 0
                   AND n_chars IS NOT NULL),
    cur AS (SELECT n_chars FROM documents
            WHERE CAST(substr(source, 4) AS INT) % 2 = 1
              AND n_chars IS NOT NULL),
    bounds AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM ref),
    hr AS (
        SELECT greatest(0, least({b} - 1,
                   CAST(floor(((n_chars - lo) * {b}) / (hi - lo + 1))
                        AS BIGINT))) AS bin,
               COUNT(*) AS ref_cnt
        FROM ref, bounds GROUP BY 1
    ),
    hc AS (
        SELECT greatest(0, least({b} - 1,
                   CAST(floor(((n_chars - lo) * {b}) / (hi - lo + 1))
                        AS BIGINT))) AS bin,
               COUNT(*) AS cur_cnt
        FROM cur, bounds GROUP BY 1
    ),
    h AS (
        SELECT COALESCE(hr.bin, hc.bin) AS bin,
               COALESCE(ref_cnt, 0) AS ref_cnt,
               COALESCE(cur_cnt, 0) AS cur_cnt
        FROM hr FULL OUTER JOIN hc ON hr.bin = hc.bin
    ),
    t AS (SELECT SUM(ref_cnt) AS n_ref, SUM(cur_cnt) AS n_cur FROM h),
    terms AS (
        SELECT n_ref, n_cur,
               CASE WHEN (ref_cnt + cur_cnt) > 0 THEN
                   (ref_cnt - CAST(n_ref AS DOUBLE)
                              * CAST(ref_cnt + cur_cnt AS DOUBLE)
                              / CAST(n_ref + n_cur AS DOUBLE))
                   * (ref_cnt - CAST(n_ref AS DOUBLE)
                                * CAST(ref_cnt + cur_cnt AS DOUBLE)
                                / CAST(n_ref + n_cur AS DOUBLE))
                   / (CAST(n_ref AS DOUBLE)
                      * CAST(ref_cnt + cur_cnt AS DOUBLE)
                      / CAST(n_ref + n_cur AS DOUBLE))
                   + (cur_cnt - CAST(n_cur AS DOUBLE)
                                * CAST(ref_cnt + cur_cnt AS DOUBLE)
                                / CAST(n_ref + n_cur AS DOUBLE))
                   * (cur_cnt - CAST(n_cur AS DOUBLE)
                                * CAST(ref_cnt + cur_cnt AS DOUBLE)
                                / CAST(n_ref + n_cur AS DOUBLE))
                   / (CAST(n_cur AS DOUBLE)
                      * CAST(ref_cnt + cur_cnt AS DOUBLE)
                      / CAST(n_ref + n_cur AS DOUBLE))
               ELSE 0.0 END AS term,
               CASE WHEN (ref_cnt + cur_cnt) > 0 THEN 1 ELSE 0 END AS pop
        FROM h, t
    )
    SELECT 'n_chars' AS feature,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(SUM(pop) - 1 AS BIGINT) AS dof,
           ROUND(SUM(term), 6) AS chi2
    FROM terms GROUP BY n_ref, n_cur
    """


@_register("dq_drift_chi2", _chi2_oracle())
def dq_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square homogeneity drift test over the shared
    reference-defined binning (operators/drift.py chi2_report) — the
    significance-testable complement of dq_drift_psi's PSI effect size
    and the KS sup-norm, on the same odd-vs-even source slices of
    document length. Expected counts from the pooled bin distribution;
    all inputs exact integers, two bounded histogram aggregates and
    arithmetic over ≤ 16 rows."""
    from solana_etl_spark.operators.drift import chi2_report

    docs = _t(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 10).cast("int")
    return chi2_report(
        docs.filter(src_num % 2 == 0),
        docs.filter(src_num % 2 == 1),
        "n_chars",
    )


@_register(
    "a25_weighted_median",
    """
    WITH s AS (
        SELECT l_returnflag AS f,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS x,
               CAST(round(l_quantity, 0) AS BIGINT) AS w
        FROM lineitem
    ),
    g AS (SELECT f, x, CAST(SUM(w) AS BIGINT) AS w FROM s GROUP BY f, x),
    c AS (
        SELECT f, x,
               CAST(SUM(w) OVER (PARTITION BY f ORDER BY x
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
               CAST(SUM(w) OVER (PARTITION BY f) AS BIGINT) AS tot
        FROM g
    )
    SELECT f AS l_returnflag,
           CAST(MAX(tot) AS BIGINT) AS total_qty,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN x END) AS BIGINT)
               AS median_price_cents
    FROM c GROUP BY f
    """,
)
def a25_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group (lower median: the smallest value
    whose inclusive cumulative weight reaches half the total) — the
    weighted-quantile sibling of a24's Gini, on the same two-phase
    machinery: collapse to the (group, value) distinct grain, per-
    (group, range-bucket) local cumulative window + broadcast exclusive
    offsets, then one argmin over the half-total threshold. No
    unpartitioned window, no per-group single reducer, values exact
    integer cents / integer quantities throughout."""
    from solana_etl_spark.operators.prefix import (
        exclusive_offsets,
        nullsafe_offsets_join,
        quantile_splits,
        range_bucket,
    )

    li = _t(spark, sf_dir, "lineitem")
    s = li.select(
        F.col("l_returnflag").alias("f"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("x"),
        F.round(F.col("l_quantity"), 0).cast("long").alias("w"),
    )
    splits = quantile_splits(s, "x")
    g = (
        s.groupBy("f", "x")
        .agg(F.sum("w").alias("w"))
        .withColumn("_bkt", range_bucket("x", splits))
    )
    offs = exclusive_offsets(g, ["w"], group_cols=("f",))
    wloc = (
        Window.partitionBy("f", "_bkt")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = g.groupBy("f").agg(F.sum("w").alias("_tot")).select(
        F.col("f").alias("_tf"), "_tot"
    )
    cum = (
        nullsafe_offsets_join(
            g.withColumn("_lc", F.sum("w").over(wloc)), offs, ["f", "_bkt"]
        )
        .withColumn("cum", F.col("_lc") + F.col("_off_w"))
        .join(F.broadcast(tot), F.col("f").eqNullSafe(F.col("_tf")))
    )
    return cum.groupBy("f").agg(
        F.max("_tot").cast("long").alias("total_qty"),
        F.min(F.when(2 * F.col("cum") >= F.col("_tot"), F.col("x")))
        .cast("long")
        .alias("median_price_cents"),
    ).select(
        F.col("f").alias("l_returnflag"), "total_qty", "median_price_cents"
    )
