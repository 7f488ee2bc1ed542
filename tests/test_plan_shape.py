"""Plan-shape regression guards for the scale claims the docs make.

These don't check answers (the parity/oracle suites do); they check the
PHYSICAL plan properties that make the answers affordable at 100 TB, so a
refactor that silently adds a shuffle or breaks scan pruning fails CI, not
a production run.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_transactions_view_is_shuffle_free(blocks_raw):
    """The whole intra-transaction transform stage (balance zip, token
    full-outer merge, instruction assembly, account classification) must
    plan ZERO exchanges — it's all array expressions per README."""
    from solana_etl_spark.plans.views import transactions_view

    plan = _formatted(transactions_view(blocks_raw))
    assert "Exchange" not in plan


def test_transactions_task_single_small_exchange(blocks_raw):
    """The transactions task may exchange only for nothing at all — row
    building stays per-partition (errors split is a filter, not a shuffle)."""
    from solana_etl_spark.plans.tasks import transactions_task
    from solana_etl_spark.plans.views import transactions_view

    plan = _formatted(
        transactions_task(
            transactions_view(
                blocks_raw.filter(F.col("_corrupt_record").isNull())
            )
        )
    )
    assert plan.count("Exchange") == 0


def test_q6_filters_push_into_scan(spark):
    """Every q6 predicate must reach the parquet scan (PushedFilters) and
    the scan must prune to the referenced columns only."""
    from solana_etl_spark.queries import queries

    plan = _formatted(queries()["q6_forecast_revenue"](spark, "/root/testdata/sf0.001"))
    assert "PushedFilters: [" in plan
    # the filter columns appear in pushed filters, and unused wide columns don't load
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema: ", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # projection pruned


def test_text_operators_zero_exchange(spark):
    """Per-row text analysis (quality, fingerprints) must stay embarrassingly
    parallel: no exchange anywhere in the plan."""
    from solana_etl_spark.operators.text import quality_score

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert "Exchange" not in _formatted(quality_score(docs))


def test_sessionize_single_exchange(spark):
    """Gap sessionization is one shuffle on user_id — window + agg reuse the
    same partitioning."""
    from solana_etl_spark.operators.sessionize import sessionize
    from solana_etl_spark.queries import _t

    plan = _formatted(sessionize(_t(spark, "/root/testdata/sf0.001", "events")))
    # one Exchange NODE ("Exchange (id)" in the tree; the id detail section
    # repeats the word, so count node occurrences, not substring hits)
    assert plan.count("Exchange (") == 1


def test_bloom_runtime_filter_injected_on_selective_join(spark, tmp_path):
    """Spark's runtime bloom filter must fire for a selective non-broadcast
    join: the big side's scan gets a bloom_filter_agg-built semi-filter,
    cutting shuffled rows before the exchange. The size thresholds that
    gate it locally (10 GB application-side scan) are exactly what a 100 TB
    fact table clears naturally — the test pins them down to prove the
    session config doesn't disable the rewrite."""
    from pyspark.sql import functions as F

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_thr = spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    )
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        d = str(tmp_path)
        spark.range(0, 200_000).select(
            F.col("id"), (F.col("id") % 50_000).alias("k")
        ).write.mode("overwrite").parquet(d + "/big")
        spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") % 7).alias("grp")
        ).write.mode("overwrite").parquet(d + "/dim")
        big = spark.read.parquet(d + "/big")
        dim = spark.read.parquet(d + "/dim").filter(F.col("grp") == 3)
        joined = big.join(dim, "k").groupBy("grp").count()
        assert "bloom_filter_agg" in _formatted(joined)
        # and it must not change results
        assert joined.collect()[0]["count"] > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            old_thr,
        )


def test_bm25_corpus_side_never_shuffles(spark):
    """BM25's corpus work (per-doc tf/dl) must stay per-row: the only
    exchanges are the single-partition reductions of the tiny (N, avgdl,
    df) statistics aggregate and the final top-k — never a shuffle keyed
    by corpus data. Plan signature: every Exchange is SinglePartition."""
    from solana_etl_spark.operators.search import bm25_topk

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted(bm25_topk(docs, ["spark", "join"]))
    # no exchange is keyed by corpus data: the stats reduction is
    # SinglePartition (tiny), the stats join is a broadcast, the top-k is
    # TakeOrderedAndProject
    assert "hashpartitioning" not in plan.lower()
    assert "SinglePartition" in plan
    assert "TakeOrderedAndProject" in plan


def test_repetition_stats_zero_shuffle(spark):
    """The repetition histograms are per-row sorted run-length folds: no
    exchange beyond the compute-parallelism repartition (round-robin, not
    keyed)."""
    from solana_etl_spark.operators.text import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _formatted(repetition_stats(docs))
    assert plan.count("Exchange (") == 1  # the round-robin repartition
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan.lower()


def test_er_pairs_single_block_shuffle(spark):
    """ER candidate pairs shuffle ONLY on the block key (the join), and the
    edit-distance filter evaluates inside the join — no post-join exchange
    before the pair output."""
    from solana_etl_spark.operators.er import blocked_match_pairs

    cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    plan = _formatted(blocked_match_pairs(cust, "c_custkey", "c_name"))
    # levenshtein must be in the join condition or immediately post-join,
    # never driving an extra exchange
    assert "levenshtein" in plan
    # block-keyed equi-join: hash partitioning on the substring key only
    assert plan.count("Exchange (") <= 2  # one per join side


def test_q19_disjunction_pushes_quantity_range(spark):
    """Q19's cross-side OR must still push an l_quantity range into the
    lineitem scan (Catalyst factors the per-side implications out of the
    disjunction)."""
    from solana_etl_spark.queries import all_queries

    plan = _formatted(
        all_queries()["q19_disjunctive_pred"](spark, "/root/testdata/sf0.001")
    )
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_quantity" in pushed


def test_parquet_aggregate_pushdown_fires(spark):
    """COUNT(*)/MIN/MAX over a bare parquet scan must resolve from footer
    statistics (DSv2 PushedAggregation) — at 100 TB these are metadata
    reads, not scans. Guarded behind the session confs so a config change
    that silently disables the rewrite fails here."""
    old_push = spark.conf.get("spark.sql.parquet.aggregatePushdown", "false")
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.read.parquet(
            "/root/testdata/sf0.001/lineitem.parquet"
        ).createOrReplaceTempView("_li_push")
        agg = spark.sql(
            "SELECT COUNT(*) AS n, MIN(l_orderkey) AS lo,"
            " MAX(l_orderkey) AS hi FROM _li_push"
        )
        assert "PushedAggregation: [COUNT(*)" in _formatted(agg)
        row = agg.collect()[0]
        assert row["n"] > 0 and row["lo"] <= row["hi"]
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_push)
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


def test_kmeans_init_is_take_ordered_not_global_window(spark):
    """Centroid init must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a row_number window over the full
    training set (a single-partition sort at 100 TB). The one allowed
    Window ranks only the k limited rows. IVF k-means and the PQ
    codebooks are the same Lloyd trainer with one subspace or m, so both
    entry points are checked."""
    import re

    from solana_etl_spark.operators.pq import pq_codebooks
    from solana_etl_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for df in (
        kmeans_centroids(emb, iters=0),
        pq_codebooks(emb, iters=0),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrdered" in plan
        # any Window must sit ABOVE the TakeOrdered (ranking the k rows),
        # never below it (ranking the corpus)
        win = plan.find("Window")
        take = plan.find("TakeOrdered")
        assert len(re.findall(r"\bWindow\b", plan)) <= 1
        if win != -1:
            assert win < take  # physical plans print top-down


def test_kmeans_training_is_bounded_by_default(spark):
    """The default training path must include the bounded-training
    predicate (sample_bucket < ceil-div cap) so a 100 TB corpus never does
    corpus-scale Lloyd work; at fixture scale the predicate is pass-all so
    centroids are unchanged vs full training."""
    from solana_etl_spark.operators.similarity import kmeans_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    capped = {
        (r.cid, tuple(r.cvec)) for r in kmeans_centroids(emb).collect()
    }
    full = {
        (r.cid, tuple(r.cvec))
        for r in kmeans_centroids(emb, train_cap=None).collect()
    }
    assert capped == full
    # a cap below the corpus size genuinely shrinks the training set
    small = kmeans_centroids(emb, train_cap=100).collect()
    assert len(small) > 0 and {r.cid for r in small} == set(range(len(small)))


def test_cluster_path_star_edges_no_pair_expansion(spark):
    """The cluster family's CC input must be the per-bucket STAR edge list
    (linear in band rows), never the quadratic all-pairs bucket expansion:
    no posting-list collect_list, no posexplode pair expansion anywhere in
    the edge plan. And the star graph must span EXACTLY the components the
    pair graph spans (bucket co-membership is an equivalence generator)."""
    from solana_etl_spark.operators.dedup import (
        connected_components,
        keepers_by_quality,
        lsh_star_edges,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    edge_plan = _formatted(lsh_star_edges(docs))
    assert "collect_list" not in edge_plan
    assert "posexplode" not in edge_plan
    keeper_plan = _formatted(keepers_by_quality(docs))
    assert "collect_list" not in keeper_plan
    assert "posexplode" not in keeper_plan

    star = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(lsh_star_edges(docs)).collect()
    }
    pairs = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(minhash_lsh_pairs(docs)).collect()
    }
    assert len(star) > 0
    assert star == pairs


def test_a22_grouping_sets_single_exchange(spark):
    """Three grouping sets must expand map-side into ONE exchange — not
    plan three group-bys + union (three scans, three shuffles)."""
    from solana_etl_spark.queries import all_queries

    plan = _formatted(
        all_queries()["a22_grouping_sets"](spark, "/root/testdata/sf0.001")
    )
    # "Exchange (n)" counts tree nodes once (the detail section repeats
    # each node as "(n) Exchange")
    assert plan.count("Exchange (") == 1
    assert "Expand" in plan  # the map-side set expansion


def test_rolling_stats_single_window_pass(spark):
    """All five rolling aggregates share one window spec: exactly one
    exchange (partition by key) and one in-partition sort."""
    from solana_etl_spark.queries import all_queries

    plan = _formatted(
        all_queries()["ts_rolling"](spark, "/root/testdata/sf0.001")
    )
    assert plan.count("Exchange (") == 1
    assert plan.count("Window (") == 1


def test_sq8_and_rp_topk_cuts_are_take_ordered(spark):
    """Both ANN candidate cuts and final top-ks must plan as
    TakeOrderedAndProject (streaming top-k) — never a global sort
    materialization or a single-partition row_number window. The PQ
    searches pick their query the same way (TakeOrdered, then split into
    subspaces), never by ranking the whole subvector stream: no
    WindowGroupLimit, and every Window ranks only the k rows of a
    centroid-init TakeOrdered."""
    import re

    from solana_etl_spark.operators.pq import PQ_K
    from solana_etl_spark.operators.similarity import IVF_K
    from solana_etl_spark.queries import all_queries

    for name in ("ann_sq8_topk", "ann_rp_topk"):
        plan = _formatted(
            all_queries()[name](spark, "/root/testdata/sf0.001")
        )
        assert "TakeOrderedAndProject" in plan, name
        assert "Window" not in plan, name

    for name in ("ann_pq_adc_topk", "ann_ivfpq_topk"):
        df = all_queries()[name](spark, "/root/testdata/sf0.001")
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        top = lines[1] if lines[0].startswith("AdaptiveSparkPlan") else lines[0]
        assert "TakeOrderedAndProject" in top, name  # the top-k cut
        assert not any("WindowGroupLimit" in line for line in lines), name
        windows = [i for i, line in enumerate(lines) if re.search(r"\bWindow\b", line)]
        assert windows, name
        for i in windows:
            init = re.search(r"TakeOrderedAndProject\(limit=(\d+)", lines[i + 1])
            assert init and int(init.group(1)) in (IVF_K, PQ_K), (name, lines[i])


def test_bloom_prefilter_runs_below_the_join(spark):
    """The bloom membership test must sit on the FACT side beneath the
    join (pruning rows before the join pays for them), not above it."""
    from pyspark.sql import functions as F

    from solana_etl_spark.operators.sketch import bloom_prefilter_join

    fact = spark.range(0, 1000).select(F.col("id").alias("fk"))
    dim = spark.range(0, 10).select(F.col("id").alias("dk"))
    out = bloom_prefilter_join(fact, dim, "fk", "dk")
    logical = out._jdf.queryExecution().optimizedPlan().toString()
    join_at = logical.index("Join")
    bloom_at = logical.index("shiftleft")
    assert join_at < bloom_at  # filter expression is INSIDE the join subtree


def _unpartitioned_window_specs(plan: str) -> list[str]:
    """Window specs whose FIRST argument is already the sort column —
    i.e. no partition columns before it — in formatted-plan text:
    ``windowspecdefinition(v#1L ASC ...`` vs the partitioned
    ``windowspecdefinition(_bkt#5, v#1L ASC ...``."""
    import re

    return re.findall(r"windowspecdefinition\(\S+ (?:ASC|DESC)", plan)


def test_exact_ks_and_gini_windows_are_partitioned(spark):
    """The exact-KS and exact-Gini prefix sums must run as the two-phase
    range-bucketed form (operators/prefix.py): every window in either
    plan carries a partition spec — an unpartitioned ``orderBy`` window
    would funnel the whole distinct-value grain through ONE task, the
    r6-flagged single-reducer scale-killer."""
    from solana_etl_spark.queries import all_queries

    for name in ("dq_drift_ks_exact", "a24_gini_concentration"):
        plan = _formatted(
            all_queries()[name](spark, "/root/testdata/sf0.001")
        )
        assert "windowspecdefinition" in plan, name
        assert not _unpartitioned_window_specs(plan), name
        assert "_bkt" in plan, name


def test_ntile_family_windows_are_partitioned(spark):
    """st_rfm's three quartile ranks and s4_quantile_bins' binning must
    plan as two-phase row_numbers (bucket-partitioned windows + the
    closed-form ntile reconstruction) — the r7 fix for the corpus-grain
    unpartitioned NTILE windows. q15's rank-of-max is window-free."""
    from solana_etl_spark.queries import all_queries

    qs = all_queries()
    for name in ("st_rfm", "s4_quantile_bins"):
        plan = _formatted(qs[name](spark, "/root/testdata/sf0.001"))
        assert not _unpartitioned_window_specs(plan), name
        assert "_bkt" in plan, name
    q15 = _formatted(qs["q15_top_supplier"](spark, "/root/testdata/sf0.001"))
    assert "Window" not in q15


def test_pretrain_pack_window_is_bucket_partitioned(spark):
    """The capstone's pack window must run as the two-phase form: its
    window spec carries the range-bucket column next to the language
    partition, so the dominant language never serializes through one
    reducer; and no window in the plan is unpartitioned."""
    from solana_etl_spark.queries import all_queries

    plan = _formatted(
        all_queries()["pipeline_pretrain_e2e"](
            spark, "/root/testdata/sf0.001"
        )
    )
    assert not _unpartitioned_window_specs(plan)
    assert "_bkt" in plan


def test_weighted_median_windows_are_partitioned(spark):
    """a25's per-group cumulative weights must run two-phase — no
    unpartitioned window, and no single-reducer-per-group global sort."""
    from solana_etl_spark.queries import all_queries

    plan = _formatted(
        all_queries()["a25_weighted_median"](spark, "/root/testdata/sf0.001")
    )
    assert not _unpartitioned_window_specs(plan)
    assert "_bkt" in plan
