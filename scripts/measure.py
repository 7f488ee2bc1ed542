"""The measurement CLI: formatted plans, the registry's plan audit,
per-query timings, bench.py's judged section, measured shuffle volume and
per-item codec cost. ``label`` names a measurement (e.g. the round); it goes
into the plans/ directory and the Spark job descriptions.

  measure.py plans <label> [suffix] [name ...]
      Formatted plans into plans/<label>/<name>_<suffix>.txt (suffix
      default: before) with the checkout path as ``<repo>``; two checkouts
      compare equal after sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g'.
  measure.py audit [sf_dir] > PLANS.md
      Plan signals of every registry query (sf_dir default: sf0.01) with
      AQE off, so codegen ids are assigned; flags cartesian products and
      unexpected nested-loop joins.
  measure.py time <label> [n_reps] [name ...]
      Best of n_reps (default 3) with the noop sink (computes every column)
      and with .count() (the bench statistic); one JSON line per query.
  measure.py headline [label]
      bench.py's judged section without its scaling decades (~3 min): the
      same warm-up, bench.HEADLINE and the two e2e rows, best of 2 .count()
      each. One JSON line; "comparable" sums the rows bench.py's judged
      total sums, and a failed row is timed -1 and named in "failed".
  measure.py shuffle > SHUFFLE.md
      Shuffle-write bytes per query at sf0.01 and sf0.1, and the
      shuffle growth for 10x input (~5 min).
  measure.py codecs [jpeg|png|flac|wav|all] [n_items]
      Per-item decode time and a cProfile of the vendored codecs over the
      default synthetic image and audio tables. Starts no Spark.

Queries default to bench.HEADLINE, data to $SPARK_GRAFT_SF_DIR (bench.py's
default; sf0.01 and sf0.1 sit beside it). Every Spark mode runs its rows
through one loop that sets the job description ``<label>:<name>`` and names
a failing row on stderr. bench.py does not use this script.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DATA_DIR = os.path.dirname(SF_DIR.rstrip("/"))
SFS = (os.path.join(DATA_DIR, "sf0.01"), os.path.join(DATA_DIR, "sf0.1"))

# the e2e rows bench.py adds after round 1 and keeps out of its judged total
R2_ADDED = {"solana_e2e", "solana_e2e_corpus_all_tasks"}

# Nested-loop joins the audit expects, each an intentional constant-sized
# side broadcast into an embarrassingly parallel scan — the plan you'd want.
BNLJ_EXPECTED = {
    "sim_cosine_topk": "1-row query vector",
    "lm_perplexity_score": "1-row vocab stats",
    "q11_important_parts": "1-row global-scalar subquery result",
    "q22_idle_customers": "1-row global-scalar subquery result",
    "text_bm25_topk": "1-row (N, avgdl, df) statistics",
    "hybrid_rrf_fusion": "composes bm25 + cosine",
    "cluster_balanced_sample": "composes the IVF centroid broadcasts",
    "graph_triangles": "1-row (n_nodes, n_edges) stats",
    "dq_drift_psi": "1-row bounds + 1-row totals broadcasts",
    "dq_drift_chi2": "1-row bounds, totals and stats broadcasts (psi's shape)",
    "decontam_semantic": "bounded eval-set broadcast x corpus scan",
    "dsir_importance_weights": "1-row vocab-stats/OOV scalars for both LMs",
    "pipeline_cluster_pack": "k-row IVF centroids feeding the pack window",
    "s9_categorical_draws": "1-row total weight onto the item and draw sides",
    "text_collocations": "1-row (b_total, n_total) scalar into the PMI ratio",
    "lm_bigram_score": "1-row vocab size into the add-one denominator",
    "dq_semantic_outliers": "k-row IVF centroids (ann_ivf_assign's plan)",
    "st_rfm": "1-row clock + count; rank offsets' <= n_buckets self-joins",
    "s4_quantile_bins": "two-phase row_number offsets + 1-row count",
    "a24_gini_concentration": "offset self-join bounded at langs x n_buckets",
    "dq_impute_median": "1-row global-median fallback",
    "dq_drift_ks_exact": "1-row (n_a, n_b) totals onto the histogram",
}
# the IVF / ANN families: k-row (k=8) centroid tables broadcast per round
BNLJ_EXPECTED_PREFIXES = ("ann_", "hybrid_search")

# pair-emitting queries: their RESULT is the near-dup pair set, which on the
# dup-heavy synthetic corpus legitimately grows faster than the input
# (containment rides ngram_jaccard's pair x shared-gram stream)
PAIR_EMITTERS = {
    "dedup_minhash_lsh_pairs", "dedup_simhash_pairs", "dedup_ngram_jaccard",
    "sim_neardup_pairs", "dedup_containment_pairs", "dedup_lsh_jaccard",
}

# shuffle-bearing registry queries beyond bench.HEADLINE, measured for the
# same 10x-growth evidence. Not here: rows over the fixed-size synthetic
# image and audio tables (mm_phash_dedup, the audio rows) read the same input
# at every sf, and their ~1x growth would read as linear-scaling evidence.
EXTRA = [
    # the fine-tuning / selection family
    "sft_loss_masks", "pipeline_sft_e2e", "pipeline_dpo_e2e",
    "pipeline_cluster_pack", "pref_pairs_quality", "pref_best_of_n",
    "ann_hard_negatives", "ann_hard_negatives_bucketed", "ann_maxsim_topk",
    "dsir_importance_weights", "text_char_entropy", "text_collocations",
    "lm_perplexity_score", "lm_bigram_score", "dedup_cdc_chunks",
    "corpus_overlap_matrix", "s9_categorical_draws", "s8_cluster_safe_split",
    # round 4: sharded packing, LSH-verified Jaccard, span dedup
    "pack_sharded_sequences", "sft_pack_sharded", "dedup_lsh_jaccard",
    "dedup_exact_spans", "dedup_containment_pairs", "text_strip_dup_spans",
    # round 5: unigram-LM and WordPiece tokenizer families
    "text_unigram_vocab", "text_unigram_encode", "pipeline_unigram_pack",
    "text_wordpiece_encode", "pipeline_wordpiece_pack",
    # round 6: bitext margin mining, bloom membership
    "mine_bitext_margin", "dedup_bloom_probe",
]


def _each(spark, label: str, rows: dict):
    """The one query loop: run each ``rows[name]()`` under the job description
    ``label:name`` and yield ``(name, result, error)``. A row that raises
    yields its exception, named on stderr with its traceback."""
    for name, run in rows.items():
        spark.sparkContext.setJobDescription(f"{label}:{name}")
        try:
            out, err = run(), None
        except Exception as e:  # noqa: BLE001
            out, err = None, e
            print(f"{label}: {name} failed: {type(e).__name__}: {e}"[:300],
                  file=sys.stderr)
            traceback.print_exc()
        yield name, out, err


def _plan(df) -> str:
    """The formatted physical plan, as ``df.explain("formatted")`` prints it."""
    jvm = df._sc._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def _best_of(n: int, run) -> float:
    """Wall seconds of the fastest of ``n`` calls of ``run``."""
    best = -1.0
    for _ in range(n):
        t0 = time.time()
        run()
        dt = round(time.time() - t0, 3)
        best = dt if best < 0 else min(best, dt)
    return best


def _warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up: scan the big tables once, start a Python worker."""
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()


def _plans(spark, qs, label: str, args: list[str]) -> None:
    suffix = args[0] if args else "before"
    names = args[1:] or _headline_names()
    outdir = os.path.join(ROOT, "plans", label)
    os.makedirs(outdir, exist_ok=True)
    rows = {n: (lambda n=n: _plan(qs[n](spark, SF_DIR))) for n in names}
    for name, plan, err in _each(spark, label, rows):
        plan = f"ERROR building {name}: {err}" if err else plan.replace(ROOT, "<repo>")
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")


def _signals(plan: str) -> dict:
    """The audit's plan signals of one formatted plan."""
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^\n]*)", plan)
    return {
        "exchanges": plan.count("Exchange"),
        "broadcasts": plan.count("BroadcastExchange"),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "codegen": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "pushed_filters": [p for p in pushed if p],
        "read_cols": [len(s.split(",")) for s in read_schemas],
    }


PLANS_HEAD = """# PLANS — physical-plan audit of the query registry (driver + local)

Generated by scripts/measure.py audit over {sf_dir}. Signals:
exchanges (shuffles+broadcasts), join strategies, codegen spans,
parquet ReadSchema width (column pruning), pushed filters.

The audit session sets spark.sql.adaptive.enabled=false so codegen
ids are assigned in the formatted plan (AQE defers them); every
other signal matches the AQE-on production plan shape.

Iterative queries (dedup_clusters) execute their Lloyd/propagation
rounds eagerly inside the builder; the audited plan is the final
localCheckpoint scan, so their per-round shuffles (join + min-agg
per round, see operators/dedup.py) don't appear in this table.

The stream_* gate queries run REAL Structured-Streaming jobs
inside their builders (minutes of micro-batches) purely to produce
the final state-dir scan; the audit skips executing them — their
plan shape is the trivial snapshot read, and the streaming shuffle
behavior is audited where it lives (streaming/*.py + the gate).

| query | exchanges | bcast | BHJ | SMJ | BNLJ/cart | codegen | read cols | pushed filters |
|---|---|---|---|---|---|---|---|---|"""


def _audit(spark, qs, args: list[str]) -> None:
    sf_dir = args[0] if args else SFS[0]
    # AQE off FOR THE AUDIT ONLY (see PLANS_HEAD); production keeps it on
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    rows = {
        n: (lambda n=n: _signals(_plan(qs[n](spark, sf_dir))))
        for n in qs
        if not n.startswith("stream_")
    }
    print(PLANS_HEAD.format(sf_dir=sf_dir))
    audited = {name: (a, err) for name, a, err in _each(spark, "audit", rows)}
    flags = []
    for name in qs:
        if name not in audited:
            print(f"| {name} | skipped: real streaming run | | | | | | | |")
            continue
        a, err = audited[name]
        if err:
            print(f"| {name} | ERROR: {str(err)[:60]} | | | | | | | |")
            continue
        print(
            f"| {name} | {a['exchanges']} | {a['broadcasts']} | {a['bhj']} "
            f"| {a['smj']} | {a['bnlj'] + a['cartesian']} | {a['codegen']} "
            f"| {a['read_cols']} | {('; '.join(a['pushed_filters']))[:60]} |"
        )
        if a["cartesian"]:
            flags.append(f"- **{name}**: CartesianProduct in plan")
        if a["bnlj"] and not (
            name in BNLJ_EXPECTED or name.startswith(BNLJ_EXPECTED_PREFIXES)
        ):
            flags.append(f"- **{name}**: {a['bnlj']} BroadcastNestedLoopJoins")
    print()
    print("## Flags\n" + "\n".join(flags) if flags else
          "No cartesian products; no unexpected nested-loop joins.")


def _time(spark, qs, label: str, args: list[str]) -> None:
    reps = int(args[0]) if args else 3
    names = args[1:] or _headline_names()
    _warm_up(spark, SF_DIR)

    def run(name: str) -> dict:
        def noop() -> None:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

        count = lambda: qs[name](spark, SF_DIR).count()  # noqa: E731
        return {"noop": _best_of(reps, noop), "count": _best_of(reps, count)}

    results = {}
    for name, r, err in _each(spark, label, {n: (lambda n=n: run(n)) for n in names}):
        results[name] = {"error": str(err)[:200]} if err else r
        print(json.dumps({name: results[name]}))
    print(json.dumps({"ALL": results}))


def _headline(spark, qs, label: str) -> None:
    from solana_etl_spark.plans.tasks import run_all_tasks_with_handle
    from solana_etl_spark.sources import read_blocks
    from solana_etl_spark.sources.synth import ensure_e2e_corpus

    def all_tasks(glob: str) -> None:
        """Count every task output, then release the persisted view so the
        next rep recomputes it (bench.py's e2e rows)."""
        outs, persisted = run_all_tasks_with_handle(read_blocks(spark, glob))
        for df in outs.values():
            df.count()
        persisted.unpersist()

    rows = {
        name: (lambda n=name: _best_of(2, lambda: qs[n](spark, SF_DIR).count()))
        for name in _headline_names()
    }
    rows["solana_e2e_2blocks"] = lambda: _best_of(2, lambda: all_tasks(
        "/root/reference/test/resources/blocks/*/*.json.gz"))
    rows["solana_e2e_corpus_all_tasks"] = lambda: _best_of(2, lambda: all_tasks(
        f"{ensure_e2e_corpus()}/*/*.json.gz"))
    _warm_up(spark, SF_DIR)
    timings = {name: -1.0 if err else dt for name, dt, err in _each(spark, label, rows)}
    failed = [name for name, dt in timings.items() if dt < 0]
    comparable = round(
        sum(v for k, v in timings.items() if v > 0 and k not in R2_ADDED), 3
    )
    print(json.dumps({"label": label, "comparable": comparable,
                      "queries": timings, "failed": sorted(failed)},
                     separators=(",", ":")))


def _stage_totals(spark, after: int) -> tuple[int, int]:
    """(newest stage id, shuffle-write bytes) of the completed stages newer
    than stage ``after``, from the in-process status store (no
    UI needed). The listener bus is drained first, so no stage of the last
    action is missed here and charged to the next one."""
    from py4j.java_collections import ListConverter

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)
    gw = sc._gateway
    empty = ListConverter().convert([], gw._gateway_client)
    stages = jsc.statusStore().stageList(
        empty, False, False, gw.new_array(sc._jvm.double, 0), empty
    )
    newest, shuffle = after, 0
    for i in range(stages.size()):
        st = stages.apply(i)
        if st.stageId() <= after:
            continue
        newest = max(newest, st.stageId())
        if st.status().toString() == "COMPLETE":
            shuffle += st.shuffleWriteBytes()
    return newest, shuffle


SHUFFLE_HEAD = """# SHUFFLE — measured shuffle-volume audit of the headline queries

Generated by scripts/measure.py shuffle: the shuffle-write bytes of
the stages each query completed, read in-process from the Spark
status store after one execution per query at sf0.01 and sf0.1.
`xN` = shuffle-bytes growth for 10x more input — ~10x is linear data
movement; pair-emitting dedup queries (marked *) legitimately exceed
it on the dup-heavy synthetic corpus because their OUTPUT (the
near-dup pair set) is the quadratic object.

| query | shuffle MB @sf0.01 | shuffle MB @sf0.1 | growth |
|---|---|---|---|"""


def _shuffle(spark, qs) -> None:
    names = [n for n in _headline_names() + EXTRA if n in qs]
    mark = _stage_totals(spark, -1)[0]
    results: dict[str, dict[str, int]] = {}
    for sf_dir in SFS:
        rows = {n: (lambda n=n: qs[n](spark, sf_dir).count()) for n in names}
        for name, _, err in _each(spark, "shuffle", rows):
            mark, shuffle = _stage_totals(spark, mark)
            if not err:
                results.setdefault(name, {})[sf_dir] = shuffle

    print(SHUFFLE_HEAD)
    flagged = []
    mb = 1024 * 1024
    for name in names:
        if len(results.get(name, {})) != 2:
            continue
        s_small, s_big = (results[name][sf] for sf in SFS)
        growth = (s_big / s_small) if s_small > 0 else float("nan")
        print(
            f"| {name}{'*' if name in PAIR_EMITTERS else ''} "
            f"| {s_small / mb:.2f} | {s_big / mb:.2f} "
            f"| {f'x{growth:.1f}' if s_small > 0 else '(no shuffle)'} |"
        )
        if growth > 15 and name not in PAIR_EMITTERS:
            flagged.append(f"- **{name}**: x{growth:.1f}")
    print()
    print("## Flags (shuffle growth > 15x for 10x input, not pair-emitting)\n"
          + "\n".join(flagged) if flagged else
          "No non-pair-emitting query moves super-linear shuffle volume.")


def _codecs(args: list[str]) -> None:
    import cProfile
    import io
    import pstats

    import pyarrow.parquet as pq

    from solana_etl_spark.functions import flac, jpeg, png, wav
    from solana_etl_spark.sources import synth

    which = args[0] if args else "all"
    n = int(args[1]) if len(args) > 1 else 200
    codecs = {  # name: (table, signature, decode one payload)
        "jpeg": (synth.ensure_images_table, b"\xff\xd8",
                 lambda b: jpeg.open(io.BytesIO(b)).tobytes()),
        "png": (synth.ensure_images_table, b"\x89PNG",
                lambda b: png.open(io.BytesIO(b)).tobytes()),
        "flac": (synth.ensure_audio_table, b"fLaC", flac.decode),
        "wav": (synth.ensure_audio_table, b"RIFF", wav.decode),
    }
    if which != "all" and which not in codecs:
        sys.exit(__doc__)
    for name, (ensure, sig, decode) in codecs.items():
        if which not in ("all", name):
            continue
        pays = pq.read_table(ensure(), columns=["payload"]).column("payload").to_pylist()
        items = [p for p in pays if p.startswith(sig)][:n]
        t0 = time.perf_counter()
        for it in items:
            decode(it)
        dt = time.perf_counter() - t0
        print(f"{name}: {len(items)} items in {dt:.3f}s = "
              f"{dt / len(items) * 1000:.3f} ms/item")
        pr = cProfile.Profile()
        pr.runcall(lambda: [decode(it) for it in items])
        out = io.StringIO()
        pstats.Stats(pr, stream=out).sort_stats("cumulative").print_stats(18)
        print("\n".join(out.getvalue().splitlines()[:26]))


def _headline_names() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE)


def main() -> None:
    mode, args = (sys.argv[1], sys.argv[2:]) if len(sys.argv) > 1 else (None, [])
    if mode == "codecs":
        _codecs(args)
        return
    if mode in ("plans", "time") and args:
        label, args = args[0], args[1:]
    elif mode == "headline":
        label = args[0] if args else "headline"
    elif mode in ("audit", "shuffle"):
        label = mode
    else:
        sys.exit(__doc__)

    from solana_etl_spark import queries as _q
    from solana_etl_spark.session import get_spark

    spark = get_spark(app_name=f"measure-{label}-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = _q.all_queries()
    {
        "plans": lambda: _plans(spark, qs, label, args),
        "audit": lambda: _audit(spark, qs, args),
        "time": lambda: _time(spark, qs, label, args),
        "headline": lambda: _headline(spark, qs, label),
        "shuffle": lambda: _shuffle(spark, qs),
    }[mode]()
    spark.stop()


if __name__ == "__main__":
    main()
