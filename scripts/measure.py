"""Per-query measurement harness for optimization work.

Two modes; ``label`` names the measurement (e.g. the round) and goes into
the output directory and the Spark job descriptions:
  python scripts/measure.py plans <label> [suffix] [name ...]
      Capture .explain("formatted") for the headline queries into
      plans/<label>/<name>_<suffix>.txt  (suffix default: before).
      The checkout path is written as ``<repo>`` (generated corpora such
      as .e2e_corpus/ live under the checkout), so plans of two checkouts
      compare equal once expression and plan ids are masked
      (sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g').
  python scripts/measure.py time <label> [n_reps] [name ...]
      Time each query in isolation with the noop sink (computes every
      column, discards output) and with .count() (the bench statistic),
      printing one JSON line per query.
  python scripts/measure.py headline [label]
      bench.py's judged section alone: the same warm-up, the 26
      bench.HEADLINE queries and the two e2e workloads, each the best of
      2 .count() runs, WITHOUT the scaling decades (~3 minutes instead of
      ~35). Prints one JSON line {"label", "comparable", "queries",
      "failed"}; "comparable" sums the same rows as bench.py's judged
      total. A row that fails is timed -1, left out of the total, and
      named in "failed" and on stderr with its error.

Queries default to bench.HEADLINE; data comes from $SPARK_GRAFT_SF_DIR
(same default as bench.py). bench.py does not use this script; its own
timing loop stays the judged statistic.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from solana_etl_spark.session import get_spark  # noqa: E402
from solana_etl_spark import queries as _q  # noqa: E402
from bench import HEADLINE  # noqa: E402


# the e2e rows bench.py adds after round 1 and keeps out of its judged total
R2_ADDED = {"solana_e2e", "solana_e2e_corpus_all_tasks"}


def _warm_up(spark, sf_dir: str) -> None:
    """bench.py's warm-up: scan the big tables once, start a Python worker."""
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(0, 64, 1, 32).mapInPandas(
        lambda it: (pdf for pdf in it), "id long"
    ).count()


def _best_of_2(run) -> float:
    best = -1.0
    for _ in range(2):
        t0 = time.time()
        run()
        dt = round(time.time() - t0, 3)
        best = dt if best < 0 else min(best, dt)
    return best


def _headline(spark, sf_dir: str, label: str, qs) -> None:
    from solana_etl_spark.plans.tasks import (
        run_all_tasks,
        run_all_tasks_with_handle,
    )
    from solana_etl_spark.sources import read_blocks
    from solana_etl_spark.sources.synth import ensure_e2e_corpus

    def count_all(outs) -> None:
        for df in outs.values():
            df.count()

    def fixture_blocks() -> None:
        count_all(run_all_tasks(read_blocks(
            spark, "/root/reference/test/resources/blocks/*/*.json.gz"
        )))

    def corpus_blocks() -> None:
        outs, persisted = run_all_tasks_with_handle(
            read_blocks(spark, f"{ensure_e2e_corpus()}/*/*.json.gz")
        )
        count_all(outs)
        if persisted is not None:
            persisted.unpersist()

    rows = {
        name: (lambda n=name: qs[n](spark, sf_dir).count()) for name in HEADLINE
    }
    rows["solana_e2e_2blocks"] = fixture_blocks
    rows["solana_e2e_corpus_all_tasks"] = corpus_blocks
    _warm_up(spark, sf_dir)
    timings: dict[str, float] = {}
    failed: dict[str, str] = {}
    for name, run in rows.items():
        spark.sparkContext.setJobDescription(f"{label}:{name}")
        try:
            timings[name] = _best_of_2(run)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            failed[name] = f"{type(e).__name__}: {e}"[:200]
            print(f"headline: {name} failed: {failed[name]}", file=sys.stderr)
            traceback.print_exc()
    comparable = round(
        sum(v for k, v in timings.items() if v > 0 and k not in R2_ADDED), 3
    )
    print(json.dumps({"label": label, "comparable": comparable,
                      "queries": timings, "failed": sorted(failed)},
                     separators=(",", ":")))


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else None
    if mode == "headline":
        label = sys.argv[2] if len(sys.argv) > 2 else "headline"
    elif mode in ("plans", "time") and len(sys.argv) > 2:
        label = sys.argv[2]
    else:
        sys.exit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"measure-{label}-{mode}")
    spark.sparkContext.setLogLevel("ERROR")
    qs = _q.all_queries()

    if mode == "plans":
        suffix = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4:] or HEADLINE
        outdir = os.path.join(ROOT, "plans", label)
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            try:
                df = qs[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                ).replace(ROOT, "<repo>")
            except Exception as e:  # noqa: BLE001
                plan = f"ERROR building {name}: {e}"
            with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
                f.write(plan)
            print(f"wrote {name}_{suffix}.txt ({len(plan)} chars)")
    elif mode == "headline":
        _headline(spark, sf_dir, label, qs)
    else:
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        names = sys.argv[4:] or HEADLINE
        _warm_up(spark, sf_dir)
        results = {}
        for name in names:
            spark.sparkContext.setJobDescription(f"{label}-measure:{name}")
            reps_noop, reps_count = [], []
            try:
                for _ in range(n):
                    t0 = time.time()
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    reps_noop.append(round(time.time() - t0, 3))
                for _ in range(n):
                    t0 = time.time()
                    qs[name](spark, sf_dir).count()
                    reps_count.append(round(time.time() - t0, 3))
            except Exception as e:  # noqa: BLE001
                results[name] = {"error": str(e)[:200]}
                print(json.dumps({name: results[name]}))
                continue
            results[name] = {"noop": reps_noop, "count": reps_count}
            print(json.dumps({name: results[name]}))
        print(json.dumps({"ALL": results}))
    spark.stop()


if __name__ == "__main__":
    main()
