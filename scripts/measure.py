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

Queries default to bench.HEADLINE; data comes from $SPARK_GRAFT_SF_DIR
(same default as bench.py). bench.py does not use this script; its own
timing loop stays the judged statistic.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from solana_etl_spark.session import get_spark  # noqa: E402
from solana_etl_spark import queries as _q  # noqa: E402
from bench import HEADLINE  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3 or sys.argv[1] not in ("plans", "time"):
        sys.exit(__doc__)
    mode, label = sys.argv[1], sys.argv[2]
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
    else:
        n = int(sys.argv[3]) if len(sys.argv) > 3 else 3
        names = sys.argv[4:] or HEADLINE
        # same warm-up as bench.py
        for t in ("lineitem", "orders", "events", "documents", "embeddings"):
            spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
        spark.range(0, 64, 1, 32).mapInPandas(
            lambda it: (pdf for pdf in it), "id long"
        ).count()
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
