#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload solana_load --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from the seed, starts Spark on
``local[<cores>]``, runs the workload's warm-up operations (charged to
``setup_s``), repeats the operation for ``--seconds`` seconds (and at least
the workload's minimum number of operations) as a single closed-loop
client, checks every output, and prints a report followed by
one JSON line. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
alternates untraced and traced operations over the window, writes the
spans under ``.perfbench/traces/`` and reports the per-layer metrics.
NOTES.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

from tracing import tree_cpu_s

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")

# below physical RAM with room for the Python workers; get_spark's 16g
# default is above this class of machine's memory
DRIVER_MEMORY = "3g"
# spans that own a Spark job group, and the status-store figures reported
# for each (see NOTES.md for which end-to-end metric each should move)
JOB_SPANS = (
    "sources.scan", "plans.view", "sinks.write", "corpus.build", "operators.text.filter",
    "operators.dedup.exact", "operators.dedup.near", "operators.multimodal.dhash", "streaming.run",
)
JOB_FIELDS = {
    "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s", "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes", "stages": "count", "tasks": "count",
    "core_busy_ratio": "ratio",
}
SPAN_SECONDS = {
    "sources.list_s": "sources.list", "sources.scan_s": "sources.scan", "plans.build_s": "plans.build",
    "plans.view_s": "plans.view", "corpus.build_s": "corpus.build",
    "operators.text.filter_s": "operators.text.filter", "operators.dedup.exact_s": "operators.dedup.exact",
    "operators.dedup.near_s": "operators.dedup.near",
    **{f"sinks.write_s.{t}": f"sinks.write.{t}" for t in ("transactions", "transfers", "blocks", "errors")},
}
PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.peak_rss_mb": "MiB",
    "sources.list_s": "s", "sources.scan_s": "s", "sources.files_in": "count", "sources.bytes_in": "bytes",
    "plans.build_s": "s", "plans.py4j_calls": "count", "plans.analysis_ms": "ms",
    "plans.optimization_ms": "ms", "plans.planning_ms": "ms", "plans.view_s": "s",
    "sinks.write_s": "s", **{f"sinks.write_s.{t}": "s" for t in ("transactions", "transfers", "blocks", "errors")},
    "sinks.files_out": "count", "sinks.bytes_out": "bytes", "sinks.bytes_out_per_byte_in": "ratio",
    "streaming.start_s": "s", **{f"streaming.{k}_ms": "ms" for k in (
        "addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")},
    "streaming.batches": "count", "streaming.checkpoint_bytes": "bytes",
    "corpus.build_s": "s", "corpus.build_jobs": "count",
    "operators.text.filter_s": "s", "operators.dedup.exact_s": "s", "operators.dedup.near_s": "s",
    "operators.dedup.near_drop_ratio": "ratio",
    "functions.png_ms_per_item": "ms", "functions.jpeg_ms_per_item": "ms",
    "operators.multimodal.overhead_ms_per_item": "ms",
    "trace.op_s": "s", "trace.overhead_s": "s", "trace.unattributed_ratio": "ratio",
    "ops_failed_ratio": "ratio", "spark.tasks_failed": "count",
    **{f"{s}.{f}": u for s in JOB_SPANS for f, u in JOB_FIELDS.items()},
}


def pin_env(work: str) -> int:
    """Environment for the JVM and its Python workers; returns the cores."""
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # mapInPandas workers import the program and the benchmark by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for var, sub in (("TMPDIR", "tmp"), ("SPARK_LOCAL_DIRS", "spark-local")):
        os.environ[var] = os.path.join(work, sub)
        os.makedirs(os.environ[var], exist_ok=True)
    # every JVM (launcher and driver) keeps its temp files in the run's
    # directory and writes no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    return cpus


def start_spark(work: str):
    from solana_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        driver_memory=DRIVER_MEMORY,
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def tail(xs: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    if n < 11:
        return None
    p = int(100 * (n - 10) / n)
    return p, sorted(xs)[max(0, -(-p * n // 100) - 1)]


class Runner:
    def __init__(self, wl, checks):
        self.wl = wl
        self.checks = checks
        self.attempted = 0
        self.failed = 0

    def one(self, fn):
        """Run one operation and check its output; returns (seconds,
        result, CPU seconds of this process and every process below it) or
        None when it raised or its check failed."""
        self.attempted += 1
        try:
            c = tree_cpu_s(os.getpid())
            t = time.perf_counter()
            res = fn()
            dt = time.perf_counter() - t
            cpu = tree_cpu_s(os.getpid()) - c
            self.wl.after_op()
            self.wl.check()
            return dt, res, cpu
        except self.checks.CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
        except Exception:  # an operation that raises is a failed operation
            traceback.print_exc()
        self.failed += 1
        return None

    def loop(self, seconds: float, *fns) -> list[list[tuple[float, object, float]]]:
        """Run the operations ``fns`` in turn until ``seconds`` have
        passed and the workload's ``min_timed_ops`` operations have run
        (a traced run alternates two); returns each one's successful
        (seconds, result, CPU seconds) triples."""
        done = [[] for _ in fns]
        deadline = time.perf_counter() + seconds
        rounds = 0
        while True:
            for out, fn in zip(done, fns):
                r = self.one(fn)
                if r is not None:
                    out.append(r)
            rounds += 1
            if rounds * len(fns) >= self.wl.min_timed_ops and time.perf_counter() >= deadline:
                return done

    def warm_up(self) -> list[tuple[float, float]]:
        """A fixed number of operations per workload, the cold one
        included: an adaptive stop made set-up time vary from run to run
        (NOTES.md). Returns their (seconds, CPU seconds)."""
        times = []
        for _ in range(self.wl.warm_ops):
            r = self.one(self.wl.op)
            if r is not None:
                times.append((r[0], r[2]))
        return times


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, runner, ops, setup_s) -> tuple[dict, list[str]]:
    """The JSON carries ``setup_s`` and ``items_per_cpu_s`` (one name for
    every workload). The report lines give the wall-clock throughput and
    latency under the workload's own names, with quartiles and sample
    counts; on a shared host they also move with the time the hypervisor
    takes from the VM, which CPU seconds do not count (NOTES.md)."""
    secs = [dt for dt, _, _ in ops]
    rates = [n / dt for dt, n, _ in ops]
    cq = quartiles([n / c for _, n, c in ops])
    lq = quartiles(secs)
    rq = quartiles(rates)
    lines = [
        f"{wl.name} {wl.item}_per_cpu_s: median {cq[1]:.4f} {wl.item}/cpu_s (q1 {cq[0]:.4f}, q3 {cq[2]:.4f}, n={len(ops)})",
        f"{wl.name} {wl.item}_per_s: median {rq[1]:.4f} {wl.item}/s (q1 {rq[0]:.4f}, q3 {rq[2]:.4f}, n={len(ops)})",
    ]
    # every operation loads a fixed number of items, so its latency carries
    # the same information as the rate; for the stream it is the drop latency
    lat = "batch_latency" if wl.name == "stream_load" else "op_latency"
    lines.append(f"{wl.name} {lat}_p50_s: {lq[1]:.4f} s (q1 {lq[0]:.4f}, q3 {lq[2]:.4f}, n={len(ops)})")
    t = tail(secs)
    lines.append(
        f"{wl.name} {lat}_tail_s: p{t[0]} {t[1]:.4f} s (n={len(secs)})" if t
        else f"{wl.name} {lat}_tail_s: not reported, {len(secs)} samples leave no percentile with 10 beyond it"
    )
    for part in dict.fromkeys(k for d in wl.part_seconds for k in d):
        item = wl.part_seconds[0][part][2]
        pq = quartiles([n / dt for n, dt, _ in (d[part] for d in wl.part_seconds)])
        lines.append(
            f"{wl.name} {part} {item}_per_s: median {pq[1]:.4f} {item}/s (q1 {pq[0]:.4f}, q3 {pq[2]:.4f}, n={len(wl.part_seconds)})"
        )
    lines.append(f"{wl.name} op seconds: {[round(x, 3) for x in secs]}")
    lines.append(f"{wl.name} op cpu seconds: {[round(c, 2) for _, _, c in ops]}")
    lines.append(f"{wl.name} ops_failed_ratio: {runner.failed}/{runner.attempted}")
    return {"setup_s": metric(setup_s, "s"), "items_per_cpu_s": metric(cq[1], "items/cpu_s")}, lines


def per_layer(wl, runner, tr, traced, untraced_secs, setup, props, cores, codec, rss_mb) -> dict:
    from tracing import dir_size, self_times

    jm = tr.job_metrics()
    st = self_times(tr.spans)
    for s in tr.spans:
        s["self_s"] = st[s["span_id"]]
        if s["span_id"] in jm:
            s["spark"] = jm[s["span_id"]]
    by_parent: dict[int, list[dict]] = {}
    for s in tr.spans:
        by_parent.setdefault(s["parent"], []).append(s)

    def descendants(span):
        for c in by_parent.get(span["span_id"], []):
            yield c
            yield from descendants(c)

    per_op = []
    for root, vals in traced:
        v = dict(vals)
        spans = list(descendants(root))
        for key, name in SPAN_SECONDS.items():
            v[key] = v.get(key, 0) + sum(s["end"] - s["start"] for s in spans if s["name"] == name)
        v["sinks.write_s"] = sum(s["end"] - s["start"] for s in spans if s["name"].startswith("sinks.write."))
        v["spark.tasks_failed"] = sum(jm.get(s["span_id"], {}).get("tasks_failed", 0) for s in spans)
        for name in JOB_SPANS:
            hits = [s for s in spans if s["name"] == name]
            wall = sum(s["end"] - s["start"] for s in hits)
            tot = {f: sum(jm.get(s["span_id"], {}).get(f, 0) for s in hits) for f in JOB_FIELDS if f != "core_busy_ratio"}
            tot["core_busy_ratio"] = tot["task_run_s"] / (wall * cores) if wall else 0.0
            for f, x in tot.items():
                v[f"{name}.{f}"] = x
            if name == "corpus.build":
                v["corpus.build_jobs"] = sum(jm.get(s["span_id"], {}).get("jobs", 0) for s in hits)
        v["trace.op_s"] = root["end"] - root["start"]
        v["trace.self_s"] = st[root["span_id"]]
        v.setdefault("sources.files_in", props.get("files", 0))
        v.setdefault("sources.bytes_in", props.get("bytes", 0))
        if "sinks.bytes_out" not in v:
            v["sinks.files_out"], v["sinks.bytes_out"] = dir_size(wl.out)
        per_op.append(v)

    keys = {k for v in per_op for k in v}
    med = {k: statistics.median(v.get(k, 0) for v in per_op) for k in keys}
    med["trace.overhead_s"] = med["trace.op_s"] - statistics.median(untraced_secs)
    med["trace.unattributed_ratio"] = sum(v["trace.self_s"] for v in per_op) / sum(v["trace.op_s"] for v in per_op)
    med["sinks.bytes_out_per_byte_in"] = med["sinks.bytes_out"] / med["sources.bytes_in"] if med["sources.bytes_in"] else 0.0
    med["session.start_s"], med["session.warm_s"] = setup
    med["session.peak_rss_mb"] = rss_mb
    med["ops_failed_ratio"] = runner.failed / runner.attempted
    if codec:
        n = props["images"]
        direct_ms = sum(ms for ms, _ in codec.values())
        med["functions.png_ms_per_item"] = codec["png"][0] / codec["png"][1]
        med["functions.jpeg_ms_per_item"] = codec["jpeg"][0] / codec["jpeg"][1]
        med["operators.multimodal.overhead_ms_per_item"] = (
            med["operators.multimodal.dhash.task_run_s"] * 1e3 - direct_ms
        ) / n
    return {k: metric(med.get(k, 0), u) for k, u in PER_LAYER.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    cores = pin_env(work)
    sys.path[:0] = [HERE, REPO]
    try:
        import checks
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    wl = WORKLOADS[args.workload](args.seed, work, os.path.join(STATE, "cache"))
    props = wl.generate()
    print(f"{wl.name} seed={args.seed} cores={cores} inputs: {json.dumps(props)}", flush=True)
    runner = Runner(wl, checks)
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        result = measure(args, wl, runner, spark, t0, props, cores)
    finally:
        stop_spark(spark)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


def measure(args, wl, runner, spark, t0, props, cores) -> dict | None:
    from tracing import Tracer, peak_rss_mb, reset_peak_rss

    t_started = time.perf_counter()
    wl.start(spark)
    warm = runner.warm_up()
    t_ready = time.perf_counter()
    wl.part_seconds.clear()
    setup = (t_started - t0, t_ready - t_started)
    print(
        f"{wl.name} setup_s: {t_ready - t0:.4f} s (start {setup[0]:.4f} s, warm-up ops "
        f"{[round(dt, 3) for dt, _ in warm]} s, {[round(c, 2) for _, c in warm]} cpu_s)"
    )
    pid = spark.sparkContext._gateway.proc.pid
    if args.trace:
        tr = Tracer(spark)
        tr.record("session.start", t0, t_started)
        tr.record("session.warm", t_started, t_ready)

        def traced_op():
            vals = wl.traced_op(tr)
            return next(s for s in reversed(tr.spans) if s["name"] == "op"), vals

        # alternate, so the tracing overhead is not confounded with warm-up
        reset_peak_rss(pid)
        untraced, ops = runner.loop(args.seconds, wl.op, traced_op)
        rss = peak_rss_mb(pid)
        codec = wl.codec_ms_per_item() if hasattr(wl, "codec_ms_per_item") else None
    else:
        reset_peak_rss(pid)
        (ops,) = runner.loop(args.seconds, wl.op)
        rss = peak_rss_mb(pid)
    correct = True
    try:
        info = wl.finish()
    except runner.checks.CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        runner.failed += 1
        correct, info = False, {}
    if not ops or (args.trace and not untraced):
        print("perfbench: no operation succeeded", file=sys.stderr)
        return None
    if args.trace:
        metrics = per_layer(
            wl, runner, tr, [r for _, r, _ in ops], [dt for dt, _, _ in untraced], setup, props, cores, codec, rss
        )
        path = os.path.join(STATE, "traces", f"{wl.name}-seed{args.seed}-{tr.trace_id}.jsonl")
        tr.write(path, {"workload": wl.name, "seed": args.seed, "inputs": props, "per_layer": metrics, **info})
        print(f"{wl.name} spans written to {os.path.relpath(path, REPO)}")
        for k, m in metrics.items():
            print(f"{wl.name} {k}: {m['value']:.6g} {m['unit']}")
    else:
        metrics, lines = end_to_end(wl, runner, ops, t_ready - t0)
        print("\n".join(lines))
        # varies too much run to run for a bound (NOTES.md), so report only
        print(f"{wl.name} peak_rss_mb: {rss:.1f} MiB (gateway JVM VmHWM over the timed window)")
    for k, v in info.items():
        print(f"{wl.name} {k}: {v}")
    return {
        "correct": correct and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }


if __name__ == "__main__":
    sys.exit(main())
