"""Tracing helpers: spans kept in memory, Spark job attribution by job
group, the Catalyst phase tracker, a py4j call counter and the JVM's peak
resident memory.

A span is a dict with a name, start and end (``time.perf_counter``
seconds), its parent span id and the run's trace id. Spans are written
out once, when the run ends. A span opened with ``jobs=True`` sets the Spark
job group, so every job it launches can be read back from the status store
and charged to it; streaming queries run their jobs under their run id
instead, which :meth:`Tracer.attribute_group` maps onto the span that ran
the query.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid


_JOB_FIELDS = (
    "task_run_s", "task_cpu_s", "gc_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes", "stages", "tasks", "tasks_failed",
)


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.trace_id = uuid.uuid4().hex[:16]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._groups: dict[str, dict] = {}  # job group id -> span charged

    @contextlib.contextmanager
    def span(self, name: str, parent: dict | None = None, jobs: bool = False):
        """Record a span around the block. ``parent`` defaults to the
        innermost open span; pass it explicitly for spans opened on
        another thread (the stream's batch callbacks). With ``jobs`` the
        span sets the Spark job group, so the jobs it launches are charged
        to it."""
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = {
            "trace_id": self.trace_id,
            "span_id": len(self.spans),
            "parent": None if parent is None else parent["span_id"],
            "name": name,
        }
        self.spans.append(s)
        sc = self.spark.sparkContext
        if jobs:
            group = f"bench-{self.trace_id}-{s['span_id']}"
            self._groups[group] = s
            sc.setJobGroup(group, name)
        self._stack.append(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if jobs:
                sc.setJobGroup("bench-idle", "outside traced spans")

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished top-level span (set-up phases timed before the
        tracer existed)."""
        self.spans.append(
            {"trace_id": self.trace_id, "span_id": len(self.spans), "parent": None,
             "name": name, "start": start, "end": end}
        )

    def attribute_group(self, group: str, span: dict) -> None:
        """Charge the jobs of ``group`` (e.g. a streaming query's run id)
        to ``span``."""
        self._groups[group] = span

    def job_metrics(self) -> dict[int, dict]:
        """Per job-group span id: jobs, task/CPU/GC time, shuffle and spill
        bytes, stage/task counts, read back from the Spark status store."""
        from py4j.java_collections import ListConverter

        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        jvm = sc._jvm
        gw = sc._gateway
        store = jsc.statusStore()
        empty = ListConverter().convert([], gw._gateway_client)
        stage_group: dict[int, str] = {}
        n_jobs: dict[str, int] = {}
        jobs = store.jobsList(empty)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined() or group.get() not in self._groups:
                continue
            n_jobs[group.get()] = n_jobs.get(group.get(), 0) + 1
            ids = job.stageIds()
            for k in range(ids.size()):
                stage_group.setdefault(int(ids.apply(k)), group.get())
        stages = store.stageList(
            empty, False, False, gw.new_array(jvm.double, 0), ListConverter().convert([], gw._gateway_client)
        )
        out: dict[int, dict] = {
            self._groups[g]["span_id"]: {"jobs": n, **dict.fromkeys(_JOB_FIELDS, 0)}
            for g, n in n_jobs.items()
        }
        for i in range(stages.size()):
            st = stages.apply(i)
            group = stage_group.get(int(st.stageId()))
            if group is None:
                continue
            m = out[self._groups[group]["span_id"]]
            m["task_run_s"] += st.executorRunTime() / 1e3
            m["task_cpu_s"] += st.executorCpuTime() / 1e9
            m["gc_s"] += st.jvmGcTime() / 1e3
            m["shuffle_read_bytes"] += st.shuffleReadBytes()
            m["shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            m["stages"] += 1
            m["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            m["tasks_failed"] += st.numFailedTasks()
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(json.dumps({"trace_id": self.trace_id, **extra}) + "\n")
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(s["span_id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["span_id"]] = (s["end"] - s["start"]) - covered
    return out


def plan_phases_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning ms of ``df``'s own query
    execution. Forces optimization and physical planning, which the write
    that follows repeats under its own execution (tracing overhead)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = float(p.get().durationMs()) if p.isDefined() else 0.0
    return out


class Py4jCounter:
    """Counts py4j commands sent to the JVM while ``active``."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.active = False
        orig = self.client.send_command

        def send_command(*args, **kwargs):
            if self.active:
                self.calls += 1
            return orig(*args, **kwargs)

        self.client.send_command = send_command

    @contextlib.contextmanager
    def counting(self):
        self.active = True
        try:
            yield
        finally:
            self.active = False


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def reset_peak_rss(pid: int) -> None:
    """Reset ``VmHWM`` to the current RSS (``clear_refs`` value 5)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def dir_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's hidden/marker
    files."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and every
    process below it (the gateway JVM and its Python workers), counting the
    children each has already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the table was read
            continue
        stats[int(entry)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / tick
