"""The benchmark's workloads: one closed-loop client calling the library's
public functions, one operation at a time.

Each workload generates its inputs from the seed, then repeats one
operation. ``op`` runs the operation untraced and returns the number of
items it processed; ``traced_op`` runs the same operation under an ``op``
span, and the workload's ``trace`` puts a span around each call into a
layer (forcing layer boundaries where Spark would otherwise stay lazy) and
returns per-layer values. ``check`` verifies the
output of the latest operation; ``finish`` runs the checks that need the
whole run and the self-test that a tampered output is rejected.
"""

from __future__ import annotations

import io
import os
import time

import checks
import inputs
from tracing import Py4jCounter, dir_size, plan_phases_ms

import solana_etl_spark
from solana_etl_spark.corpus import CorpusPipeline
from solana_etl_spark.functions import jpeg, png
from solana_etl_spark.operators.multimodal import dhash_images
from solana_etl_spark.plans.tasks import run_all_tasks, run_all_tasks_with_handle
from solana_etl_spark.sinks import append_csv_exactly_once, write_corpus_shards, write_task_outputs
from solana_etl_spark.sources import read_blocks
from solana_etl_spark.streaming import pipeline as stream_pipeline

PACKAGE = os.path.dirname(os.path.abspath(solana_etl_spark.__file__))


class Workload:
    name = ""
    item = ""  # what items_per_cpu_s counts
    # warm-up operations, the cold one included, charged to setup_s; each
    # benchmarked workload sets these from its warm-up curve and the full
    # evaluation's time budget (NOTES.md)
    warm_ops = 1
    min_timed_ops = 1  # the timed window runs at least this many operations

    def __init__(self, seed: int, work: str, cache: str):
        self.seed = seed
        self.work = work
        self.cache = cache  # kept across runs (see checks.corpus_oracle)
        self.out = os.path.join(work, "out")
        self.part_seconds: list[dict] = []  # per operation: part -> (items, seconds, item)

    def generate(self) -> dict:
        raise NotImplementedError

    def start(self, spark) -> None:
        self.spark = spark

    def op(self) -> int:
        raise NotImplementedError

    def traced_op(self, tr) -> dict:
        with tr.span("op"):
            return self.trace(tr)

    def trace(self, tr) -> dict:
        """The operation's body with a span around each call into a
        layer; returns per-layer values."""
        raise NotImplementedError

    def after_op(self) -> None:
        pass

    def check(self) -> None:
        pass

    def finish(self) -> dict:
        return {}

    def _checked(self):
        """The latest output that passed its check (the self-test input)."""
        if not hasattr(self, "last"):
            raise checks.CheckFailed("no operation produced an output that passed its check")
        return self.last

    def _counter(self) -> Py4jCounter:
        if not hasattr(self, "counter"):
            self.counter = Py4jCounter(self.spark)
        self.counter.calls = 0
        return self.counter


class EtlLoad(Workload):
    """The paper's load-file job: block JSON -> transactions, transfers,
    blocks and errors, written as parquet."""

    name, item = "etl_load", "blocks"

    def generate(self):
        self.inp = inputs.etl_blocks(self.seed, os.path.join(self.work, "blocks"))
        # one output digest per seed, input and program, kept across runs
        self.digest_key = f"etl_digest-seed{self.seed}-{self.inp['digest'][:16]}-{checks.program_digest(PACKAGE)}"
        self.digest = None
        return self.inp["props"]

    def op(self):
        outputs = run_all_tasks(read_blocks(self.spark, self.inp["glob"]))
        write_task_outputs(outputs, self.out, fmt="parquet", single_file=False)
        return len(self.inp["blocks"])

    def after_op(self):
        # run_all_tasks persists the transactions view and hands back no
        # handle; drop it so the next operation cannot read it from cache
        self.spark.catalog.clearCache()

    def trace(self, tr) -> dict:
        counter = self._counter()
        with tr.span("sources.list"):
            raw = read_blocks(self.spark, self.inp["glob"])
        with tr.span("sources.scan", jobs=True):
            raw.write.format("noop").mode("overwrite").save()
        with tr.span("plans.build"), counter.counting():
            outputs, view = run_all_tasks_with_handle(raw)
        with tr.span("plans.plan"):
            phases = [plan_phases_ms(df) for df in outputs.values()]
        with tr.span("plans.view", jobs=True):
            view.count()
        with tr.span("sinks.write", jobs=True):
            for name, df in outputs.items():
                with tr.span(f"sinks.write.{name}"):
                    write_task_outputs({name: df}, self.out, fmt="parquet", single_file=False)
        view.unpersist()
        files_out, bytes_out = dir_size(self.out)
        return {
            "sources.files_in": self.inp["props"]["files"],
            "sources.bytes_in": self.inp["props"]["bytes"],
            "sinks.files_out": files_out,
            "sinks.bytes_out": bytes_out,
            "plans.py4j_calls": counter.calls,
            **{f"plans.{k}_ms": sum(p[k] for p in phases) for k in phases[0]},
        }

    def check(self):
        tables = checks.load_etl(self.out)
        checks.check_etl(tables, self.inp)
        self.last = tables
        digest = checks.etl_digest(tables)
        if self.digest is None:
            stored = checks.same_as_cached(self.cache, self.digest_key, digest)
            if stored is not None:
                raise checks.CheckFailed(f"digest {digest} differs from an earlier run's {stored} for this seed")
            self.digest = digest
        elif digest != self.digest:
            raise checks.CheckFailed(f"digest {digest} differs from this run's first output {self.digest}")

    def finish(self):
        checks.self_test(checks.check_etl, self._checked(), checks.tamper_etl, self.inp)
        return {"digest": self.digest}


class CorpusClean(Workload):
    """The LLM corpus-cleaning facade: quality filter -> exact dedup ->
    near dedup, written as shards plus a manifest."""

    name, item = "corpus_clean", "docs"

    def generate(self):
        self.inp = inputs.corpus_documents(self.seed, os.path.join(self.work, "docs"))
        self.oracle = checks.corpus_oracle(self.inp["path"], self.cache)
        return {**self.inp["props"], "survivors": len(self.oracle)}

    def op(self):
        docs = self.spark.read.parquet(self.inp["path"])
        p = CorpusPipeline(docs).quality_filter().dedup_exact().dedup_near()
        write_corpus_shards(p.df, self.out)
        return self.inp["props"]["docs"]

    def trace(self, tr) -> dict:
        staged = []

        def stage(name, build):
            with tr.span(name, jobs=True):
                df = build().df.persist()
                staged.append(df)
                return df, df.count()

        docs = self.spark.read.parquet(self.inp["path"])
        with tr.span("corpus.build", jobs=True):
            CorpusPipeline(docs).quality_filter().dedup_exact().dedup_near()
        s1, _ = stage("operators.text.filter", lambda: CorpusPipeline(docs).quality_filter())
        s2, n2 = stage("operators.dedup.exact", lambda: CorpusPipeline(s1).dedup_exact())
        s3, n3 = stage("operators.dedup.near", lambda: CorpusPipeline(s2).dedup_near())
        with tr.span("sinks.write", jobs=True):
            with tr.span("sinks.write.shards"):
                write_corpus_shards(s3, self.out)
        for df in staged:
            df.unpersist()
        return {"operators.dedup.near_drop_ratio": (n2 - n3) / n2}

    def check(self):
        loaded = checks.load_corpus(self.out)
        checks.check_corpus(loaded, self.oracle)
        self.last = loaded

    def finish(self):
        checks.self_test(checks.check_corpus, self._checked(), checks.tamper_corpus, self.oracle)
        return {}


class StreamLoad(Workload):
    """The incremental load of ``cli extract-streaming``: each operation
    drops a few narrow blocks into the watched directory and runs the
    availableNow query, on one checkpoint, until it terminates."""

    name, item = "stream_load", "blocks"
    # drops keep getting faster for about eight after the cold one (4.5,
    # 3.5, 3.0, 2.9, 2.8, 2.4 s, ...); run alone, three more warm up and
    # five are timed (in BENCHMARK.json it runs as half of solana_load)
    warm_ops = 4
    min_timed_ops = 5

    def generate(self):
        self.watch = os.path.join(self.work, "watch")
        self.ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(self.watch)
        self.drops = 0
        return {"drop_blocks": inputs.STREAM_DROP_BLOCKS, "block_txs": "8-22"}

    def _drop(self):
        d = inputs.stream_drop(self.seed, self.watch, self.drops)
        self.drops += 1
        return d

    def op(self):
        self._drop()
        stream_pipeline.start_streaming_load(self.spark, self.watch, self.out, self.ckpt).awaitTermination()
        return inputs.STREAM_DROP_BLOCKS

    def trace(self, tr) -> dict:
        counter = self._counter()
        orig_build, orig_append = stream_pipeline.run_all_tasks_with_handle, stream_pipeline.append_csv_exactly_once

        files0, bytes0 = dir_size(self.out)
        phases = []
        with tr.span("sources.drop"):
            d = self._drop()
        with tr.span("streaming.run", jobs=True) as run_span:

            def build(*args, **kwargs):
                with tr.span("plans.build", parent=run_span), counter.counting():
                    outputs, view = orig_build(*args, **kwargs)
                with tr.span("plans.plan", parent=run_span):
                    phases.extend(plan_phases_ms(df) for df in outputs.values())
                return outputs, view

            def append(df, path, batch_id):
                with tr.span(f"sinks.write.{os.path.basename(path)}", parent=run_span):
                    return orig_append(df, path, batch_id)

            stream_pipeline.run_all_tasks_with_handle = build
            stream_pipeline.append_csv_exactly_once = append
            try:
                t = time.perf_counter()
                q = stream_pipeline.start_streaming_load(self.spark, self.watch, self.out, self.ckpt)
                start_s = time.perf_counter() - t
                tr.attribute_group(str(q.runId), run_span)
                q.awaitTermination()
            finally:
                stream_pipeline.run_all_tasks_with_handle = orig_build
                stream_pipeline.append_csv_exactly_once = orig_append
        out = {
            "streaming.start_s": start_s,
            "streaming.batches": len(q.recentProgress),
            "streaming.checkpoint_bytes": dir_size(self.ckpt)[1],
            "plans.py4j_calls": counter.calls,
            "sources.files_in": len(d["files"]),
            "sources.bytes_in": d["bytes"],
            # this drop's appended batch files only
            "sinks.files_out": dir_size(self.out)[0] - files0,
            "sinks.bytes_out": dir_size(self.out)[1] - bytes0,
        }
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch"):
            out[f"streaming.{k}_ms"] = sum(p["durationMs"].get(k, 0) for p in q.recentProgress)
        for k in ("analysis", "optimization", "planning"):
            out[f"plans.{k}_ms"] = sum(p[k] for p in phases)
        # the file source lists the watched directory inside latestOffset
        out["sources.list_s"] = out["streaming.latestOffset_ms"] / 1e3
        return out

    def finish(self):
        ref = os.path.join(self.work, "batch_reference")
        outputs = run_all_tasks(read_blocks(self.spark, os.path.join(self.watch, "*")))
        for name, df in outputs.items():
            append_csv_exactly_once(df, os.path.join(ref, name), 0)
        self.spark.catalog.clearCache()
        streamed, batch = checks.load_csv_rows(self.out), checks.load_csv_rows(ref)
        n_blocks = self.drops * inputs.STREAM_DROP_BLOCKS
        checks.check_stream(streamed, batch, n_blocks)
        checks.self_test(checks.check_stream, streamed, checks.tamper_stream, batch, n_blocks)
        return {"drops": self.drops}


class MediaDecode(Workload):
    """Perceptual hashing of an images table through the vendored PNG and
    JPEG codecs behind ``mapInPandas``."""

    name, item = "media_decode", "images"

    def generate(self):
        self.inp = inputs.media_images(self.seed, os.path.join(self.work, "images"))
        t = self.inp["table"]
        self.expected = {
            i: checks.dhash_reference(w, h, px)
            for i, w, h, px in zip(
                t.column("media_id").to_pylist(),
                t.column("width").to_pylist(),
                t.column("height").to_pylist(),
                t.column("pixels").to_pylist(),
            )
        }
        return self.inp["props"]

    def _media(self):
        return self.spark.read.parquet(self.inp["path"]).select("media_id", "payload")

    def op(self):
        dhash_images(self._media()).write.mode("overwrite").parquet(self.out)
        return self.inp["props"]["images"]

    def trace(self, tr) -> dict:
        with tr.span("operators.multimodal.dhash", jobs=True):
            dhash_images(self._media()).write.mode("overwrite").parquet(self.out)
        return {}

    def codec_ms_per_item(self) -> dict:
        """Direct (outside Spark) decode cost of the same payloads."""
        t = self.inp["table"]
        total = {"png": [0.0, 0], "jpeg": [0.0, 0]}
        for payload, kind in zip(t.column("payload").to_pylist(), t.column("kind").to_pylist()):
            key, codec = ("jpeg", jpeg) if kind == "jpeg" else ("png", png)
            t0 = time.perf_counter()
            with codec.open(io.BytesIO(payload)) as im:
                im.tobytes()
            total[key][0] += time.perf_counter() - t0
            total[key][1] += 1
        return {k: (s * 1e3, n) for k, (s, n) in total.items()}

    def check(self):
        loaded = checks.load_media(self.out)
        checks.check_media(loaded, self.expected)
        self.last = loaded

    def finish(self):
        checks.self_test(checks.check_media, self._checked(), checks.tamper_media, self.expected)
        return {}


class Combined(Workload):
    """Two workloads in one run: each operation runs the first part's
    operation, then the second's, each on its own inputs. The parts share a
    JVM start and a cold session, which a separate workload would pay again
    on every run (NOTES.md)."""

    part_types: tuple = ()

    def __init__(self, seed: int, work: str, cache: str):
        super().__init__(seed, work, cache)
        self.parts = tuple(cls(seed, os.path.join(work, cls.name), cache) for cls in self.part_types)
        for p in self.parts:
            p.out = os.path.join(self.out, p.name)

    def generate(self):
        got = [p.generate() for p in self.parts]
        props = {k: v for g in got for k, v in g.items()}
        for k in ("files", "bytes"):
            props[k] = sum(g.get(k, 0) for g in got)
        return props

    def start(self, spark):
        super().start(spark)
        for p in self.parts:
            p.start(spark)

    def op(self):
        n, secs = 0, {}
        for p in self.parts:
            t = time.perf_counter()
            k = p.op()
            secs[p.name] = (k, time.perf_counter() - t, p.item)
            n += k
        self.part_seconds.append(secs)
        return n

    def trace(self, tr):
        # counts and seconds the parts both report (py4j calls, files in and
        # out) add up over the operation
        vals: dict = {}
        for p in self.parts:
            for k, v in p.trace(tr).items():
                vals[k] = vals.get(k, 0) + v
        return vals

    def after_op(self):
        for p in self.parts:
            p.after_op()

    def check(self):
        for p in self.parts:
            p.check()

    def finish(self):
        return {k: v for p in self.parts for k, v in p.finish().items()}


class SolanaLoad(Combined):
    """The paper's load job in both of its forms: a batch load of
    mainnet-width blocks (etl_load), then an incremental drop of narrow
    blocks (stream_load)."""

    name, item = "solana_load", "blocks"
    part_types = (EtlLoad, StreamLoad)
    # 26-44 s cold, then 8.1-13.6, 7.1-11.5, 6.2-8.6 s, and about 6.5 s
    # from the fourth on; the time budget holds the cold operation and one
    # timed one (NOTES.md)
    warm_ops = 1
    min_timed_ops = 1


class LlmData(Combined):
    """The LLM-data operators: corpus cleaning (corpus_clean), then
    perceptual hashing of an images table (media_decode)."""

    name, item = "llm_data", "records"  # documents plus images
    part_types = (CorpusClean, MediaDecode)
    # 18-30 s cold, then 4.1-7.2, 3.5-6.8, 3.3-6.0 s, and about 3 s from
    # the fifth on; the time budget holds the cold operation and three
    # timed ones (NOTES.md)
    warm_ops = 1
    min_timed_ops = 3

    def codec_ms_per_item(self) -> dict:
        return self.parts[1].codec_ms_per_item()


WORKLOADS = {w.name: w for w in (SolanaLoad, LlmData, EtlLoad, StreamLoad, CorpusClean, MediaDecode)}
