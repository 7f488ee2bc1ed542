"""SparkSession factory with scale-aware defaults.

Defaults are tuned for correctness-critical semantics first (map-key
last-wins to match the reference's dict semantics) and for large-scale
execution second (AQE on, skew-join handling on, nested-schema pruning on
so the wide block JSON never materializes unused branches).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Semantics-critical:
#   mapKeyDedupPolicy=LAST_WIN — the reference builds dicts keyed by
#   accountIndex / pubkey where a later duplicate overwrites the earlier one
#   (plain Python dict assignment, reference src/transform/Transaction.py:111-121);
#   Spark's default EXCEPTION would instead fail the job.
#   ansi.enabled=false — the reference is lenient Python: dict.get misses are
#   None, int() parses unbounded u64 strings. We rely on element_at returning
#   NULL for absent map keys (token/inner-instruction lookups) and route
#   overflow to NULL instead of failing the job (SURVEY §7.4/§7.5).
SEMANTIC_CONFS = {
    "spark.sql.mapKeyDedupPolicy": "LAST_WIN",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.ansi.enabled": "false",
    # Spark has no TIMESTAMP(NANOS) type: read raw int64 nanos (testdata
    # events.ts), converted downstream via timestamp_micros(ns div 1000)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Bounded StreamingQuery.stop(): the default 0 waits for ever on a
    # foreachBatch callback that never returns, so streaming/state.await_end
    # could hang instead of raising TimeoutError. A query reads it from its
    # session when it starts.
    "spark.sql.streaming.stopTimeout": "5000",
}

# Scale-oriented: these are safe on local[32] and what we would run with on a
# 1000-executor cluster. Sizing knobs (shuffle partitions) are parameterized.
SCALE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # AQE coalescing keeps its parallelism-first default DELIBERATELY
    # (r10, measured): with parallelismFirst=true a KB-sized shuffle
    # already coalesces to ~1 task (target = max(bytes/cores,
    # minPartitionSize)), so tiny exchanges carry no 32-task fan-out; and
    # forcing bytes-first sizing (parallelismFirst=false) collapsed the
    # compute-dense exchanges whose per-byte CPU cost is ~10^3× a plain
    # scan's (dedup_ngram_jaccard 3.04 s → 5.20 s at advisory=64m, → 3.61 s
    # at 8m; headline total 17.9 → 20.7 / 18.3 s at 32 cores, sf0.1).
    # Bytes are the wrong cost proxy for expression-heavy aggregation at
    # this engine's shuffle sizes; see OPTIMIZATION_r10.md.
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # JSON block documents are wide; don't let Spark waste time sampling for
    # inference anywhere (we always pass explicit schemas).
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # File listing (r9, measured): the block corpora are hundreds of small
    # gzip files on LOCAL fs, and the default
    # parallelPartitionDiscovery.threshold=32 launches a distributed listing
    # JOB per read — ~0.4 s of job-scheduling overhead for a listing the
    # driver does in ~40 ms itself (243 files: 0.43 s -> 0.044 s per read).
    # Driver-side listing is strictly faster on local paths; object-store
    # deployments listing millions of keys should export
    # SPARK_GRAFT_LIST_THRESHOLD=32 so listing parallelizes across the
    # cluster again (parameterized, per the scale-adaptive config rule).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": os.environ.get(
        "SPARK_GRAFT_LIST_THRESHOLD", "10000"
    ),
}


def get_spark(
    app_name: str = "solana-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_confs: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    master / parallelism default from $SPARK_GRAFT_CPUS (driver contract)
    falling back to local[*].
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local mode: driver JVM hosts the executors; block documents are
        # whole-file JSON rows, so give the heap real headroom
        .config("spark.driver.memory", driver_memory)
    )
    for k, v in {**SEMANTIC_CONFS, **SCALE_CONFS}.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = builder.config("spark.ui.enabled", "false")
    if extra_confs:
        for k, v in extra_confs.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_semantic_confs(spark: SparkSession) -> SparkSession:
    """Apply the semantics-critical runtime confs to an externally-provided
    session (the driver hands us its own SparkSession in ``entry``)."""
    for k, v in SEMANTIC_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass
    for k, v in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.optimizer.nestedSchemaPruning.enabled", "true"),
        (
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            SCALE_CONFS["spark.sql.sources.parallelPartitionDiscovery.threshold"],
        ),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # static conf on some builds; defaults are fine
    return spark
