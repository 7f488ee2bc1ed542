"""Input-parallelism guard for compute-heavy per-row operators.

A small parquet input (one file) arrives as one partition; an expression-
heavy operator (minhash over every shingle, per-row hashing) then runs in a
single task regardless of cores. At real scale inputs have many splits and
this is a no-op — the repartition only fires when partitions < target, so no
shuffle is added on large corpora.

Partition COUNT alone is a false negative on big single-row-group files
(r9, measured): a 178 MB one-row-group parquet scans as 32 byte-range
splits, but a split only yields rows when a row-group START falls inside
it — so every row landed in ONE task and a 20k-clip Python decode stage
ran serially (~52 s instead of ~2 s). Populated tasks can never exceed
total row groups, so when the scan has fewer FILES than target the guard
also counts row groups from the parquet footers (driver-side, metadata
only) and repartitions when those can't fill the cores.

The target is sized to DATA, min'd with cores (r10, guide §2.2 — the r9
form always targeted ``defaultParallelism``, so a 400-row fixture fanned
into 32 tasks of ~12 rows and the bench's fixed overhead grew WITH core
count): when the scan is a few-file local-parquet read, the footer
metadata also yields the exact row count, and the target becomes
``min(cores, ceil(rows / COMPUTE_ROWS_PER_TASK))`` with a
floor of 1 (an empty or single-batch input is never shuffled at all).
``COMPUTE_ROWS_PER_TASK`` (a constant, 64) is sized to the measured
per-row kernel costs — 0.07–7 ms for the media decodes, ~1 ms/doc for
the n-gram family — so a task carries ≥ ~5–400 ms of compute, far above
per-task scheduling overhead, while corpus-scale inputs (rows ≥
64·cores) keep the exact cores-sized behavior. Rows-not-bytes is deliberate: per-BYTE compute cost spans
~10^3× across these operators (584 KB of sf0.1 documents drive ~3 s of
n-gram work), so byte targets either serialize the heavy kernels or
re-inflate the tiny ones; per-ROW cost is the stable proxy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Minimum rows a compute task should carry before more tasks pay off.
COMPUTE_ROWS_PER_TASK = 64


def _parquet_meta(files: list[str]) -> tuple[int, int] | None:
    """Total (rows, row_groups) across ``files`` from the parquet footers
    (driver-side metadata read), or None when any file isn't local
    parquet readable via pyarrow — the caller then keeps the
    partition-count answer and the cores-sized target."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow ships with pyspark
        return None
    rows = 0
    groups = 0
    for uri in files:
        if not uri.endswith((".parquet", ".pq")):
            return None
        path = uri[7:] if uri.startswith("file://") else uri
        if path.startswith("/") is False:
            return None
        try:
            meta = pq.ParquetFile(path).metadata
        except Exception:
            return None
        rows += meta.num_rows
        groups += meta.num_row_groups
    return rows, groups


def ensure_compute_parallelism(df: DataFrame) -> DataFrame:
    cores_target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    # many files -> rows are spread across >= len(files) populated splits
    # AND the input is big enough that cores-sized parallelism is right;
    # only few-file scans are candidates for data-sized shrinking or
    # row-group concentration
    meta = None
    if files and len(files) < cores_target:
        meta = _parquet_meta(files)
    if meta is not None:
        rows = meta[0]
        target = min(cores_target, max(1, -(-rows // COMPUTE_ROWS_PER_TASK)))
    else:
        target = cores_target
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    if meta is not None and meta[1] < target:
        # a plan that already repartitions (or shuffles for a groupBy/join)
        # above the scan has spread its rows — re-shuffling it would tax
        # every composed pipeline (measured: +0.4 s on mm_frame_sample,
        # whose documents_as_media input repartitions right at the source)
        try:
            plan = df._jdf.queryExecution().analyzed().toString()
        except Exception:
            plan = ""
        for spread_node in ("Repartition", "Aggregate", "Join", "Window"):
            if spread_node in plan:
                return df
        return df.repartition(target)
    return df
