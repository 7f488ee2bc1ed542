"""Versioned state directories: the one definition every micro-batch
stream uses to list, read, commit and prune its state.

Each stateful stream keeps its state as ``<dir>/<prefix>=<id>`` parquet
directories — ``batch=k`` for the snapshot streams (sample, hll, vocab)
and the append-only indexes (dedup, corpus, web, media), ``v=N`` for the
view and CDC snapshots. foreachBatch is at-least-once, so version k is
written as a pure function of committed versions below k with an
overwrite: a retry of batch k re-reads the same parents and rewrites the
same directory, and the stream converges. That only holds if every
stream agrees on which versions are committed, so the rules live here:

* **committed** — a ``<prefix>=<int>`` directory holding ``_SUCCESS``,
  which the file-output committer writes after every task committed. A
  directory holding only ``_temporary/`` (crash during the write) or
  part files without the marker (crash during job commit) is never
  chosen as a parent.
* **listing** — on the driver through the Hadoop ``FileSystem`` API, one
  ``globStatus`` per listing: no Spark job, and the same call serves
  local paths and object stores. A missing directory has no versions.
* **reads** — the newest committed version below k, or the union of
  chosen versions; an empty frame of the caller's schema when there is
  nothing to read.
* **pruning** — keep the newest ``retain`` committed versions and
  delete every older directory, committed or not.
* **indexes** — the append-only set indexes (dedup, corpus, web, media)
  are read as the union of every committed ``batch=`` version except
  the in-flight batch, behind a schema marker (``read_index``).

The prefix is a constant at each call site, so state written before this
module existed reads unchanged.

The micro-batch lifecycle lives here too: every stream starts through
``start_batches`` (one ``foreachBatch`` query, checkpointed, drained
with ``availableNow``) and callers that wait for it use ``await_end``,
which fails on a stream that has not finished instead of letting the
caller read a half-run stream's state.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

#: Marker file recording the schema an index table was persisted with.
#: The schema string IS the format version: any column/type change (e.g.
#: the r8 band-signature ``sig string`` → ``sig long`` narrowing) makes
#: the reader's expected schema mismatch the marker, and the read fails
#: loudly instead of silently mixing parquet schemas across the upgrade
#: boundary of a long-lived index (which would admit near-duplicates).
FORMAT_MARKER = "_index_schema"


def start_batches(
    stream: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
) -> StreamingQuery:
    """Start ``process_batch`` over every micro-batch of ``stream``: the
    package's one ``foreachBatch`` query. The checkpoint makes a restart
    resume after the last committed batch; ``availableNow`` drains what
    has landed and then ends the query."""
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def await_end(query: StreamingQuery, timeout_s: float) -> None:
    """Wait up to ``timeout_s`` for ``query`` to end. A query still
    running then is stopped and raises TimeoutError: its state is
    partial, and a caller that read it would compare half a stream. A
    query that failed raises its own error (awaitTermination's)."""
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"stream {query.name or query.id} did not end within "
            f"{timeout_s} s; stopped it"
        )


def _fs(spark: SparkSession, path: str):
    """(the Hadoop FileSystem serving ``path``, the Hadoop Path class)."""
    sc = spark.sparkContext
    hadoop_path = sc._jvm.org.apache.hadoop.fs.Path
    fs = hadoop_path(path).getFileSystem(sc._jsc.hadoopConfiguration())
    return fs, hadoop_path


def version_path(path: str, prefix: str, version: int) -> str:
    return os.path.join(path, f"{prefix}={version}")


def versions(
    spark: SparkSession, path: str, prefix: str, committed: bool = True
) -> list[int]:
    """Sorted ids of the ``<prefix>=<int>`` directories under ``path`` —
    only committed ones unless ``committed=False`` (index compaction
    must see every id, committed or not, to pick a fresh one)."""
    fs, hadoop_path = _fs(spark, path)
    pattern = f"{prefix}=*/_SUCCESS" if committed else f"{prefix}=*"
    found = fs.globStatus(hadoop_path(os.path.join(path, pattern)))
    out = []
    for status in found or []:
        p = status.getPath()
        name = (p.getParent() if committed else p).getName()
        try:
            out.append(int(name[len(prefix) + 1 :]))
        except ValueError:
            continue
    return sorted(out)


def latest(
    spark: SparkSession, path: str, prefix: str, before: int | None = None
) -> int | None:
    """The newest committed version (below ``before`` when given — a
    retrying batch passes its own id so it never reads its first
    attempt), or None."""
    found = versions(spark, path, prefix)
    if before is not None:
        found = [v for v in found if v < before]
    return found[-1] if found else None


def read(
    spark: SparkSession, path: str, prefix: str, ids: list[int], schema
) -> DataFrame:
    """The union of versions ``ids`` (payload columns only: each version
    directory is read as its own base path), or an empty frame of
    ``schema`` when ``ids`` is empty."""
    if not ids:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*[version_path(path, prefix, v) for v in ids])


def read_latest(
    spark: SparkSession,
    path: str,
    prefix: str,
    schema=None,
    before: int | None = None,
) -> DataFrame:
    """The newest committed version below ``before``. With none, an
    empty frame of ``schema``, or FileNotFoundError when no schema is
    given (a reader that needs existing state)."""
    v = latest(spark, path, prefix, before)
    if v is None and schema is None:
        raise FileNotFoundError(f"no committed {prefix}= version under {path}")
    return read(spark, path, prefix, [] if v is None else [v], schema)


def commit(df: DataFrame, path: str, prefix: str, version: int) -> None:
    """Write ``df`` as version ``version``. Overwrite, so a retry of the
    same batch replaces its first attempt instead of adding to it."""
    df.write.mode("overwrite").parquet(version_path(path, prefix, version))


def drop(spark: SparkSession, path: str, prefix: str, ids) -> None:
    """Delete version directories ``ids`` (recursively; absent ones are
    a no-op)."""
    fs, hadoop_path = _fs(spark, path)
    for v in ids:
        fs.delete(hadoop_path(version_path(path, prefix, v)), True)


def prune(spark: SparkSession, path: str, prefix: str, retain: int) -> None:
    """Keep the newest ``retain`` committed versions; delete every older
    directory, committed or not. A retry of batch k reads the newest
    committed version below k, so callers keep at least 2."""
    kept = versions(spark, path, prefix)[-retain:]
    if kept:
        drop(
            spark,
            path,
            prefix,
            [v for v in versions(spark, path, prefix, False) if v < kept[0]],
        )


def check_index_format(path: str, schema: str) -> None:
    """Fail loudly on a persisted index whose format predates ``schema``.

    Three states: marker matches → proceed; marker differs OR data
    exists without a marker (pre-versioning index; any ``batch=`` dir
    counts, committed or not) → raise with a rewrite instruction; no
    marker and no data (fresh index) → stamp the marker now, BEFORE the
    first batch write, so a crash between the first write and any later
    stamp can never produce the unversioned state. The marker lives
    beside the ``batch=`` dirs with a leading underscore, so Spark
    readers and compaction both ignore it.
    """
    marker = os.path.join(path, FORMAT_MARKER)
    if os.path.exists(marker):
        with open(marker, encoding="utf-8") as fh:
            found = fh.read().strip()
        if found != schema:
            raise ValueError(
                f"persisted index at {path} was written with schema "
                f"'{found}' but this engine expects '{schema}'; rebuild "
                "the index (re-run dedup_index over the survivors, or "
                "drop the index dir to re-bootstrap) — refusing to mix "
                "formats, which would silently admit duplicates"
            )
        return
    if versions(SparkSession.active(), path, "batch", False):
        raise ValueError(
            f"persisted index at {path} has no {FORMAT_MARKER} marker "
            f"(written by a pre-versioning engine); expected schema "
            f"'{schema}'. Rebuild the index rather than risking a "
            "mixed-schema read that silently admits duplicates"
        )
    os.makedirs(path, exist_ok=True)
    tmp = marker + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write(schema + "\n")
    os.rename(tmp, marker)


def read_index(
    spark: SparkSession, path: str, schema: str, exclude_batch: int | None
) -> DataFrame:
    """Read an index table: the union of its committed ``batch=``
    versions, empty before the first commit.

    Every failure (storage error, corrupt footer, or a format-marker
    mismatch — see ``check_index_format``) must raise: silently deduping
    against an empty or mis-typed index would admit duplicates and
    permanently pollute the corpus. ``exclude_batch`` drops the current
    batch_id's own version so a foreachBatch retry never reads its
    first attempt's output.
    """
    check_index_format(path, schema)
    ids = [b for b in versions(spark, path, "batch") if b != exclude_batch]
    return read(spark, path, "batch", ids, schema).select(
        *schema.replace(",", " ").split()[::2]
    )
