"""Command-line entry points mirroring the reference's console scripts
(reference setup.py:27-29):

* ``load-file``          ≙ solana-load-file   (FileOutput.py:186-206)
* ``extract-batch``      ≙ solana-extract-batch (ExtractBatch.py:26-55)
* ``extract-streaming``  ≙ solana-extract-streaming (ExtractStreaming.py:48-79)

Usage: ``python -m solana_etl_spark.cli <command> ...``
"""

from __future__ import annotations

import argparse
import sys

from solana_etl_spark.plans.tasks import (
    INGEST_ERROR_NAME,
    TASK_ERROR_NAMES,
    VALID_TASKS,
    run_all_tasks_with_handle,
)
from solana_etl_spark.sinks import FORMATS, write_task_outputs


def expand_tasks(names: list[str]) -> set[str]:
    """Task-name normalization: case-insensitive, 'all' expands
    (reference TransformTask.from_names, TransformTask.py:183-192)."""
    tasks: set[str] = set()
    for name in names:
        n = name.lower()
        if n == "all":
            return set(VALID_TASKS)
        if n not in VALID_TASKS:
            raise KeyError(name)
        tasks.add(n)
    return tasks


def cmd_load_file(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="load-file")
    p.add_argument("tasks", help="comma list of tasks or 'all'")
    p.add_argument("blocks_dir")
    p.add_argument("destination_dir")
    p.add_argument(
        "--destination_format",
        choices=FORMATS,
        default="csv",
        help="csv/parquet mirror the reference; orc/json (JSONL) are extras",
    )
    p.add_argument("--keep_subdirs", action="store_true",
                   help="partition outputs by slot bucket instead of one output")
    p.add_argument(
        "--single_file",
        action=argparse.BooleanOptionalAction,
        default=True,
        help="coalesce each output to one file, one per slot bucket under "
        "--keep_subdirs (--no-single_file for many-file parallel writes)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from solana_etl_spark.session import get_spark
    from solana_etl_spark.sources import read_blocks

    try:
        tasks = expand_tasks(args.tasks.split(","))
    except KeyError as e:
        p.error(f"unknown task {e}; valid: {', '.join(VALID_TASKS)} or 'all'")
    from pyspark.sql import SparkSession

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="load-file")
    blocks = read_blocks(spark, f"{args.blocks_dir}/**/*.json*")
    outputs, persisted = run_all_tasks_with_handle(blocks)
    selected = {k: v for k, v in outputs.items() if k in tasks}
    # a literal name filter: Spark prunes the union branches of unselected
    # tasks, so their views are never built
    selected["errors"] = outputs["errors"].filter(
        F.col("name").isin(
            INGEST_ERROR_NAME,
            *(TASK_ERROR_NAMES[t] for t in tasks if t in TASK_ERROR_NAMES),
        )
    )
    try:
        write_task_outputs(
            selected,
            args.destination_dir,
            fmt=args.destination_format,
            single_file=args.single_file,
            keep_subdirs=args.keep_subdirs,
        )
    finally:
        persisted.unpersist()
    if owns_session:
        spark.stop()
    return 0


def cmd_extract_batch(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="extract-batch")
    p.add_argument("output_loc")
    p.add_argument("--endpoint", default=None)
    p.add_argument("--start", type=int, required=True)
    p.add_argument("--end", type=int, default=None)
    p.add_argument("--slots_per_dir", type=int, default=10_000)
    args = p.parse_args(argv)

    from solana_etl_spark.sources.extract import (
        DEFAULT_ENDPOINT,
        extract_batch,
        rpc_fetcher,
    )

    fetch = rpc_fetcher(args.endpoint or DEFAULT_ENDPOINT)
    n = extract_batch(fetch, args.output_loc, args.start, args.end, args.slots_per_dir)
    print(f"wrote {n} blocks")
    return 0


def cmd_extract_streaming(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="extract-streaming")
    p.add_argument("blocks_dir", help="directory the extract loop writes to")
    p.add_argument("destination_dir")
    p.add_argument("--checkpoint_dir", default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from solana_etl_spark.session import get_spark
    from solana_etl_spark.streaming.pipeline import start_streaming_load

    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name="extract-streaming")
    q = start_streaming_load(
        spark, args.blocks_dir, args.destination_dir, args.checkpoint_dir
    )
    q.awaitTermination()
    if owns_session:
        spark.stop()
    return 0


COMMANDS = {
    "load-file": cmd_load_file,
    "extract-batch": cmd_extract_batch,
    "extract-streaming": cmd_extract_streaming,
}


def main(argv: list[str] | None = None) -> int:
    argv = argv if argv is not None else sys.argv[1:]
    if not argv or argv[0] not in COMMANDS:
        print(f"usage: python -m solana_etl_spark.cli {{{'|'.join(COMMANDS)}}} ...")
        return 2
    return COMMANDS[argv[0]](argv[1:])


if __name__ == "__main__":
    sys.exit(main())
