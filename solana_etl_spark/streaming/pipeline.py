"""Structured-Streaming wrapper over the batch task pipelines (ST1–ST3).

The reference's "streaming" is a driver loop appending CSVs per block
(src/extract/ExtractStreaming.py:25-45). Spark-native shape: the extract
loop (sources/extract.py) drops ``{bucket}/{slot}.json.gz`` files; a file
stream picks them up; ``foreachBatch`` runs the SAME batch pipelines
(plans/tasks.py) and appends per-task sinks. One pipeline definition serves
batch and streaming — and checkpointing upgrades the reference's
at-least-once append to exactly-once file output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from solana_etl_spark.plans.tasks import run_all_tasks_with_handle
from solana_etl_spark.sinks import append_csv_exactly_once
from solana_etl_spark.sources.blocks import block_rows
from solana_etl_spark.streaming import state


def read_block_stream(
    spark: SparkSession,
    blocks_dir: str,
    max_files_per_trigger: int = 64,
    account_keys_as_strings: bool = False,
) -> DataFrame:
    """File-based block stream with the same row shape as sources.read_blocks."""
    return block_rows(
        spark.readStream.option("maxFilesPerTrigger", max_files_per_trigger),
        f"{blocks_dir}/*",
        account_keys_as_strings,
    )


def start_streaming_load(
    spark: SparkSession,
    blocks_dir: str,
    destination_dir: str,
    checkpoint_dir: str | None = None,
    max_files_per_trigger: int = 64,
) -> StreamingQuery:
    """Stream blocks → the three task tables + errors, appended as CSV per
    micro-batch (header-on-create parity with ExtractStreaming.py:28-33)."""
    checkpoint_dir = checkpoint_dir or os.path.join(destination_dir, "_checkpoint")
    stream = read_block_stream(spark, blocks_dir, max_files_per_trigger)

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # unpersist after the per-task writes: a long-running stream would
        # otherwise accumulate one cached transactions view per micro-batch
        outputs, persisted = run_all_tasks_with_handle(batch_df)
        try:
            for name, df in outputs.items():
                append_csv_exactly_once(
                    df, os.path.join(destination_dir, name), batch_id
                )
        finally:
            persisted.unpersist()

    return state.start_batches(stream, process_batch, checkpoint_dir)
