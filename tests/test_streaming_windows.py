"""Watermarked windowed aggregation: batch/stream equivalence and late-data
dropping."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from solana_etl_spark.streaming.state import await_end
from solana_etl_spark.streaming.windows import windowed_event_counts


def _write_events(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_batch_and_stream_agree(spark, tmp_path):
    src = tmp_path / "events"
    src.mkdir()
    rows = [
        {"event_id": i, "ts": f"2024-01-01T{h:02d}:15:00", "user_id": 1,
         "event_type": t, "value": 1.5}
        for i, (h, t) in enumerate(
            [(0, "view"), (0, "view"), (1, "click"), (2, "view"), (2, "click")]
        )
    ]
    _write_events(src / "e.json", rows)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    batch = windowed_event_counts(spark.read.schema(schema).json(str(src)))
    batch_rows = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in batch.collect()
    }
    assert batch_rows[("2024-01-01 00:00:00", "view")] == (2, 3.0)
    assert batch_rows[("2024-01-01 02:00:00", "click")] == (1, 1.5)

    stream = spark.readStream.schema(schema).json(str(src))
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    await_end(q, 120)
    stream_rows = {
        (str(r.window_start), r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM win_out").collect()
    }
    assert stream_rows == batch_rows


def test_streaming_dedup_bounded_state(spark, tmp_path):
    """Exact streaming dedup: redelivered event_ids within the watermark are
    dropped; stream output matches batch dropDuplicates on the same files."""
    from solana_etl_spark.streaming.windows import dedup_events

    src = tmp_path / "dup_events"
    src.mkdir()
    # batch 1: events 0..4; batch 2 (separate file): redeliveries of 1,3 + new 5
    _write_events(
        src / "a.json",
        [
            {"event_id": i, "ts": f"2024-01-01T00:0{i}:00", "user_id": 1,
             "event_type": "view", "value": 1.0}
            for i in range(5)
        ],
    )
    _write_events(
        src / "b.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:01:30", "user_id": 1,
             "event_type": "view", "value": 1.0},
            {"event_id": 3, "ts": "2024-01-01T00:03:30", "user_id": 1,
             "event_type": "view", "value": 1.0},
            {"event_id": 5, "ts": "2024-01-01T00:05:00", "user_id": 1,
             "event_type": "view", "value": 1.0},
        ],
    )
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"

    batch_ids = sorted(
        r.event_id
        for r in dedup_events(spark.read.schema(schema).json(str(src))).collect()
    )
    assert batch_ids == [0, 1, 2, 3, 4, 5]

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(str(src))
    q = (
        dedup_events(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .start()
    )
    await_end(q, 120)
    stream_ids = sorted(
        r.event_id for r in spark.sql("SELECT event_id FROM dedup_out").collect()
    )
    assert stream_ids == batch_ids
