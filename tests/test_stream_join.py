"""Stream-stream interval join: batch/stream equivalence and horizon
semantics (matches inside [ts, ts+horizon], non-matches outside)."""

from __future__ import annotations

import json

from solana_etl_spark.streaming.state import await_end
from solana_etl_spark.streaming.stream_join import interval_join_streams

SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _write(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _fixture(tmp_path):
    views = tmp_path / "views"
    clicks = tmp_path / "clicks"
    views.mkdir()
    clicks.mkdir()
    _write(
        views / "v.json",
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": 1,
             "event_type": "view", "value": 0.0},
            {"event_id": 2, "ts": "2024-01-01T01:00:00", "user_id": 2,
             "event_type": "view", "value": 0.0},
        ],
    )
    _write(
        clicks / "c.json",
        [
            # in horizon for view 1 (exactly at the boundary)
            {"event_id": 10, "ts": "2024-01-01T00:10:00", "user_id": 1,
             "event_type": "click", "value": 1.0},
            # before the view: never matches
            {"event_id": 11, "ts": "2023-12-31T23:59:00", "user_id": 1,
             "event_type": "click", "value": 1.0},
            # past the horizon for view 2
            {"event_id": 12, "ts": "2024-01-01T01:20:00", "user_id": 2,
             "event_type": "click", "value": 1.0},
        ],
    )
    return views, clicks


def test_interval_join_batch_semantics(spark, tmp_path):
    views, clicks = _fixture(tmp_path)
    got = interval_join_streams(
        spark.read.schema(SCHEMA).json(str(views)),
        spark.read.schema(SCHEMA).json(str(clicks)),
        key="user_id",
    ).collect()
    assert [(r["l_event_id"], r["r_event_id"]) for r in got] == [(1, 10)]


def test_interval_join_stream_matches_batch(spark, tmp_path):
    views, clicks = _fixture(tmp_path)
    batch = sorted(
        (r["l_event_id"], r["r_event_id"])
        for r in interval_join_streams(
            spark.read.schema(SCHEMA).json(str(views)),
            spark.read.schema(SCHEMA).json(str(clicks)),
            key="user_id",
        ).collect()
    )
    q = (
        interval_join_streams(
            spark.readStream.schema(SCHEMA).json(str(views)),
            spark.readStream.schema(SCHEMA).json(str(clicks)),
            key="user_id",
        )
        .writeStream.format("memory")
        .queryName("sj_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    await_end(q, 120)
    got = sorted(
        (r["l_event_id"], r["r_event_id"])
        for r in spark.sql("SELECT * FROM sj_out").collect()
    )
    assert got == batch == [(1, 10)]
