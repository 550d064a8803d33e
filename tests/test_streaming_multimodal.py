"""Structured Streaming ingest (§2.9) and multimodal plumbing (§2.10)."""

from __future__ import annotations

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import multimodal as M
from nilm_data_framework_spark.schema import MEDIA_ASSETS
from nilm_data_framework_spark.streaming.ingest import read_mqtt_stream, resampled_stream


def test_streaming_mqtt_resample(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    with open(logs / "mqtt.log.1", "w") as f:
        for i in range(10):
            f.write(
                json.dumps(
                    {
                        "ts": 1700000000.0 + i * 10,
                        "payload": {
                            "dst": "kettle/events",
                            "params": {"switch:0": {"apower": float(100 + i)}},
                        },
                    }
                )
                + "\n"
            )
    stream = read_mqtt_stream(spark, str(logs))
    assert stream.isStreaming
    agg = resampled_stream(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("mqtt_agg")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from mqtt_agg order by bucket_ts").collect()
    assert len(rows) == 2  # 100s span → two epoch-aligned 60s buckets
    assert rows[0]["device"] == "kettle"
    # epoch-aligned bucket [1699999980, 1700000040) holds i=0..3 →
    # avg(100..103) = 101.5; next bucket holds i=4..9 → avg = 106.5
    assert abs(rows[0]["avg_power"] - 101.5) < 1e-9
    assert abs(rows[1]["avg_power"] - 106.5) < 1e-9
    q.stop()


def test_streaming_dedup_within_watermark(spark, tmp_path):
    logs = tmp_path / "logs2"
    logs.mkdir()
    rec = {
        "ts": 1700000000.0,
        "payload": {"dst": "fridge/events", "params": {"switch:0": {"apower": 42.0}}},
    }
    with open(logs / "mqtt.log.1", "w") as f:
        f.write(json.dumps(rec) + "\n")
        f.write(json.dumps(rec) + "\n")  # exact duplicate (ts, device)
    stream = read_mqtt_stream(spark, str(logs))
    agg = resampled_stream(stream)
    q = (
        agg.writeStream.format("memory")
        .queryName("mqtt_dedup")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from mqtt_dedup").collect()
    assert len(rows) == 1 and abs(rows[0]["avg_power"] - 42.0) < 1e-9
    q.stop()


@pytest.fixture()
def assets(spark):
    pdf = pd.DataFrame(
        {
            "asset_id": [1, 2, 3],
            "modality": ["image", "audio", "video"],
            "mime_type": ["image/png", "audio/wav", "video/mp4"],
            "payload": [b"\x89PNG fake", b"RIFF fake", b"\x00\x00ftyp fake"],
            "width": [64, None, 1920],
            "height": [64, None, 1080],
            "duration_ms": [None, 2000, 3500],
        }
    )
    return spark.createDataFrame(pdf, schema=MEDIA_ASSETS)


def test_multimodal_features_deterministic(spark, assets):
    out1 = {r["asset_id"]: list(r["features"]) for r in M.extract_features(assets).collect()}
    out2 = {r["asset_id"]: list(r["features"]) for r in M.extract_features(assets).collect()}
    assert out1 == out2
    assert all(len(v) == M.FEATURE_DIM for v in out1.values())
    nbytes = {r["asset_id"]: r["n_bytes"] for r in M.extract_features(assets).collect()}
    assert nbytes == {1: 9, 2: 9, 3: 11}


def test_multimodal_real_decode_is_stubbed(spark, assets):
    with pytest.raises(Exception, match="NotImplementedError|real multimodal decode"):
        M.extract_features(assets, decode="real").collect()


def test_frame_sampling_shape(spark, assets):
    frames = M.sample_frames(assets, every_ms=1000).collect()
    by_asset: dict[int, int] = {}
    for r in frames:
        by_asset[r["asset_id"]] = by_asset.get(r["asset_id"], 0) + 1
    # duration None → 1 frame; 2000ms → 2; 3500ms → 3
    assert by_asset == {1: 1, 2: 2, 3: 3}
    assert all(len(r["features"]) == M.FEATURE_DIM for r in frames)


def test_streaming_session_windows(spark, tmp_path):
    from nilm_data_framework_spark.streaming.ingest import session_windows

    logs = tmp_path / "logs3"
    logs.mkdir()
    # two activity bursts 10 min apart → two sessions with a 5 min gap rule
    events = [0, 30, 60] + [660, 690]
    with open(logs / "mqtt.log.1", "w") as f:
        for off in events:
            f.write(
                json.dumps(
                    {
                        "ts": 1700000000.0 + off,
                        "payload": {
                            "dst": "kettle/events",
                            "params": {"switch:0": {"apower": 500.0}},
                        },
                    }
                )
                + "\n"
            )
    stream = read_mqtt_stream(spark, str(logs))
    from nilm_data_framework_spark.streaming.ingest import session_windows as sw

    sess = sw(stream)
    q = (
        sess.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from sess_out order by session_start").collect()
    assert [r["n_events"] for r in rows] == [3, 2]
    # session end extends gap past the last event
    assert rows[0]["session_end"].timestamp() - 1700000060.0 == 300.0
    q.stop()


def test_foreachbatch_merge_upsert_sink(spark, tmp_path):
    """The exactly-once sink topology: stream micro-batches applied to the
    canonical store via MERGE in foreachBatch. Replaying the same batch must
    be idempotent (upsert, not append) — the property that makes the sink
    safe under Structured Streaming's at-least-once batch redelivery."""
    from nilm_data_framework_spark.sources.canonical import (
        merge_upsert_partitioned,
        read_readings,
    )

    schema = "dataset string, house_id int, channel_id int, ts long, value double"
    base = spark.createDataFrame(
        [("refit", 1, 1, 100, 1.0), ("refit", 2, 1, 100, 3.0)], schema
    )
    store = str(tmp_path / "store")
    (
        base.repartition("dataset", "house_id")
        .write.mode("overwrite")
        .partitionBy("dataset", "house_id")
        .parquet(store)
    )

    # changelog stream: two files → two micro-batches
    src = tmp_path / "changes"
    src.mkdir()
    spark.createDataFrame(
        [("refit", 1, 1, 100, 10.0), ("refit", 1, 1, 200, 2.0)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b1"))
    spark.createDataFrame(
        [("refit", 1, 1, 200, 20.0)], schema
    ).coalesce(1).write.mode("overwrite").parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        f"{src}/b*"
    )

    def apply_batch(batch_df, batch_id):
        merge_upsert_partitioned(spark, batch_df, store)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    final = {
        (r["house_id"], r["ts"]): r["value"]
        for r in read_readings(spark, store).collect()
    }
    assert final == {(1, 100): 10.0, (1, 200): 20.0, (2, 100): 3.0}

    # idempotent replay: re-applying the last batch changes nothing
    last = spark.createDataFrame([("refit", 1, 1, 200, 20.0)], schema)
    merge_upsert_partitioned(spark, last, store)
    again = {
        (r["house_id"], r["ts"]): r["value"]
        for r in read_readings(spark, store).collect()
    }
    assert again == final
