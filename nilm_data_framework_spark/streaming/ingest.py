"""Structured Streaming analog of the MQTT ingest pipeline (SURVEY.md §2.9).

The reference ingests Shelly MQTT JSON-lines logs in batch
(ola_dataset/preprocess_shelly.py:19-64). The streaming twin:
``readStream`` over the log directory → parse (S4) → watermarked dedup
(P10's keep-first becomes dropDuplicatesWithinWatermark) → tumbling-window
mean resample (A1). Late-data policy mirrors the reference: first record
per (ts, device) wins; absent channels contribute nothing (fillna-0
equivalent in long format).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.schema import MQTT_LOG
from nilm_data_framework_spark.sources.mqtt_json import parsed_mqtt_columns


def read_mqtt_stream(spark: SparkSession, path: str) -> DataFrame:
    """Streaming scan of MQTT JSON-lines logs; malformed lines are dropped
    by the parse (the reference's silent `except: continue`,
    preprocess_shelly.py:42-43 — here an explicit null filter)."""
    raw = spark.readStream.schema(MQTT_LOG).json(path)
    return parsed_mqtt_columns(raw)


def resampled_stream(events: DataFrame) -> DataFrame:
    """Watermarked dedup (2-minute watermark) + 60-second tumbling mean per
    device. Output mode `append` once the watermark passes a window — the
    streaming form of A1."""
    deduped = events.withWatermark("ts", "2 minutes").dropDuplicatesWithinWatermark(
        ["ts", "device"]
    )
    return (
        deduped.groupBy(F.window("ts", "60 seconds").alias("w"), "device")
        .agg(F.avg("apower").alias("avg_power"))
        .select(F.col("w.start").alias("bucket_ts"), "device", "avg_power")
    )


def session_windows(events: DataFrame) -> DataFrame:
    """Session-window aggregation — the streaming twin of the W5 ON-segment
    logic: activity separated by < 5 minutes merges into one session
    (10-minute watermark)."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), "device")
        .agg(F.count(F.lit(1)).alias("n_events"), F.avg("apower").alias("avg_power"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "device",
            "n_events",
            "avg_power",
        )
    )
