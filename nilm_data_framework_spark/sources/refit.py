"""S1: REFIT CSV source (reference UnifiedNILM/REFITLoader.py:36-56).

One ``CLEAN_House{N}.csv`` per house; the reference loops files and builds
per-channel pandas frames. Spark-first: ONE glob scan of all houses, house id
from ``input_file_name()``, wide appliance columns unpivoted to the long
``readings`` shape. Declared schema → no inference pass; the unpivot is a
narrow ``stack`` — zero shuffles end-to-end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.schema import REFIT_CSV

APPLIANCE_COLS = [f"Appliance{i}" for i in range(1, 10)]


def read_refit(spark: SparkSession, path_glob: str) -> DataFrame:
    """Scan CLEAN_House*.csv → long readings:
    (dataset='refit', house_id, channel_id, ts, power).

    channel_id 'Aggregate' keeps the whole-house meter; 'Appliance{i}'
    matches the reference's per-column channels. The Time/Issues columns are
    projected away (P1) — with a declared schema Catalyst never reads them.
    """
    raw = (
        spark.read.schema(REFIT_CSV)
        .option("header", True)
        .csv(path_glob)
        .withColumn(
            "house_id",
            F.regexp_extract(F.input_file_name(), r"CLEAN_House(\d+)\.csv", 1).cast("int"),
        )
    )
    stack_expr = ", ".join(
        [f"'{c}', `{c}`" for c in ["Aggregate", *APPLIANCE_COLS]]
    )
    n = 1 + len(APPLIANCE_COLS)
    return (
        raw.select(
            F.lit("refit").alias("dataset"),
            "house_id",
            F.timestamp_seconds(F.col("Unix")).alias("ts"),
            F.expr(f"stack({n}, {stack_expr}) as (channel_id, power)"),
        )
        .filter(F.col("power").isNotNull())
        .select("dataset", "house_id", "channel_id", "ts", "power")
    )
