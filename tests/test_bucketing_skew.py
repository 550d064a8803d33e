"""Scale-strategy tests: bucketed co-located joins plan without an exchange;
salted joins preserve equi-join semantics while spreading hot keys."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.skew import salted_join


@pytest.fixture()
def readings_pdf():
    rows = []
    for house in (1, 2):
        for ch in ("a", "b"):
            for t in range(20):
                rows.append(("d", house, ch, t, float(house * 100 + t)))
    return pd.DataFrame(rows, columns=["dataset", "house_id", "channel_id", "ts", "power"])


def test_bucketed_join_has_no_exchange(spark, readings_pdf):
    # saveAsTable writes to the session warehouse (static conf); the DROP
    # TABLE in the finally deletes the managed tables' files.
    from nilm_data_framework_spark.sources.canonical import (
        READINGS_BUCKETS,
        write_readings_bucketed,
    )

    df = spark.createDataFrame(readings_pdf)
    write_readings_bucketed(df, "t_left")
    write_readings_bucketed(df.withColumn("power", F.col("power") * 2), "t_right")
    try:
        desc = {
            r["col_name"]: r["data_type"]
            for r in spark.sql("DESCRIBE TABLE EXTENDED t_left").collect()
        }
        assert desc["Num Buckets"] == str(READINGS_BUCKETS)
        # aggregate each side on the bucket keys (no exchange: the bucket
        # layout already clusters them), then join on exactly those keys
        left = (
            spark.table("t_left")
            .groupBy("house_id", "channel_id")
            .agg(F.avg("power").alias("avg_l"))
        )
        right = (
            spark.table("t_right")
            .groupBy("house_id", "channel_id")
            .agg(F.avg("power").alias("avg_r"))
        )
        joined = left.join(right, ["house_id", "channel_id"])
        # force a non-broadcast join so the bucketing is what saves the shuffle
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            import contextlib, io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                joined.explain("formatted")
            plan = buf.getvalue()
            exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
            # bucket layout provides the (house, channel) distribution: joins
            # on the bucket keys need no shuffle of either side
            assert len(exchanges) == 0, f"bucketed join still shuffles:\n{plan[:900]}"
            assert joined.count() == 4  # (2 houses × 2 channels)
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    finally:
        spark.sql("DROP TABLE IF EXISTS t_left")
        spark.sql("DROP TABLE IF EXISTS t_right")


def test_salted_join_matches_plain_join(spark):
    # heavy skew: one hot user owns 90% of fact rows
    fact = spark.createDataFrame(
        pd.DataFrame({"user_id": [1] * 90 + [2] * 6 + [3] * 4, "v": range(100)})
    )
    dim = spark.createDataFrame(
        pd.DataFrame({"user_id": [1, 2, 3, 4], "seg": ["a", "b", "c", "d"]})
    )
    plain = fact.join(dim, "user_id").select("user_id", "v", "seg")
    salted = salted_join(fact, dim, on=["user_id"], n_salts=4).select("user_id", "v", "seg")
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer(spark):
    fact = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 5], "v": [10, 11, 12]}))
    dim = spark.createDataFrame(pd.DataFrame({"k": [1], "seg": ["a"]}))
    out = salted_join(fact, dim, on=["k"], n_salts=3, how="left").select("k", "v", "seg")
    got = sorted(map(tuple, out.collect()))
    assert got == [(1, 10, "a"), (1, 11, "a"), (5, 12, None)]
