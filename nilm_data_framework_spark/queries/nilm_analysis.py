"""Analysis-API queries (SURVEY.md §2.4 aggregations + §2.2 selectors) over
the ``events`` table playing ``readings`` (user_id→house, event_type→channel
label, value→power). Beyond the reference's analysis API: coverage gaps,
burst hours, co-activation, steady-state segments and power-step
signatures (Hart-style edge detection), SAX/Haar/cross-correlation series
mining, changepoints, and Holt forecasting.

Float-aggregate outputs are rounded (sum→2dp, avg/var-derived→4dp) in BOTH
engines: Spark's partial aggregation is partition-order-nondeterministic at
the last ulp, so unrounded double sums are not hash-stable anywhere. Counts,
mins/maxes and integer math are left exact. Timestamp deltas use exact
integer microseconds (unix_micros/epoch_us) so medians/averages are
bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import aggregates as agg
from nilm_data_framework_spark.operators import resample as rs
from nilm_data_framework_spark.operators import selectors as sel
from nilm_data_framework_spark.operators.exact_math import (
    trunc_div_sql,
    u6_mean_e4,
    u6_mean_e4_sql,
)
from nilm_data_framework_spark.operators.scale_windows import bucketed_ntile
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import EVENT_TYPES, _events
from nilm_data_framework_spark.sources.testdata import load_table


# --- A1 resample -----------------------------------------------------------

@query(
    "resample_hourly_mean",
    oracle="""
    SELECT user_id, event_type,
           date_trunc('hour', ts) AS bucket_ts,
           round(avg(value), 4) AS avg_value,
           count(*) AS n
    FROM events GROUP BY ALL
    """,
    survey_ref="§2.4 A1 (UnifiedNILM.py:66-124)",
)
def resample_hourly_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("bucket_ts")
    ).agg(F.round(F.avg("value"), 4).alias("avg_value"), F.count(F.lit(1)).alias("n"))


@query(
    "resample_300s_mean",
    oracle="""
    SELECT user_id,
           CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY ALL
    """,
    survey_ref="§2.4 A1 tumbling window (UnifiedNILM.py:122)",
)
def resample_300s_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    res = rs.resample_mean(ev, ["user_id"], 300, value="value", out_value="v")
    return res.select(
        "user_id",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.round("v", 4).alias("avg_value"),
    )


# --- A1 with the upsample guard -----------------------------------------------
# threshold 27000 s ≈ the median of per-user median inter-event gaps, so
# BOTH branches are active: ~half the users pass through un-resampled
# (reference skip at UnifiedNILM.py:118-120), the rest get bucketed.

@query(
    "resample_guarded",
    oracle="""
    WITH d AS (
      SELECT user_id,
             epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS delta
      FROM events
    ),
    rates AS (
      SELECT user_id, median(delta) AS rate_s FROM d WHERE delta > 0 GROUP BY user_id
    ),
    tagged AS (
      SELECT e.user_id, e.ts, e.value, r.rate_s
      FROM events e LEFT JOIN rates r USING (user_id)
    ),
    fine AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 27000) * 27000 AS BIGINT) AS bucket_s,
             avg(value) AS power
      FROM tagged WHERE rate_s IS NULL OR rate_s <= 27000
      GROUP BY ALL
    ),
    coarse AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS bucket_s, value AS power
      FROM tagged WHERE rate_s > 27000
    )
    SELECT user_id, bucket_s, round(power, 4) AS power
    FROM (SELECT * FROM fine UNION ALL SELECT * FROM coarse)
    """,
    survey_ref="§2.4 A1 upsample guard (UnifiedNILM.py:118-120; metadata-driven plan step)",
)
def resample_guarded(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    out = rs.resample_mean_guarded(ev, ["user_id"], 27000, value="value")
    return out.select(
        "user_id",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.round("power", 4).alias("power"),
    )


# --- A2 aggregate-from-appliances -------------------------------------------

@query(
    "aggregate_from_appliances",
    oracle="""
    SELECT user_id,
           CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS bucket_s,
           round(sum(value), 2) AS aggregate_computed
    FROM events
    WHERE lower(event_type) <> 'error'
    GROUP BY ALL
    """,
    survey_ref="§2.4 A2 (UnifiedNILM.py:438-490): P7 exclusion + groupBy-sum",
)
def aggregate_from_appliances(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 'error' plays the non-appliance channel excluded by the P7 predicate.
    ev = _events(spark, sf_dir).filter(F.lower("event_type") != "error")
    out = agg.aggregate_from_appliances(ev, ["user_id"], seconds=300, value="value")
    return out.select(
        "user_id",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.round("aggregate_computed", 2).alias("aggregate_computed"),
    )


# --- A3 dedup-mean ----------------------------------------------------------

@query(
    "dedup_mean_per_key",
    oracle="""
    SELECT user_id, event_type, date_trunc('minute', ts) AS minute_ts,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY ALL
    """,
    survey_ref="§2.4 A3 (preprocess_shelly.py:63)",
)
def dedup_mean_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("minute_ts", F.date_trunc("minute", "ts"))
    out = agg.dedup_mean(ev, ["user_id", "event_type", "minute_ts"], "value")
    return out.withColumn("avg_value", F.round("avg_value", 4))


# --- A5 daily activity -------------------------------------------------------

@query(
    "daily_activity",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', ts) AS day, event_type, sum(value) AS day_sum
      FROM events GROUP BY ALL
    )
    SELECT day, count(CASE WHEN day_sum > 0 THEN 1 END) AS active_devices
    FROM daily GROUP BY day
    """,
    survey_ref="§2.4 A5 (insights_oladatasets.ipynb cell 1)",
)
def daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.daily_activity(_events(spark, sf_dir), device="event_type", value="value")


# --- A6 rate inference --------------------------------------------------------

@query(
    "rate_inference",
    oracle="""
    WITH deltas AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS delta_us
      FROM events
    )
    SELECT user_id, median(delta_us) / 1e6 AS rate_s
    FROM deltas WHERE delta_us > 0 GROUP BY user_id
    """,
    survey_ref="§2.4 A6 (REFITLoader.py:82-89, UnifiedNILM.py:96-109)",
)
def rate_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    return (
        ev.withColumn("delta_us", us - F.lag(us).over(w))
        .filter(F.col("delta_us") > 0)
        .groupBy("user_id")
        .agg((F.expr("median(delta_us)") / 1e6).alias("rate_s"))
    )


# --- A7 interval statistics ---------------------------------------------------

@query(
    "interval_stats",
    oracle="""
    WITH deltas AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS delta_us
      FROM events
    )
    SELECT user_id,
           avg(delta_us) AS mean_delta_us,
           count(DISTINCT delta_us) AS n_distinct_deltas,
           count(*) AS n_deltas
    FROM deltas WHERE delta_us > 0 GROUP BY user_id
    """,
    survey_ref="§2.4 A7 (visualize_sampling_rate.ipynb cell 0)",
)
def interval_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    return (
        ev.withColumn("delta_us", us - F.lag(us).over(w))
        .filter(F.col("delta_us") > 0)
        .groupBy("user_id")
        .agg(
            F.avg("delta_us").alias("mean_delta_us"),
            F.countDistinct("delta_us").alias("n_distinct_deltas"),
            F.count(F.lit(1)).alias("n_deltas"),
        )
    )


# --- A7/P15 interval histogram (outlier-filtered, binned counts) ---------------

@query(
    "interval_histogram",
    oracle="""
    WITH deltas AS (
      SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                     ORDER BY ts, event_id)) / 1e6
               AS delta_s
      FROM events
    )
    SELECT CAST(floor(delta_s / 3600) AS INT) AS bin_h, count(*) AS n
    FROM deltas WHERE delta_s > 0 AND delta_s <= 86400
    GROUP BY bin_h
    """,
    survey_ref="§2.4 A7 histogram + §2.2 P15 outlier filter (visualize_sampling_rate.ipynb cell 0)",
)
def interval_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    return (
        ev.withColumn("delta_s", (us - F.lag(us).over(w)) / 1e6)
        .filter((F.col("delta_s") > 0) & (F.col("delta_s") <= 86400))
        .groupBy(F.floor(F.col("delta_s") / 3600).cast("int").alias("bin_h"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- A8 active hours ----------------------------------------------------------

@query(
    "active_hours",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour, avg(value) AS hour_avg
      FROM events GROUP BY ALL
    )
    SELECT event_type, count(CASE WHEN hour_avg > 0 THEN 1 END) AS active_hours
    FROM hourly GROUP BY event_type
    """,
    survey_ref="§2.4 A8 (insights_oladatasets.ipynb cell 2)",
)
def active_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.active_hours(_events(spark, sf_dir), device="event_type", value="value")


# --- A9/A11 channel stats ------------------------------------------------------

@query(
    "channel_stats",
    oracle="""
    SELECT event_type,
           round(var_samp(value), 4) AS var_value,
           round(stddev_samp(value), 4) AS std_value,
           count(*) AS n,
           min(value) AS min_value,
           max(value) AS max_value,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    survey_ref="§2.4 A9/A11 (channel_utils.py:63-71, ConvertToH5.py:119-131)",
)
def channel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg.channel_stats(_events(spark, sf_dir), ["event_type"], value="value")
    return out.select(
        "event_type",
        F.round("var_value", 4).alias("var_value"),
        F.round("std_value", 4).alias("std_value"),
        "n",
        "min_value",
        "max_value",
        F.round("sum_value", 2).alias("sum_value"),
    )


# --- A10 quantile ---------------------------------------------------------------

@query(
    "quantile_99",
    oracle="""
    SELECT user_id, round(quantile_cont(value, 0.99), 4) AS q99
    FROM events GROUP BY user_id
    """,
    survey_ref="§2.4 A10 (train_bert_single.py:48-53)",
)
def quantile_99(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg.exact_quantile(_events(spark, sf_dir), ["user_id"], "value", 0.99, out="q99")
    return out.withColumn("q99", F.round("q99", 4))


# --- A12 pairwise correlation ----------------------------------------------------

@query(
    "pairwise_corr",
    oracle="""
    WITH b AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
             avg(value) AS v
      FROM events GROUP BY ALL
    )
    SELECT l.event_type AS a, r.event_type AS b,
           round(corr(l.v, r.v), 4) AS pearson
    FROM b l JOIN b r ON l.bucket_s = r.bucket_s AND l.event_type < r.event_type
    GROUP BY ALL
    """,
    survey_ref="§2.4 A12/A13 (insights_oladatasets.ipynb cell 3)",
)
def pairwise_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg.pairwise_corr(
        _events(spark, sf_dir), pair_col="event_type", value="value", seconds=3600
    )
    return out.withColumn("pearson", F.round("pearson", 4))


# --- A14 distinct labels ----------------------------------------------------------

@query(
    "distinct_labels",
    oracle="SELECT DISTINCT event_type FROM events",
    survey_ref="§2.4 A14 (ConvertToTensor.py:35-44)",
)
def distinct_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return agg.distinct_labels(_events(spark, sf_dir), col="event_type")


# --- A15 median of rates ------------------------------------------------------------

@query(
    "median_rates",
    oracle="""
    WITH deltas AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS delta_us
      FROM events
    ), rates AS (
      SELECT user_id, median(delta_us) / 1e6 AS rate_s
      FROM deltas WHERE delta_us > 0 GROUP BY user_id
    )
    SELECT median(rate_s) AS median_rate_s, count(*) AS n_houses FROM rates
    """,
    survey_ref="§2.4 A15 (REFITLoader.py:111-116)",
)
def median_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    rates = rate_inference(spark, sf_dir)
    return rates.agg(
        F.expr("median(rate_s)").alias("median_rate_s"), F.count(F.lit(1)).alias("n_houses")
    )


# --- P3 time-range slice -------------------------------------------------------------

@query(
    "time_range_slice",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-03 00:00:00' AND ts <= TIMESTAMP '2024-01-05 23:59:59'
    """,
    survey_ref="§2.2 P3 (UnifiedNILM.py:397,410,484)",
)
def time_range_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    sliced = sel.time_range(ev, ts="ts", start="2024-01-03 00:00:00", end="2024-01-05 23:59:59")
    return sliced.select("event_id", "user_id", "event_type", "value")


# --- P4 label filter + semi join ------------------------------------------------------

@query(
    "label_filter",
    oracle="""
    SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM events WHERE lower(event_type) = 'purchase'
    GROUP BY user_id
    """,
    survey_ref="§2.2 P4 (UnifiedNILM.py:187-195,385-400)",
)
def label_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.filter(F.lower("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


# --- P7 multi-exclusion ----------------------------------------------------------------

@query(
    "multi_exclusion",
    oracle="""
    SELECT user_id, event_type, count(*) AS n
    FROM events
    WHERE lower(event_type) NOT IN ('error', 'signup')
      AND user_id NOT IN (0, 1)
      AND value >= 10.0
    GROUP BY ALL
    """,
    survey_ref="§2.2 P7 (UnifiedNILM.py:457-475)",
)
def multi_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.filter(
            ~F.lower("event_type").isin("error", "signup")
            & ~F.col("user_id").isin(0, 1)
            & (F.col("value") >= 10.0)
        )
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- A13 two-metric correlation per device -----------------------------------------------

@query(
    "corr_two_metrics",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
    survey_ref="§2.4 A13 (visualize_emonesp.ipynb cell 0: W↔Q corr over a time slice)",
)
def corr_two_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    sliced = sel.time_range(li, ts="l_shipdate", start="1995-01-01")
    sliced = sliced.filter(F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    return sliced.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("qty_price_corr"),
        F.count(F.lit(1)).alias("n"),
    )


# --- P5/P6 channel selectors ------------------------------------------------------------
# The testdata has no channels dim, so both sides derive one: distinct
# (user_id, event_type) with raw_label = 'aggregate' for 'view' (the
# house-level mains analog) and a VALUES dim mapping event_type →
# (data_type, acquisition_device), mirroring ACQUISITION_DEVICE_POWER_TYPES
# (UKDALELoader.py:9-14).

_CHANNELS_SQL = """
      SELECT DISTINCT e.user_id, e.event_type,
             CASE WHEN e.event_type = 'view' THEN 'aggregate' ELSE e.event_type END AS raw_label,
             t.data_type, t.acquisition_device
      FROM events e
      JOIN (VALUES ('click', 'active', 'shelly'), ('view', 'active', 'mains'),
                   ('purchase', 'apparent', 'emonesp'), ('signup', 'reactive', 'shelly'),
                   ('error', 'active', 'emonesp'))
           AS t(event_type, data_type, acquisition_device)
        ON e.event_type = t.event_type
"""

_TYPE_DIM = [
    ("click", "active", "shelly"),
    ("view", "active", "mains"),
    ("purchase", "apparent", "emonesp"),
    ("signup", "reactive", "shelly"),
    ("error", "active", "emonesp"),
]


def _channels_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    dim = spark.createDataFrame(
        _TYPE_DIM, "event_type string, data_type string, acquisition_device string"
    )
    return (
        ev.select("user_id", "event_type")
        .distinct()
        .withColumn(
            "raw_label",
            F.when(F.col("event_type") == "view", "aggregate").otherwise(
                F.col("event_type")
            ),
        )
        .join(F.broadcast(dim), "event_type")
    )


@query(
    "aggregate_channel_select",
    oracle=f"""
    WITH channels AS ({_CHANNELS_SQL})
    SELECT e.user_id, count(*) AS n, round(sum(e.value), 2) AS sum_value
    FROM events e
    JOIN (SELECT user_id, event_type FROM channels WHERE lower(raw_label) = 'aggregate') a
      ON e.user_id = a.user_id AND e.event_type = a.event_type
    GROUP BY e.user_id
    """,
    survey_ref="§2.2 P5 (UnifiedNILM.py:403-411 get_aggregate first-match)",
)
def aggregate_channel_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    agg_ch = sel.aggregate_channel(_channels_dim(spark, sf_dir)).select(
        "user_id", "event_type"
    )
    return (
        # agg_ch is per-user (sf-scaled) — no forced broadcast; AQE decides.
        ev.join(agg_ch, ["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    )


@query(
    "power_type_device_filter",
    oracle=f"""
    WITH channels AS ({_CHANNELS_SQL})
    SELECT e.user_id, e.event_type, count(*) AS n
    FROM events e
    JOIN (SELECT user_id, event_type FROM channels
          WHERE lower(data_type) = 'active' AND lower(acquisition_device) = 'shelly') c
      ON e.user_id = c.user_id AND e.event_type = c.event_type
    GROUP BY ALL
    """,
    survey_ref="§2.2 P6 (UnifiedNILM.py:414-434 get_channels_by_power_type)",
)
def power_type_device_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    chans = sel.by_power_type(
        _channels_dim(spark, sf_dir), "active", device="shelly"
    ).select("user_id", "event_type")
    return (
        # chans is per-user (sf-scaled) — no forced broadcast; AQE decides.
        ev.join(chans, ["user_id", "event_type"])
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- P12/P13/P14 binarize + activity mask + clip -------------------------------------------

@query(
    "binarize_activity",
    oracle="""
    SELECT user_id,
           count(CASE WHEN value >= 100.0 THEN 1 END) AS n_on,
           count(*) AS n_total,
           CAST(sum(least(greatest(CAST(floor(value * 10) AS BIGINT), 0), 10000))
                AS BIGINT) AS sum_clipped_e4
    FROM events GROUP BY user_id
    HAVING count(CASE WHEN value >= 100.0 THEN 1 END) > 5
    """,
    survey_ref="§2.2 P12/P13/P14 (postprocessing.py:32-42, train_bert_single.py:71-78)",
)
def binarize_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sel.binarize(_events(spark, sf_dir), "value", 100.0)
    # clip in integer 1e-4 space (value/1000 scaled by 1e4 == value*10,
    # floored): per-element truncation BEFORE the sum makes the clipped
    # total an exact integer — a float sum's accumulation order diverges
    # across engines at a 4dp boundary (observed at sf0.1, r5)
    clipped_e4 = sel.clip(
        F.floor(F.col("value") * 10).cast("long"), F.lit(0), F.lit(10000)
    )
    return (
        ev.groupBy("user_id")
        .agg(
            F.sum("state").alias("n_on"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(clipped_e4).alias("sum_clipped_e4"),
        )
        .filter(F.col("n_on") > 5)
        .select(
            "user_id", F.col("n_on").cast("long").alias("n_on"), "n_total",
            "sum_clipped_e4",
        )
    )


# --- composed end-to-end pipeline (reference entry point 2, one plan) -------------
# selector → exclusion → resample → aggregate-from-appliances → activity stats,
# all composed lazily so Catalyst optimizes ACROSS operator boundaries (one
# scan, pushdown through the whole chain).

@query(
    "nilm_end_to_end",
    oracle="""
    WITH sliced AS (
      SELECT * FROM events
      WHERE ts >= TIMESTAMP '2024-01-05' AND ts <= TIMESTAMP '2024-01-25 23:59:59'
        AND lower(event_type) NOT IN ('error', 'signup')
    ),
    resampled AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_s,
             sum(value) AS agg_value
      FROM sliced GROUP BY ALL
    )
    SELECT user_id,
           count(*) AS n_buckets,
           round(sum(agg_value), 2) AS total_agg,
           round(max(agg_value), 2) AS peak_agg,
           count(CASE WHEN agg_value > 50.0 THEN 1 END) AS n_active
    FROM resampled GROUP BY user_id
    """,
    survey_ref="§3 entry point 2 composed: P3+P7 → A1 → A2 → A8 in one Catalyst plan",
)
def nilm_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    sliced = sel.time_range(ev, ts="ts", start="2024-01-05", end="2024-01-25 23:59:59")
    kept = sliced.filter(~F.lower("event_type").isin("error", "signup"))
    hourly = agg.aggregate_from_appliances(kept, ["user_id"], seconds=3600, value="value")
    return hourly.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        # a rounded TOTAL, not a mean: avg() can land exactly on a rounding
        # boundary where the engines' last-ulp summation order differs
        F.round(F.sum("aggregate_computed"), 2).alias("total_agg"),
        F.round(F.max("aggregate_computed"), 2).alias("peak_agg"),
        F.count(F.when(F.col("aggregate_computed") > 50.0, 1)).alias("n_active"),
    )


# --- hour-of-day load profile (notebook-style seasonal analytics + F8/F9) -----------

@query(
    "hourly_profile",
    oracle="""
    SELECT event_type, CAST(hour(ts) AS INT) AS hour_of_day,
           round(sum(value), 2) AS total_value, count(*) AS n
    FROM events GROUP BY ALL
    """,
    survey_ref="§2.4 A5/A8 seasonal variant + §2.7 F8/F9 date parts (insights notebooks)",
)
def hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    # rounded TOTAL, not mean: tiny groups' means can land exactly on a
    # rounding boundary where the engines' summation order differs
    return ev.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour_of_day")
    ).agg(F.round(F.sum("value"), 2).alias("total_value"), F.count(F.lit(1)).alias("n"))


# --- F1-F5 string cleaning showcase -------------------------------------------------

@query(
    "string_cleaning",
    oracle="""
    SELECT event_id,
           trim(regexp_replace(regexp_replace(lower(event_type || '_' || CAST(user_id AS VARCHAR)),
                                              '[_\\-,]', ' ', 'g'),
                               '\\s+', ' ', 'g')) AS cleaned,
           starts_with(event_type, 'p') AS starts_p,
           CAST(regexp_extract(CAST(event_id AS VARCHAR) || 'S', '(\\d+)S$', 1) AS INT) AS parsed_id,
           split_part(event_type || ' ' || CAST(user_id AS VARCHAR), ' ', 1) AS first_token
    FROM events
    """,
    survey_ref="§2.7 F1-F5 (UnifiedNILM.py:41-54, REFITLoader.py:37-40, create_ukdale_metadata.py:33-36)",
)
def string_cleaning(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    raw = F.concat("event_type", F.lit("_"), F.col("user_id").cast("string"))
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(raw), r"[_\-,]", " "), r"\s+", " ")
    )
    return ev.select(
        "event_id",
        cleaned.alias("cleaned"),
        F.col("event_type").startswith("p").alias("starts_p"),
        F.regexp_extract(F.concat(F.col("event_id").cast("string"), F.lit("S")), r"(\d+)S$", 1)
        .cast("int")
        .alias("parsed_id"),
        F.split(F.concat("event_type", F.lit(" "), F.col("user_id").cast("string")), " ")[0]
        .alias("first_token"),
    )


# --- A12 scale path: one-pass correlation matrix (ml.stat.Correlation) --------------


def _corr_onepass_oracle() -> str:
    cols = ", ".join(
        f"avg(value) FILTER (event_type = '{t}') AS v_{t}" for t in EVENT_TYPES
    )
    complete = " AND ".join(f"v_{t} IS NOT NULL" for t in EVENT_TYPES)
    pairs = "\n    UNION ALL ".join(
        f"SELECT '{a}' AS a, '{b}' AS b, round(corr(v_{a}, v_{b}), 4) AS pearson FROM complete"
        for i, a in enumerate(EVENT_TYPES)
        for b in EVENT_TYPES[i + 1 :]
    )
    return f"""
    WITH buckets AS (
      SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS bucket, {cols}
      FROM events GROUP BY bucket
    ),
    complete AS (SELECT * FROM buckets WHERE {complete})
    {pairs}
    """


@query(
    "pairwise_corr_onepass",
    oracle=_corr_onepass_oracle(),
    survey_ref="§2.4 A12 scale escalation: single-pass ml.Correlation Gramian (SURVEY §7 watch list)",
)
def pairwise_corr_onepass(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = agg.pairwise_corr_onepass(
        _events(spark, sf_dir), "event_type", EVENT_TYPES, value="value", seconds=86400
    )
    return out.select("a", "b", F.round("pearson", 4).alias("pearson"))


# --- A1 extension: dense-grid resample with linear gap interpolation ---------
# pandas `resample().mean().interpolate()` — the gap-fill the reference's
# downstream fillna(0) convention papers over (UnifiedNILM.py:66-124). The
# hourly grid spans each user's first→last bucket; interior holes get the
# linear blend of the nearest real buckets, edges carry the nearest value.


@query(
    "resample_interpolated",
    oracle="""
    WITH agg AS (
      SELECT user_id, CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS e,
             CAST(round(round(avg(value), 4) * 10000) AS BIGINT) AS v
      FROM events GROUP BY ALL
    ),
    bounds AS (SELECT user_id, min(e) AS lo, max(e) AS hi FROM agg GROUP BY 1),
    grid AS (
      SELECT user_id, unnest(range(lo, hi + 1, 3600)) AS e FROM bounds
    ),
    j AS (
      SELECT g.user_id, g.e, a.v
      FROM grid g LEFT JOIN agg a ON g.user_id = a.user_id AND g.e = a.e
    ),
    c AS (
      SELECT user_id, e, v,
             last_value(v IGNORE NULLS) OVER w_back AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS)
               OVER w_back AS pe,
             last_value(v IGNORE NULLS) OVER w_fwd AS nv,
             last_value(CASE WHEN v IS NOT NULL THEN e END IGNORE NULLS)
               OVER w_fwd AS ne
      FROM j
      WINDOW w_back AS (PARTITION BY user_id ORDER BY e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_fwd AS (PARTITION BY user_id ORDER BY e DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, e AS bucket_s,
           CAST(CASE WHEN v IS NOT NULL THEN v
                     WHEN pe IS NULL THEN nv
                     WHEN ne IS NULL THEN pv
                     ELSE (pv * (ne - e) + nv * (e - pe)) // (ne - pe)
                END AS DOUBLE) / 10000.0 AS power,
           v IS NULL AS filled
    FROM c
    """,
    survey_ref="§2.4 A1 extension: dense-grid resample + linear interpolation",
)
def resample_interpolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = rs.resample_interpolate(
        _events(spark, sf_dir), ["user_id"], 3600, value="value", mean_round_dp=4
    )
    return out.select(
        "user_id",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.col("value").alias("power"),
        "filled",
    )


# --- sensor coverage gaps ----------------------------------------------------


@query(
    "coverage_gaps",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    gaps AS (
      SELECT user_id, us - prev_us AS gap_us
      FROM seq WHERE prev_us IS NOT NULL AND us - prev_us > 3600000000
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps GROUP BY user_id
    """,
    survey_ref="§2.4 extension (NILM data availability): per-channel "
    "coverage-gap report — every inter-reading gap > 1h with exact total/"
    "max missing micros (the complement of A5 daily-activity islands; the "
    "sensor-outage audit visualize_sampling_rate.ipynb eyeballs, as a "
    "scalable query)",
)
def coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-availability audit for meter streams: one lag() per channel
    (exact micros, event_id tiebreak) → gap rows over the 1h threshold →
    per-channel exact outage stats. One shuffle (the channel-keyed window);
    the agg rides the same partitioning. At 100 TB this is THE query run
    before trusting any resample — gaps bias every downstream mean."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select("user_id", "us", F.lag("us").over(w).alias("prev_us"))
    gaps = seq.where(
        F.col("prev_us").isNotNull() & (F.col("us") - F.col("prev_us") > 3_600_000_000)
    ).select("user_id", (F.col("us") - F.col("prev_us")).alias("gap_us"))
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_us").cast("long").alias("total_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


# --- SAX symbolization + motif mining ----------------------------------------

_SAX_SEG_US = 21_600_000_000  # 6-hour PAA segments


def _sax_oracle() -> str:
    return f"""
    WITH seg AS (
      SELECT user_id, epoch_us(ts) // {_SAX_SEG_US} AS seg,
             CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                  AS BIGINT) AS s6,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    means AS (
      SELECT user_id, seg, {u6_mean_e4_sql('s6', 'cnt')} AS mean_e4 FROM seg
    ),
    sym AS (
      SELECT user_id, seg,
             substr('abcd', CAST(ntile(4) OVER (ORDER BY mean_e4, user_id,
                                                seg) AS INT), 1) AS s
      FROM means
    ),
    words AS (
      SELECT user_id,
             s || lead(s, 1) OVER w || lead(s, 2) OVER w
               || lead(s, 3) OVER w AS word
      FROM sym
      WINDOW w AS (PARTITION BY user_id ORDER BY seg)
    )
    SELECT word, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk FROM (
      SELECT word, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM words WHERE word IS NOT NULL GROUP BY word
    ) WHERE rk <= 10
    """


@query(
    "sax_motifs",
    oracle=_sax_oracle(),
    survey_ref="§2.4 extension (time-series mining): SAX symbolization "
    "(Lin et al. 2003 — PAA segment means → alphabet buckets) + top-k "
    "length-4 motif counts; segment means are exact e4 integers, the "
    "alphabet assignment is a fully-tiebroken ntile, so the symbolic "
    "corpus and its motif table replay bit-identically",
)
def sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel PAA over 6h segments (one hash agg — exact u6 sums),
    global 4-letter alphabet via one ntile over the segment-mean support,
    per-channel sliding 4-grams via three lead()s sharing ONE channel-
    keyed sort, then a motif count. The classic symbolic index that makes
    shape queries (matrix-profile-lite) cheap: at 100 TB the symbol table
    is ~rows/segment_size and every later motif scan runs on symbols,
    never raw readings. Breakpoints here are equi-depth (ntile) rather
    than the Gaussian table — deterministic on any data distribution."""
    ev = load_table(spark, sf_dir, "events")
    seg = ev.groupBy(
        "user_id",
        F.expr(f"unix_micros(ts) div {_SAX_SEG_US}").alias("seg"),
    ).agg(
        F.sum(F.floor(F.col("value").cast("double") * 1000000).cast("long"))
        .cast("long")
        .alias("s6"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    # the (user, segment) frame is sf-scaled — a native global ntile would
    # single-partition-sort it (the exact loophole the hardened r7 window
    # guard now rejects: aggregate keyed by a row-scaled id is NOT a
    # bounded support). bucketed_ntile sorts only the mean_e4 VALUE
    # support; checkpoint the input because the tile build references it
    # thrice (rows, support, total — the r6 rfm lesson).
    means = seg.select(
        "user_id", "seg", u6_mean_e4("s6", "cnt").alias("mean_e4")
    ).transform(checkpoint)
    sym = bucketed_ntile(
        means,
        F.col("mean_e4"),
        [F.col("user_id"), F.col("seg")],
        4,
        out="_tile",
    ).select(
        "user_id",
        "seg",
        F.substring(F.lit("abcd"), F.col("_tile").cast("int"), 1).alias("s"),
    )
    w_u = Window.partitionBy("user_id").orderBy("seg")
    words = sym.select(
        F.concat(
            F.col("s"),
            F.lead("s", 1).over(w_u),
            F.lead("s", 2).over(w_u),
            F.lead("s", 3).over(w_u),
        ).alias("word")
    ).where(F.col("word").isNotNull())
    counts = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_rk = Window.orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("word", "n", "rk")
    )


# --- pairwise co-activation durations ----------------------------------------

_COACT_GAP_US = 1_800_000_000  # 30 min session gap


@query(
    "pairwise_coactivation",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                     ORDER BY epoch_us(ts), event_id) AS prev
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, us,
             CASE WHEN prev IS NULL OR us - prev > {_COACT_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM seq
    ),
    sess AS (
      SELECT user_id, event_type, us,
             sum(new_s) OVER (PARTITION BY user_id, event_type
                              ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    ),
    iv AS (
      SELECT user_id, event_type,
             CAST(min(us) AS BIGINT) AS s, CAST(max(us) AS BIGINT) AS e
      FROM sess GROUP BY user_id, event_type, sid
    ),
    olap AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             least(a.e, b.e) - greatest(a.s, b.s) AS o_us
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
       AND a.s < b.e AND b.s < a.e
    )
    SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(o_us) AS BIGINT) AS total_overlap_us,
           CAST(max(o_us) AS BIGINT) AS max_overlap_us
    FROM olap GROUP BY type_a, type_b
    """,
    survey_ref="§2.4 extension (NILM co-activation): per type-pair, how "
    "long two activity streams are ON simultaneously — session intervals "
    "per (channel, type) via the 30-min gap rule, then a user-keyed "
    "interval-overlap join; exact integer micros end to end (the "
    "appliance-correlation diagnostic behind A12's value correlation)",
)
def pairwise_coactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intervals from gaps-and-islands (ONE (user, type) exchange serves
    the lag, the running session-id sum, and the interval agg), then an
    EQUI-join on user_id with the overlap range as a residual predicate —
    per-user interval counts are small, so the join is user-local and
    never a cartesian. At 100 TB add a coarse time-bucket to the join key
    (the bucketed range-join pattern) if single users span years."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w_lag = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id",
        "event_type",
        "us",
        F.when(
            F.lag("us").over(w_lag).isNull()
            | (F.col("us") - F.lag("us").over(w_lag) > _COACT_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_run = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(w_run))
    iv = sess.groupBy("user_id", "event_type", "sid").agg(
        F.min("us").cast("long").alias("s"), F.max("us").cast("long").alias("e")
    )
    a = iv.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = iv.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    overlaps = a.join(
        b,
        (a["user_id"] == b["user_id"])
        & (F.col("type_a") < F.col("type_b"))
        & (F.col("s_a") < F.col("e_b"))
        & (F.col("s_b") < F.col("e_a")),
    ).select(
        "type_a",
        "type_b",
        (
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
        ).alias("o_us"),
    )
    return overlaps.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.sum("o_us").cast("long").alias("total_overlap_us"),
        F.max("o_us").cast("long").alias("max_overlap_us"),
    )


# --- exact z-score burst hours -----------------------------------------------


@query(
    "count_burst_hours",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, CAST(h.h AS BIGINT) AS h, h.c, t.n, t.s,
           CAST(t.ss AS BIGINT) AS ss
    FROM hourly h JOIN stats t ON t.event_type = h.event_type
    WHERE h.c * t.n > t.s
      AND (h.c * t.n - t.s) * (h.c * t.n - t.s)
          > 9 * (t.n * t.ss - t.s * t.s)
    """,
    survey_ref="§2.4 extension (anomaly detection): hours whose event "
    "count exceeds mean + 3σ, decided by the SQUARED cross-multiplied "
    "integer inequality (c·n − s)² > 9(n·ss − s²) — the z-score test "
    "with NO sqrt and NO float, bit-identical in both engines",
)
def count_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer burst screen: z > 3 ⇔ (c−μ)² > 9σ² ⇔ (after
    multiplying by n²) (c·n−s)² > 9(n·ss−s²), valid when c·n > s (the
    sign guard keeps the squaring monotone). One hourly agg + a per-type
    stat broadcast — the whole monitor is two map-side-combined passes.
    Overflow: (c·n−s)² caps at (rows)² ≈ 2^53-safe past gate scales;
    shard the stats per the mergeable-partials contract beyond."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    j = hourly.join(stats, "event_type")
    dev = F.col("c") * F.col("n") - F.col("s")
    return j.where(
        (dev > 0)
        & (dev * dev > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
    ).select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        "c",
        "n",
        "s",
        F.col("ss").cast("long").alias("ss"),
    )


# --- cross-correlation lag sweep ----------------------------------------------


@query(
    "xcorr_best_lag",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(range(0, 13)) AS lag),
    x AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag AS lag,
             CAST(sum(a.c * b.c) AS BIGINT) AS xc
      FROM hourly a
      CROSS JOIN lags l
      JOIN hourly b ON b.event_type <> a.event_type AND b.h = a.h + l.lag
      GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT type_a, type_b, lag, xc,
             row_number() OVER (PARTITION BY type_a, type_b
                                ORDER BY xc DESC, lag) AS rn
      FROM x
    )
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS best_lag, xc AS xcorr
    FROM r WHERE rn = 1
    """,
    survey_ref="§2.4 extension: cross-correlation lag sweep between "
    "event-type hourly count series — argmax over lags 0..12h of the "
    "exact integer dot product Σ_h c_a(h)·c_b(h+L) (the lead/lag "
    "discovery step of acf_hourly's autocorrelation); argmax on exact "
    "BIGINTs with a smallest-lag tiebreak",
)
def xcorr_best_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event type leads which, and by how many hours? Hourly
    counts per type (5 types x ~720 hours — tiny after the one fact
    agg), a 13-row lag dimension, one equi-join on the shifted hour,
    one argmax window per ordered type pair. At 100 TB only the first
    hourly agg touches the fact table; everything after is
    O(types² · hours)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    lags = spark.range(0, 13).select(F.col("id").alias("lag"))
    a = hourly.select(
        F.col("event_type").alias("type_a"), F.col("h").alias("ha"),
        F.col("c").alias("ca"),
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"), F.col("h").alias("hb"),
        F.col("c").alias("cb"),
    )
    # no explicit hint: lags is a 13-row Range — the planner broadcasts it
    # from stats (and the guard test's leaf regex can't see through a
    # hinted Range to the join's parquet sibling).
    x = (
        a.crossJoin(lags)
        .join(
            b,
            (F.col("type_b") != F.col("type_a"))
            & (F.col("hb") == F.col("ha") + F.col("lag")),
        )
        .groupBy("type_a", "type_b", "lag")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("xc"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.col("xc").desc(), "lag"
    )
    return (
        x.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("type_a", "type_b", F.col("lag").alias("best_lag"), F.col("xc").alias("xcorr"))
    )


# --- Haar wavelet detail coefficients -------------------------------------------


@query(
    "haar_detail_topk",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    hmin AS (SELECT min(h) AS h0 FROM hourly),
    rel AS (
      SELECT event_type, h - h0 AS hr, c FROM hourly CROSS JOIN hmin
      WHERE h - h0 < 512
    ),
    levels AS (SELECT unnest(range(1, 10)) AS lev),
    d AS (
      SELECT event_type, lev, hr // (1::BIGINT << lev) AS block,
             CAST(sum(CASE WHEN (hr // (1::BIGINT << (lev - 1))) % 2 = 0
                           THEN c ELSE -c END) AS BIGINT) AS detail
      FROM rel CROSS JOIN levels
      GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT event_type, CAST(lev AS BIGINT) AS level, block, detail,
             CAST(abs(detail) AS BIGINT) AS abs_detail,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(detail) DESC, lev, block) AS rk
      FROM d
    )
    SELECT event_type, level, block, detail, abs_detail,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """,
    survey_ref="§2.4 extension: Haar wavelet detail coefficients over the "
    "first 512 hours of each event type's count series — d(ℓ,b) = "
    "sum(left half) − sum(right half) of each dyadic block, levels 1..9 "
    "from ONE pass (level dim × sign trick), all exact BIGINT; top-5 "
    "|d| per type localizes bursts in time AND scale",
)
def haar_detail_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution burst localization: the biggest Haar detail
    coefficients say WHERE (block) and at WHAT timescale (2^level
    hours) each event type's activity shifts hardest. The level
    dimension is a 9-row Range crossed against the tiny hourly agg, so
    all 9 decomposition levels come from one groupBy — no per-level
    passes, no floats (sums, not averages: the 2^(ℓ/2) Haar norm is a
    display constant)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    hmin = hourly.agg(F.min("h").alias("h0"))
    rel = (
        hourly.crossJoin(hmin)
        .select("event_type", (F.col("h") - F.col("h0")).alias("hr"), "c")
        .where(F.col("hr") < 512)
    )
    levels = spark.range(1, 10).select(F.col("id").alias("lev"))
    d = (
        rel.crossJoin(levels)
        .groupBy(
            "event_type",
            "lev",
            F.expr("hr div shiftleft(1L, CAST(lev AS INT))").alias("block"),
        )
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "(hr div shiftleft(1L, CAST(lev AS INT) - 1)) % 2"
                    )
                    == 0,
                    F.col("c"),
                ).otherwise(-F.col("c"))
            )
            .cast("long")
            .alias("detail")
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("detail")).desc(), "lev", "block"
    )
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select(
            "event_type",
            F.col("lev").alias("level"),
            "block",
            "detail",
            F.abs(F.col("detail")).cast("long").alias("abs_detail"),
            "rk",
        )
    )


# --- bitwise activity masks ---------------------------------------------------------


@query(
    "activity_bitmask_hist",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             bit_or(1::BIGINT << CAST((epoch_us(ts) // 3600000000) % 24
                                      AS INT)) AS mask
      FROM events GROUP BY 1
    )
    SELECT CAST(bit_count(mask) AS BIGINT) AS n_active_hours,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(mask) AS BIGINT) AS min_mask,
           CAST(max(mask) AS BIGINT) AS max_mask
    FROM per_user GROUP BY 1
    """,
    survey_ref="§2.7/F-family extension: bitwise aggregate functions — "
    "per-user 24-bit hour-of-day activity mask via bit_or(1<<hod), "
    "popcount histogram via bit_count; the roaring-bitmap-style set "
    "encoding (64 set members per BIGINT, OR-mergeable across shards)",
)
def activity_bitmask_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which hours of the day is each user active, packed into one
    BIGINT? bit_or is a mergeable aggregate (map-side combined like
    sum), so the mask build is one linear pass; bit_count reads the
    distinct-hour count straight off the mask with no second distinct
    agg. The same encoding underlies bitmap indexes and co-visitation
    set intersections (AND of two masks) at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            "bit_or(shiftleft(1L, CAST((unix_micros(ts) div 3600000000) % 24"
            " AS INT)))"
        ).alias("mask")
    )
    return per_user.groupBy(
        F.bit_count("mask").cast("long").alias("n_active_hours")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("mask").cast("long").alias("min_mask"),
        F.max("mask").cast("long").alias("max_mask"),
    )


# --- NILM steady-state segmentation & edge detection ---------------------------------
# The reference framework's downstream purpose is NILM event detection:
# steady power plateaus, the step edges between them, and matching steps to
# appliance signatures (Hart 1992's finite-state appliance model). The
# segment grain lives ONCE (Spark helper + one oracle CTE string) so the
# three queries can never drift from the segmenter.

_STEADY_TOL_U6 = 30_000_000  # |Δvalue| <= 30 units stays in-segment


_STEADY_MIN_N = 3


STEADY_SEG_CTES = f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    d AS (
      SELECT *, CASE WHEN lag(v6) OVER w IS NULL
                       OR abs(v6 - lag(v6) OVER w) > {_STEADY_TOL_U6}
                     THEN 1 ELSE 0 END AS b
      FROM e
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)
    ),
    s AS (
      SELECT *, CAST(sum(b) OVER (PARTITION BY user_id, event_type
                 ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS sid
      FROM d
    ),
    seg AS (
      SELECT user_id, event_type,
             CAST(min(us) AS BIGINT) AS start_us,
             CAST(max(us) AS BIGINT) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST((2 * sum(v6) + 100 * count(*))
                  // (200 * count(*)) AS BIGINT) AS mean_e4
      FROM s GROUP BY user_id, event_type, sid
      HAVING count(*) >= {_STEADY_MIN_N}
    )"""


def _steady_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of STEADY_SEG_CTES: maximal runs where consecutive
    readings move <= 30 units, per (user, type) channel, kept at n >= 3.
    One channel-keyed exchange serves the lag, the running sum, and the
    per-segment agg; the mean is the shared u6->e4 exact rounding."""

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    prev = F.lag("v6").over(w)
    d = ev.withColumn(
        "b",
        F.when(
            prev.isNull() | (F.abs(F.col("v6") - prev) > _STEADY_TOL_U6), 1
        ).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = d.withColumn("sid", F.sum("b").over(run).cast("long"))
    return (
        s.groupBy("user_id", "event_type", "sid")
        .agg(
            F.min("us").cast("long").alias("start_us"),
            F.max("us").cast("long").alias("end_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            u6_mean_e4("sum(v6)", "count(1)").alias("mean_e4"),
        )
        .where(F.col("n_events") >= _STEADY_MIN_N)
        .drop("sid")
    )


@query(
    "steady_state_segments",
    oracle=f"""
    {STEADY_SEG_CTES}
    SELECT user_id, event_type, start_us, end_us, n_events, mean_e4
    FROM seg
    """,
    survey_ref="§2.4/§2.7 NILM core extension: steady-state detection "
    "(Hart 1992 finite-state model) — maximal per-channel runs with "
    "|Δ| ≤ 30 units via gaps-and-islands on ONE channel exchange; "
    "segment means in the shared exact u6→e4 rounding; the plateau "
    "table every edge-based disaggregator starts from",
)
def steady_state_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NILM plateau table: where each channel's reading holds level
    (tolerance-banded) for >= 3 samples. One exchange for lag + running
    sum + segment agg — the same W5 gaps-and-islands kernel as
    run_segments, lifted from binary activity to tolerance-banded
    continuous values."""
    return _steady_segments(spark, sf_dir)


@query(
    "power_step_signatures",
    oracle=f"""
    {STEADY_SEG_CTES},
    steps AS (
      SELECT event_type,
             lead(mean_e4) OVER (PARTITION BY user_id, event_type
                                 ORDER BY start_us) - mean_e4 AS step_e4
      FROM seg
    )
    SELECT CAST(((step_e4 + 10000000) // 25000) * 25000 - 10000000
                AS BIGINT) AS bucket_lo_e4,
           CAST(count(*) AS BIGINT) AS n_steps,
           CAST(min(step_e4) AS BIGINT) AS min_step_e4,
           CAST(max(step_e4) AS BIGINT) AS max_step_e4
    FROM steps WHERE step_e4 IS NOT NULL
    GROUP BY 1
    """,
    survey_ref="§2.4 NILM core extension: edge detection — level steps "
    "between consecutive steady segments per channel, histogrammed in "
    "2.5-unit buckets; SIGNED bucketing goes through the +1e7 offset so "
    "integer division floors identically in both engines (the signed-div "
    "divergence rule)",
)
def power_step_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The appliance-signature histogram: step edges (on/off transitions
    in a real deployment) between plateaus. lead() over the segment
    table (already tiny vs events), one bucket agg; buckets of the
    SIGNED step use an offset so div == floor in Spark and DuckDB."""
    seg = _steady_segments(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("start_us")
    steps = seg.select(
        "event_type",
        (F.lead("mean_e4").over(w) - F.col("mean_e4")).alias("step_e4"),
    ).where(F.col("step_e4").isNotNull())
    bucket_lo = (
        F.expr("((step_e4 + 10000000) div 25000) * 25000 - 10000000")
    ).cast("long")
    return steps.groupBy(bucket_lo.alias("bucket_lo_e4")).agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.min("step_e4").cast("long").alias("min_step_e4"),
        F.max("step_e4").cast("long").alias("max_step_e4"),
    )


@query(
    "step_signature_match",
    oracle=f"""
    {STEADY_SEG_CTES},
    steps AS (
      SELECT event_type,
             abs(lead(mean_e4) OVER (PARTITION BY user_id, event_type
                                     ORDER BY start_us) - mean_e4)
               AS astep
      FROM seg
    )
    SELECT event_type,
           CAST(CASE WHEN astep <= 300000 THEN 10
                     WHEN astep <= 750000 THEN 50
                     WHEN astep <= 1500000 THEN 100
                     WHEN astep <= 2500000 THEN 200
                     ELSE 300 END AS BIGINT) AS signature_units,
           CAST(count(*) AS BIGINT) AS n_matched
    FROM steps WHERE astep IS NOT NULL
    GROUP BY 1, 2
    """,
    survey_ref="§2.5 NILM core extension: step→appliance-signature "
    "matching — each |edge| assigned to the nearest of five literal "
    "signature magnitudes (10/50/100/200/300 units) by exact-integer "
    "midpoint thresholds (ties to the smaller signature, ≤ in both "
    "engines); the load-identification join of Hart's model",
)
def step_signature_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Which appliance was that?': nearest-signature classification of
    every step edge via midpoint CASE thresholds — integer-exact, no
    argmin join needed for a literal 5-row signature dim. Counts per
    (channel type, signature)."""
    seg = _steady_segments(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("start_us")
    steps = seg.select(
        "event_type",
        F.abs(F.lead("mean_e4").over(w) - F.col("mean_e4")).alias("astep"),
    ).where(F.col("astep").isNotNull())
    sig = (
        F.when(F.col("astep") <= 300000, 10)
        .when(F.col("astep") <= 750000, 50)
        .when(F.col("astep") <= 1500000, 100)
        .when(F.col("astep") <= 2500000, 200)
        .otherwise(300)
    ).cast("long")
    return steps.groupBy(
        "event_type", sig.alias("signature_units")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_matched"))


# --- habitual-hours behavioral screen -------------------------------------------------


@query(
    "habitual_hours",
    oracle="""
    WITH uh AS (
      SELECT user_id,
             CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod,
             CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
               AS n_days,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT hod,
           CAST(count(*) AS BIGINT) AS n_habitual_users,
           CAST(max(n_days) AS BIGINT) AS max_days,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM uh WHERE n_days >= 5 GROUP BY 1
    """,
    survey_ref="§2.4 extension: habitual-behavior screen — (user, "
    "hour-of-day) cells active on ≥ 5 DISTINCT days (periodicity by "
    "count-distinct-day, robust to burst volume); per-hour census of "
    "habitual users — the recurring-schedule detector (cron traffic, "
    "appliance timers, commute patterns)",
)
def habitual_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which hours carry RECURRING activity rather than one-off bursts?
    Two hash aggs: (user, hod) cells with distinct-day support, then the
    per-hour rollup of cells passing the ≥5-day habit threshold. All
    keys are derived integers; both passes map-side combined."""
    ev = load_table(spark, sf_dir, "events")
    uh = ev.groupBy(
        "user_id",
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hod"),
    ).agg(
        F.countDistinct(F.expr("unix_micros(ts) div 86400000000"))
        .cast("long")
        .alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return (
        uh.where(F.col("n_days") >= 5)
        .groupBy("hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_habitual_users"),
            F.max("n_days").cast("long").alias("max_days"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )


# --- binary-segmentation changepoint ---------------------------------------------------


@query(
    "changepoint_binary_seg",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, h, c,
             CAST(sum(c) OVER w AS BIGINT) AS s_l,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
      SELECT event_type, h, s_l, n_l, s, n,
             CAST((s_l * n - s * n_l) * (s_l * n - s * n_l)
                  // (n_l * (n - n_l)) AS BIGINT) AS score
      FROM cum WHERE n_l < n
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY score DESC, h) AS rn
      FROM scored
    )
    SELECT event_type, CAST(h AS BIGINT) AS split_after_hour, score,
           n_l AS n_left, CAST(n - n_l AS BIGINT) AS n_right,
           s_l AS sum_left, CAST(s - s_l AS BIGINT) AS sum_right
    FROM best WHERE rn = 1
    """,
    survey_ref="§2.4 extension: binary-segmentation changepoint — the "
    "split hour maximizing the between-segment SSE reduction "
    "n_l·n_r·(mean_l−mean_r)² = (S_l·n − S·n_l)² div (n_l·(n−n_l)), "
    "kept EXACT as one BIGINT floor quotient per candidate (numerator "
    "≤ ~5e17, quotient the argmax key — no float anywhere); the "
    "structural-break detector beside CUSUM's cumulative form",
)
def changepoint_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE does each type's hourly volume break? One cumulative
    window over the hourly support gives every candidate split's
    (S_l, n_l) — the classic one-pass trick — and the variance-
    reduction score is an exact integer quotient, so the argmax is
    deterministic in both engines. First step of recursive binary
    segmentation; recursing is re-running on the two halves."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "h",
        F.sum("c").over(w_cum).cast("long").alias("s_l"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
        .cast("long")
        .alias("n_l"),
        F.sum("c").over(w_all).cast("long").alias("s"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    scored = cum.where(F.col("n_l") < F.col("n")).withColumn(
        "score",
        F.expr("(s_l * n - s * n_l) * (s_l * n - s * n_l)"
               " div (n_l * (n - n_l))").cast("long"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), "h"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("split_after_hour"),
            "score",
            F.col("n_l").alias("n_left"),
            (F.col("n") - F.col("n_l")).cast("long").alias("n_right"),
            F.col("s_l").alias("sum_left"),
            (F.col("s") - F.col("s_l")).cast("long").alias("sum_right"),
        )
    )


# --- recursive binary segmentation (depth 2) ---------------------------------------------


@query(
    "changepoint_recursive_3seg",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cum1 AS (
      SELECT event_type, h, c,
             CAST(sum(c) OVER w AS BIGINT) AS s_l,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best1 AS (
      SELECT event_type, h AS h1 FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY
                 (s_l * n - s * n_l) * (s_l * n - s * n_l)
                   // (n_l * (n - n_l)) DESC, h) AS rn
        FROM cum1 WHERE n_l < n
      ) WHERE rn = 1
    ),
    sided AS (
      SELECT hourly.event_type,
             CASE WHEN hourly.h <= best1.h1 THEN 0 ELSE 1 END AS side,
             hourly.h, hourly.c
      FROM hourly JOIN best1 USING (event_type)
    ),
    cum2 AS (
      SELECT event_type, side, h,
             CAST(sum(c) OVER w AS BIGINT) AS s_l,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(sum(c) OVER (PARTITION BY event_type, side) AS BIGINT)
               AS s,
             CAST(count(*) OVER (PARTITION BY event_type, side) AS BIGINT)
               AS n
      FROM sided
      WINDOW w AS (PARTITION BY event_type, side ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best2 AS (
      SELECT event_type, CAST(side AS BIGINT) AS side,
             CAST(h AS BIGINT) AS split_after_hour,
             CAST(score AS BIGINT) AS score, n_l AS n_left,
             CAST(n - n_l AS BIGINT) AS n_right
      FROM (
        SELECT *,
               (s_l * n - s * n_l) * (s_l * n - s * n_l)
                 // (n_l * (n - n_l)) AS score,
               row_number() OVER (PARTITION BY event_type, side ORDER BY
                 (s_l * n - s * n_l) * (s_l * n - s * n_l)
                   // (n_l * (n - n_l)) DESC, h) AS rn
        FROM cum2 WHERE n_l < n
      ) WHERE rn = 1
    )
    SELECT * FROM best2
    """,
    survey_ref="§2.4 extension: RECURSIVE binary segmentation, depth 2 — "
    "the level-1 split (changepoint_binary_seg's argmax) partitions each "
    "series, then the identical exact-integer scoring runs per "
    "(type, side); demonstrates the unrolled-recursion composition "
    "pattern (MMR / set-cover style) on a window kernel",
)
def changepoint_recursive_3seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-segment structural decomposition: the best split inside
    each half of the level-1 split. The level-1 winner is a 5-row frame
    joined back (never collected); level 2 is the SAME cumulative
    scoring with (type, side) keys — recursion as plan composition,
    each level one exchange over the (tiny) hourly support."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))

    def score_best(df: DataFrame, keys: list) -> DataFrame:
        w_cum = (
            Window.partitionBy(*keys)
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy(*keys)
        cum = df.select(
            *keys,
            "h",
            F.sum("c").over(w_cum).cast("long").alias("s_l"),
            F.row_number().over(Window.partitionBy(*keys).orderBy("h"))
            .cast("long")
            .alias("n_l"),
            F.sum("c").over(w_all).cast("long").alias("s"),
            F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        ).where(F.col("n_l") < F.col("n"))
        scored = cum.withColumn(
            "score",
            F.expr(
                "(s_l * n - s * n_l) * (s_l * n - s * n_l)"
                " div (n_l * (n - n_l))"
            ).cast("long"),
        )
        w_best = Window.partitionBy(*keys).orderBy(F.col("score").desc(), "h")
        return scored.withColumn("rn", F.row_number().over(w_best)).where(
            F.col("rn") == 1
        )

    best1 = score_best(hourly, ["event_type"]).select(
        "event_type", F.col("h").alias("h1")
    )
    sided = hourly.join(best1, "event_type").select(
        "event_type",
        F.when(F.col("h") <= F.col("h1"), 0).otherwise(1).cast("long").alias("side"),
        "h",
        "c",
    )
    best2 = score_best(sided, ["event_type", "side"])
    return best2.select(
        "event_type",
        "side",
        F.col("h").alias("split_after_hour"),
        "score",
        F.col("n_l").alias("n_left"),
        (F.col("n") - F.col("n_l")).cast("long").alias("n_right"),
    )


# --- Holt double exponential smoothing (exact integer recurrence) ---------------

# alpha = 3/10, beta = 2/10 as exact rational smoothing weights; all state
# stays BIGINT cents via truncating division (Spark `div`; the oracle
# mirrors with exact_math.trunc_div_sql because the TREND state goes
# negative and DuckDB // floors)
_HOLT_LNEW_SPARK = "(3 * x.y + 7 * (acc.l + acc.b)) div 10"


_HOLT_ZERO_INIT = (
    "named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),"
    " 'sae', CAST(0 AS BIGINT), 'n', 0)"
)


def _holt_fold_expr(init: str = _HOLT_ZERO_INIT) -> str:
    """The Holt fold with an injectable initial state — the zero init's
    n=0 branch seeds from the first observation; a resumed fold passes
    the prior (l, b, sae, n) and the recurrence continues exactly (the
    incremental-equivalence hook)."""
    return f"""
aggregate(s,
  {init},
  (acc, x) -> IF(acc.n = 0,
    named_struct('l', x.y, 'b', CAST(0 AS BIGINT),
                 'sae', CAST(0 AS BIGINT), 'n', 1),
    named_struct(
      'l', {_HOLT_LNEW_SPARK},
      'b', (2 * (({_HOLT_LNEW_SPARK}) - acc.l) + 8 * acc.b) div 10,
      'sae', acc.sae + abs(x.y - (acc.l + acc.b)),
      'n', acc.n + 1)))
"""


_HOLT_FOLD = _holt_fold_expr()


def _holt_oracle_sql() -> str:
    lnew = trunc_div_sql("3*d.y + 7*(s.l + s.b)", "10")
    bnew = trunc_div_sql(f"2*(({lnew}) - s.l) + 8*s.b", "10")
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY o_orderdate) AS INT) AS t, y
      FROM (SELECT o_orderdate,
                   CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY o_orderdate)
    ),
    st AS (
      SELECT 1 AS t, y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      FROM daily WHERE t = 1
      UNION ALL
      SELECT s.t + 1, {lnew} AS l, {bnew} AS b,
             s.sae + abs(d.y - (s.l + s.b))
      FROM st s JOIN daily d ON d.t = s.t + 1
    ),
    fin AS (SELECT * FROM st ORDER BY t DESC LIMIT 1)
    SELECT CAST((SELECT max(t) FROM daily) AS BIGINT) AS n_days,
           l AS l_final, b AS b_final, sae,
           l + b AS fc_1, l + 7 * b AS fc_7
    FROM fin
    """


@query(
    "holt_forecast_exact",
    oracle=_holt_oracle_sql(),
    survey_ref="§2 time-series extension: Holt double exponential "
    "smoothing (level+trend ETS) as an exact BIGINT recurrence over the "
    "daily-revenue series — the forecasting member of the iterated-"
    "numeric-fixpoint family (pagerank / gram power iteration); oracle = "
    "recursive-CTE replay with trunc_div_sql carrying Spark's signed "
    "truncating division",
)
def holt_forecast_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method (α=0.3, β=0.2 as exact rationals) over daily
    order revenue in cents: level/trend recurrences with TRUNCATING
    integer division, one-step-ahead absolute-error sum, and 1/7-day
    forecasts. The sequential fold runs over the DAY-GRAIN series — a
    bounded value domain (the order calendar spans a fixed ~2.4k days at
    every sf, so the collected array is constant-sized while the per-day
    aggregation underneath absorbs the sf-scaled rows; at 100 TB the agg
    shuffles, the fold doesn't grow). Kernel: groupBy(day) exact-cents
    sums → ONE sorted collect + aggregate() HOF fold carrying
    (l, b, sae, n). The trend state goes NEGATIVE, so the division inside
    the recurrence cannot be deferred as num/den — Spark `div` truncates
    toward zero and the oracle replays it via exact_math.trunc_div_sql
    (the r9 sign-magnitude discipline); the gate is bit-exact over ~2.4k
    chained divisions. Smoothing weights are the rational dial: any a/10,
    b/10 pair works unchanged."""
    daily = load_table(spark, sf_dir, "orders").groupBy("o_orderdate").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("o_orderdate", "y"))).alias("s")
    )
    return arr.select(F.expr(_HOLT_FOLD).alias("r")).select(
        F.col("r.n").cast("long").alias("n_days"),
        F.col("r.l").alias("l_final"),
        F.col("r.b").alias("b_final"),
        F.col("r.sae").alias("sae"),
        (F.col("r.l") + F.col("r.b")).alias("fc_1"),
        (F.col("r.l") + 7 * F.col("r.b")).alias("fc_7"),
    )
