"""Analysis-API queries (SURVEY.md §2.4 aggregations + §2.2 selectors) over
the ``events`` table playing ``readings`` (user_id→house, event_type→channel
label, value→power).

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

from nilm_data_framework_spark.operators import aggregates as agg
from nilm_data_framework_spark.operators import resample as rs
from nilm_data_framework_spark.operators import selectors as sel
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


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

_ETYPES = ["click", "error", "purchase", "signup", "view"]


def _corr_onepass_oracle() -> str:
    cols = ", ".join(
        f"avg(value) FILTER (event_type = '{t}') AS v_{t}" for t in _ETYPES
    )
    complete = " AND ".join(f"v_{t} IS NOT NULL" for t in _ETYPES)
    pairs = "\n    UNION ALL ".join(
        f"SELECT '{a}' AS a, '{b}' AS b, round(corr(v_{a}, v_{b}), 4) AS pearson FROM complete"
        for i, a in enumerate(_ETYPES)
        for b in _ETYPES[i + 1 :]
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
        _events(spark, sf_dir), "event_type", _ETYPES, value="value", seconds=86400
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
