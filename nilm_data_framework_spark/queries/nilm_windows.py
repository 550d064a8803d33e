"""Window-function queries (SURVEY.md §2.5 W1-W7 + sessionization,
including the engine-native ``session_window``).

Ordering inside every window is (ts, event_id) — the explicit tie-break keeps
the hash-oracle deterministic even with duplicate timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import selectors as sel
from nilm_data_framework_spark.operators import windows as W
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _events
from nilm_data_framework_spark.sources.testdata import load_table


# --- W1 lag delta -----------------------------------------------------------

@query(
    "lag_delta",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS delta_us
    FROM events
    """,
    survey_ref="§2.5 W1 (diff at A6/A7 sites)",
)
def lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.expr("unix_micros(ts)")
    return ev.select("event_id", "user_id", (us - F.lag(us).over(w)).alias("delta_us"))


# --- W3 top-k ----------------------------------------------------------------

@query(
    "topk_by_value",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY value DESC, event_id LIMIT 20
    """,
    survey_ref="§2.5 W3 (sorts at ConvertToH5.py:131; top-k is the scale-safe form)",
)
def topk_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("event_id", "user_id", "event_type", "value")
    return W.top_k(ev, [F.col("value").desc(), F.col("event_id")], 20)


# --- W4 sliding windows (declarative, oracle-checkable) ------------------------

@query(
    "sliding_windows",
    oracle="""
    WITH pos AS (
      SELECT user_id, value,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS p,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id
                            ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS wn,
             sum(value) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS ws
      FROM events
    )
    SELECT user_id, CAST(p / 4 AS BIGINT) AS window_id,
           round(ws, 2) AS win_sum, wn AS win_len
    FROM pos WHERE p % 4 = 0 AND wn = 8
    """,
    survey_ref="§2.5 W4 (channel_utils.py:180-188, ConvertToTensor.py:60) seq_len=8 step=4",
)
def sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    wins = W.sliding_windows_sql(
        ev, keys=["user_id"], seq_len=8, step=4, ts=["ts", "event_id"], value="value"
    )
    return wins.select(
        "user_id",
        "window_id",
        F.round(F.aggregate("x", F.lit(0.0), lambda a, v: a + v), 2).alias("win_sum"),
        F.size("x").cast("long").alias("win_len"),
    )


# --- W5 run-length (gaps-and-islands) ON filter ----------------------------------

@query(
    "run_length_filter",
    oracle="""
    WITH st AS (
      SELECT event_id, user_id, ts,
             CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS state
      FROM events
    ), chg AS (
      SELECT *, CASE WHEN state <> coalesce(lag(state) OVER w, -1) THEN 1 ELSE 0 END AS changed
      FROM st
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM chg
    ), seglen AS (
      SELECT *, count(*) OVER (PARTITION BY user_id, seg_id) AS seg_len FROM seg
    )
    SELECT event_id, user_id, state,
           CASE WHEN state = 1 AND seg_len < 5 THEN 0 ELSE state END AS state_filtered
    FROM seglen
    """,
    survey_ref="§2.5 W5 (postprocessing.py:5-24)",
)
def run_length_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sel.binarize(_events(spark, sf_dir), "value", 100.0)
    out = W.run_length_filter(
        ev, keys=["user_id"], ts=["ts", "event_id"], state="state", min_len=5
    )
    return out.select("event_id", "user_id", "state", "state_filtered")


# --- W5 segment-level runs (batch twin of streaming/stateful.py track_runs) --------

@query(
    "run_segments",
    oracle="""
    WITH st AS (
      SELECT event_id, user_id, ts,
             CASE WHEN value >= 100.0 THEN 1 ELSE 0 END AS state
      FROM events
    ), chg AS (
      SELECT *, CASE WHEN state <> coalesce(lag(state) OVER w, -1) THEN 1 ELSE 0 END AS changed
      FROM st
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), seg AS (
      SELECT *, sum(changed) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
      FROM chg
    )
    SELECT user_id, state,
           epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
           count(*) AS n_samples
    FROM seg GROUP BY user_id, seg_id, state
    """,
    survey_ref="§2.5 W5 segment emission / §2.9 batch twin of track_runs (postprocessing.py:5-24)",
)
def run_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = sel.binarize(_events(spark, sf_dir), "value", 100.0)
    out = W.run_segments(ev, keys=["user_id"], ts=["ts", "event_id"], state="state")
    return out.select(
        "user_id",
        "state",
        F.expr("unix_micros(start_ts)").alias("start_us"),
        F.expr("unix_micros(end_ts)").alias("end_us"),
        "n_samples",
    )


# --- W6 median smoothing -----------------------------------------------------------

@query(
    "median_smooth",
    oracle="""
    SELECT event_id, user_id,
           round(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4)
             AS smoothed
    FROM events
    """,
    survey_ref="§2.5 W6 (postprocessing.py:27-30; edge semantics documented in operator)",
)
def median_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = W.median_smooth(
        _events(spark, sf_dir), ["user_id"], ["ts", "event_id"], "value", half_width=2
    )
    return out.select("event_id", "user_id", F.round("smoothed", 4).alias("smoothed"))


# --- W7 truncate-to-min ---------------------------------------------------------------

@query(
    "truncate_to_min",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, count(*) AS cnt FROM events GROUP BY ALL
    ), mins AS (
      SELECT user_id, min(cnt) AS min_cnt FROM counts GROUP BY user_id
    ), ranked AS (
      SELECT e.user_id, e.event_type, e.value,
             row_number() OVER (PARTITION BY e.user_id, e.event_type
                                ORDER BY e.ts, e.event_id) AS rn,
             m.min_cnt
      FROM events e JOIN mins m ON e.user_id = m.user_id
    )
    SELECT user_id, event_type, count(*) AS n_kept, round(sum(value), 2) AS sum_kept
    FROM ranked WHERE rn <= min_cnt GROUP BY ALL
    """,
    survey_ref="§2.5 W7 (channel_utils.py:213-220)",
)
def truncate_to_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn("_ord", F.struct("ts", "event_id"))
    kept = W.truncate_to_min(ev, group=["user_id"], series="event_type", ts="_ord")
    return kept.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_kept"), F.round(F.sum("value"), 2).alias("sum_kept")
    )


# --- sessionization (batch twin of session_window; W5 family) ---------------------------

SESSION_GAP_S = 1800  # 30-min inactivity gap

# Shared DuckDB CTE pair (gaps + sess) tagging every event with its
# session_id on the canonical grain (> gap, ordered by ts with event_id
# tie-break). sessionize AND session_bounce_rate splice THIS string — the
# session grain lives once, so derived product metrics can never drift
# from the sessionizer (same rule as DEBOUNCE_BURSTS_CTES).
SESSION_IDS_CTES = f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                       > {SESSION_GAP_S} OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    )"""


def session_ids(ev: DataFrame) -> DataFrame:
    """Spark twin of SESSION_IDS_CTES: each event tagged with session_id.
    One user-key exchange shared by the lag and the running sum."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | (F.col("ts").cast("double") - prev.cast("double") > SESSION_GAP_S),
        1,
    ).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.withColumn("_new", new_sess).withColumn(
        "session_id", F.sum("_new").over(run)
    )


@query(
    "sessionize",
    oracle=f"""
    {SESSION_IDS_CTES},
    per AS (SELECT user_id, session_id, count(*) AS cnt FROM sess GROUP BY ALL),
    agg AS (
      SELECT user_id, count(*) AS n_sessions,
             CAST(sum(cnt) AS BIGINT) AS n_events
      FROM per GROUP BY user_id
    )
    SELECT user_id, n_sessions, n_events,
           {ratio_e4_sql('n_events', 'n_sessions')} AS avg_session_events_e4
    FROM agg
    """,
    survey_ref="§2.9 session windows (batch twin of W5 ON-segments)",
)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    sess = session_ids(ev)
    per_session = sess.groupBy("user_id", "session_id").agg(F.count(F.lit(1)).alias("cnt"))
    agg = per_session.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"),
        F.sum("cnt").alias("n_events"),
    )
    return agg.select(
        "user_id", "n_sessions", "n_events",
        # exact e4 integer (operators/exact_math.py): avg(int)/int at a
        # fixed dp is the documented cross-engine half-boundary trap
        ratio_e4("n_events", "n_sessions").alias("avg_session_events_e4"),
    )


# --- running (cumulative) aggregates -------------------------------------------------

@query(
    "running_total",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER w, 4) AS running_sum,
           round(max(value) OVER w, 4) AS running_max,
           count(*) OVER w AS n_so_far
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
    survey_ref="§2.5 extension: cumulative window aggregates (running totals)",
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 4).alias("running_sum"),
        F.round(F.max("value").over(w), 4).alias("running_max"),
        F.count(F.lit(1)).over(w).alias("n_so_far"),
    )


# --- SCD2 validity intervals (changelog → dimension history; W1/W2/P10 family) ------

_SCD2_INTERVALS_SQL = """
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      FROM events
    ), starts AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id, event_type,
           epoch_us(ts) AS valid_from_us,
           lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to_us
    FROM starts
    """


@query(
    "scd2_user_intervals",
    oracle=_SCD2_INTERVALS_SQL,
    survey_ref="§2.5 extension: SCD2 run-collapse intervals (changelog→history)",
)
def scd2_user_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    iv = W.scd2_intervals(
        ev, key="user_id", ts="ts", attr="event_type", tiebreak=["event_id"]
    )
    return iv.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
    )


# --- funnel conversion (business-analytics composition of the range-join family) ----

@query(
    "funnel_conversion",
    oracle=f"""
    WITH conv AS (
      SELECT a.event_id, strftime(a.ts, '%Y-%m-%d') AS d,
             max(CASE WHEN b.event_id IS NOT NULL THEN 1 ELSE 0 END) AS converted
      FROM (SELECT * FROM events WHERE event_type = 'view') a
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
        ON a.user_id = b.user_id AND b.ts >= a.ts
       AND b.ts <= a.ts + INTERVAL 30 MINUTE
      GROUP BY 1, 2
    ),
    agg AS (
      SELECT d, count(*) AS n_views, sum(converted)::BIGINT AS n_converted
      FROM conv GROUP BY d
    )
    SELECT d, n_views, n_converted,
           {ratio_e4_sql('n_converted', 'n_views')} AS conversion_rate_e4
    FROM agg
    """,
    survey_ref="§2.3/§2.4 composition: funnel conversion (time-bounded attribution, batch twin of the stream-stream join)",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution funnel: per day, how many 'view' events saw a 'purchase'
    by the same user within 30 minutes. The time-bounded LEFT join on the
    entity key is the batch twin of `streaming_stream_join_equiv`'s inner
    form; per-view dedup (max over matches) then a day rollup. Scale: the
    join shuffles on user_id (entity-bounded partitions); the range bound
    keeps per-user match fanout small, and the per-view aggregate collapses
    it before the day rollup."""
    ev = _events(spark, sf_dir)
    # distinct column names on each side: a self-join on shared lineage
    # otherwise degrades `user_id == user_id` to a trivially-true predicate
    # (Spark resolves both sides to the SAME attribute), silently turning
    # the entity join into a pure range join.
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id"), F.col("user_id").alias("v_uid"), F.col("ts").alias("v_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_uid"),
        F.col("ts").alias("p_ts"),
    )
    j = views.join(
        buys,
        on=(
            (F.col("v_uid") == F.col("p_uid"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES"))
        ),
        how="left",
    )
    per_view = j.groupBy(
        F.col("event_id"), F.date_format("v_ts", "yyyy-MM-dd").alias("d")
    ).agg(
        F.max(F.when(F.col("p_id").isNotNull(), 1).otherwise(0)).alias("converted")
    )
    agg = per_view.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_views"),
        F.sum("converted").alias("n_converted"),
    )
    return agg.select(
        "d", "n_views", "n_converted",
        ratio_e4("n_converted", "n_views").alias("conversion_rate_e4"),
    )


# --- native session windows ---------------------------------------------------------


@query(
    "session_window_native",
    oracle="""
    WITH gaps AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
      FROM gaps
    )
    SELECT user_id,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    survey_ref="§2.7/§2.9 native operator: Spark's built-in "
    "session_window() (dynamic-gap session aggregation inside the "
    "engine, usable identically in batch and Structured Streaming) — "
    "the oracle replays the merge rule as gaps-and-islands with the "
    "session_window boundary convention (ts − prev ≥ gap starts a new "
    "session; window end = last event + gap), proving the built-in's "
    "semantics equal the manual islands form",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-native sessionizer: groupBy(user, session_window(ts,
    '30 minutes')) merges overlapping [ts, ts+gap) intervals inside the
    aggregation operator — one exchange, no window-function pass, and
    the SAME expression works under readStream with watermark-driven
    state eviction (the manual islands form does not stream). NOTE the
    boundary differs from the repo's SESSION_IDS_CTES grain: the
    built-in starts a new session at diff ≥ gap, sessionize at
    diff > gap — both conventions are kept, each oracle-pinned."""
    ev = load_table(spark, sf_dir, "events")
    sw = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return sw.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("start_us"),
        F.unix_micros(F.col("w.end")).alias("end_us"),
        "n_events",
    )
