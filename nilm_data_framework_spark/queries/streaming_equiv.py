"""§2.9 driver-visible streaming checks: Structured Streaming resample ==
batch A1 on the same data, and the streaming / incremental twin of every
stateful batch query (trigrams, PAA, session windows, bitmasks, SCD2,
interval union, near-dup ingest, Holt) gated against its batch oracle.

The streaming analog of the MQTT ingest (streaming/ingest.py:29) is covered
by pytest; this registers a DRIVER query so the correctness gate exercises a
real streaming execution: ``readStream`` over the events parquet →
watermark + tumbling-window mean (the A1 shape) → ``availableNow`` trigger
into a memory sink → the sink table is returned and hash-compared against
the batch SQL oracle. With availableNow + complete output the stream drains
the full input, so the final sink state must equal the batch aggregation —
THE batch-streaming unification Structured Streaming promises.

NOTE: the builder necessarily executes eagerly (starts and awaits the
stream) — the returned DataFrame is the materialized sink table. Scale: the
same plan runs incrementally on an unbounded source with the watermark
bounding state; availableNow here is the bounded-backfill mode of that same
deployment (Spark docs: Structured Streaming programming guide).
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

from nilm_data_framework_spark.materialize import checkpoint, pinned
from nilm_data_framework_spark.operators import dedup as D
from nilm_data_framework_spark.operators import lakehouse as LH
from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4,
    ratio_e4_sql,
    u6_mean_e4,
    u6_mean_e4_sql,
)
from nilm_data_framework_spark.operators.windows import (
    interval_coalesce,
    scd2_intervals,
)
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.attribution_trends import (
    _DEBOUNCE_GAP_US,
    DEBOUNCE_BURSTS_CTES,
)
from nilm_data_framework_spark.queries.dedup_text import _NEARDUP_CLUSTERS_SQL
from nilm_data_framework_spark.queries.nilm_analysis import (
    _SAX_SEG_US,
    _holt_fold_expr,
    _holt_oracle_sql,
)
from nilm_data_framework_spark.queries.nilm_windows import _SCD2_INTERVALS_SQL
from nilm_data_framework_spark.queries.tpch_extra import _INTERVAL_COALESCE_SQL
from nilm_data_framework_spark.sources.testdata import _ensure_session_confs, load_table
from nilm_data_framework_spark.streaming.stateful import debounce_stream, trigram_stream
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir


_SINK = "streaming_resample_equiv_sink"


def _stream_dir(sf_dir: str) -> str:
    """The file-stream source requires a DIRECTORY basePath (it monitors for
    new files); events.parquet is a single file, so stream a temp dir
    holding a symlink to it — zero copy, and exactly how an unbounded
    deployment would look (files arriving in a watched directory)."""
    src = os.path.join(sf_dir, "events.parquet")
    d = os.path.join(
        tempfile.gettempdir(),
        f"stream_equiv_{hashlib.md5(src.encode()).hexdigest()[:12]}",
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def _events_stream(spark: SparkSession, sf_dir: str):
    """Streaming scan of the RAW events table. The file-stream source needs
    an explicit schema, but the generator's physical ts type has varied
    across testdata drops (TIMESTAMP(NANOS) → long under nanosAsLong; plain
    timestamp[us] → TIMESTAMP_NTZ), so take the schema from a metadata-only
    batch read of the same file and normalize ts exactly as
    sources/testdata.py:load_table does for batch. STAGED fixtures (written
    from load_table output, ts already normalized) must NOT go through this
    helper — read them with the _EVENTS_TS schema directly."""
    src_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    stream = spark.readStream.schema(src_schema).parquet(_stream_dir(sf_dir))
    t = src_schema["ts"].dataType
    if isinstance(t, LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(t, TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory_sink(agg, name: str, output_mode: str = "complete"):
    """Drain a bounded stream into a fresh memory sink (stop any stale query
    of the same name first) and block until complete. ``complete`` retains
    all state (full unification checks); ``append`` exercises watermark
    eviction — state is dropped and emitted as the watermark passes, which
    is what the late-data query needs."""
    for q in agg.sparkSession.streams.active:
        if q.name == name:
            q.stop()
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


@query(
    "streaming_resample_equiv",
    oracle=f"""
    SELECT event_type,
           date_trunc('hour', ts) AS bucket_ts,
           {u6_mean_e4_sql('sum(CAST(floor(value * 1000000) AS BIGINT))', 'count(*)')} AS avg_value_e4,
           count(*) AS n
    FROM events GROUP BY ALL
    """,
    survey_ref="§2.9 streaming analog (preprocess_shelly.py:19-64; A1 UnifiedNILM.py:66-124)",
    tags=("streaming",),
)
def streaming_resample_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_session_confs(spark)
    stream = _events_stream(spark, sf_dir)
    # exact fixed-point mean (1e-6-truncated integer sum -> round-half-up
    # e4): a float mean's accumulation order differs between the streaming
    # state store and the batch oracle, flipping a 4dp round at sf0.1 (r5)
    agg = (
        stream.withColumn("v_u6", F.floor(F.col("value") * 1000000).cast("long"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "3600 seconds").alias("w"), "event_type")
        .agg(F.sum("v_u6").alias("_s"), F.count(F.lit(1)).alias("n"))
    )
    _run_to_memory_sink(agg, _SINK)
    return spark.table(_SINK).select(
        "event_type",
        F.col("w.start").alias("bucket_ts"),
        u6_mean_e4("_s", "n").alias("avg_value_e4"),
        "n",
    )


_SESS_SINK = "streaming_sessionize_equiv_sink"


@query(
    "streaming_sessionize_equiv",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
                       >= 1800 OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM gaps
    ),
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
    survey_ref="§2.9 streaming session windows (session_window; batch twin of W5/sessionize)",
    tags=("streaming",),
)
def streaming_sessionize_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, gap) on a real stream == gaps-and-islands batch
    sessionization. Boundary semantics: Spark's session window is
    [start, end) with end = last_ts + gap, so an event arriving EXACTLY gap
    after the previous one opens a new session — the batch oracle therefore
    breaks on ``delta >= gap`` (the batch `sessionize` twin uses ``>`` with
    event_id tie-breaks; both are valid reference semantics, pinned
    explicitly in each oracle)."""
    _ensure_session_confs(spark)
    stream = _events_stream(spark, sf_dir)
    per_session = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "1800 seconds").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    _run_to_memory_sink(per_session, _SESS_SINK)
    return (
        spark.table(_SESS_SINK)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("cnt").alias("n_events"),
        )
        .select(
            "user_id", "n_sessions", "n_events",
            ratio_e4("n_events", "n_sessions").alias("avg_session_events_e4"),
        )
    )


# --- watermark late-data DROP semantics --------------------------------------
# The two queries above prove batch-stream unification on fully-drained
# input; this one proves the WATERMARK actually drops post-eviction late
# data. Three files stream in deterministic (mtime) order, one per
# micro-batch:
#   a.parquet  events < Jan 20      — advances the watermark to maxA-1h
#   b.parquet  events >= Jan 20     — its batch EVICTS+EMITS all windows
#                                     ending <= maxA-1h, wm -> maxB-1h
#   c.parquet  shifted-id copies of day-1 events — every row's window was
#                                     evicted a batch ago -> ALL dropped
# Empirically pinned semantics (probed before writing this): a late row
# merges fine while its window state is live (eviction happens at END of
# the batch whose wm passed the window end; in-batch arrivals still merge)
# and is dropped only once the state is gone. Hence the oracle is the plain
# batch aggregate over the REAL events with the emission cutoff
# window_end <= max(ts)-1h — the injected late file must leave no trace.

_LATE_SINK = "streaming_late_drop_sink"
_EVENTS_TS = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _staged_stream_dir(dir_tag: str, slices: dict[str, DataFrame]) -> str:
    """Materialize a multi-file streaming fixture: each slice is written as
    ONE parquet file with strictly increasing mtimes so FileStreamSource
    order is deterministic. The whole fixture is assembled in a PID-KEYED
    scratch dir (dead-owner reaped, per the repo's /tmp rule) and PUBLISHED
    into the shared watched path with one atomic os.rename — concurrent
    processes can never observe a partial fixture or race on a shared stage
    dir (r5 review fix); a publish-race loser discards its build and uses
    the winner's complete fixture. Cached on the LAST file's presence
    (rename publishes all-or-nothing, so the last file existing implies a
    complete fixture)."""

    d = os.path.join(tempfile.gettempdir(), dir_tag)
    names = list(slices)
    done = os.path.join(d, f"{names[-1]}.parquet")
    if os.path.exists(done):
        return d
    build = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "stream_fixture_build"), f"{dir_tag}_"
    )
    shutil.rmtree(build, ignore_errors=True)
    os.makedirs(build)
    for i, (name, df) in enumerate(slices.items()):
        stage = os.path.join(build, f"_stage_{name}")
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        dest = os.path.join(build, f"{name}.parquet")
        shutil.move(part, dest)
        shutil.rmtree(stage, ignore_errors=True)
        os.utime(dest, (1_000_000 + i * 1000, 1_000_000 + i * 1000))
    try:
        os.rename(build, d)
    except OSError:
        if os.path.exists(done):
            # lost the publish race to a COMPLETE fixture — use the winner's
            shutil.rmtree(build, ignore_errors=True)
        else:
            # d is a stale partial from a crashed pre-atomic build: replace
            shutil.rmtree(d, ignore_errors=True)
            os.rename(build, d)
    return d


def _late_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """The 3-file late-arrival fixture from the batch events table."""

    ev = load_table(spark, sf_dir, "events")
    return _staged_stream_dir(
        f"late_drop_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-20")),
            "b": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
            "c": ev.filter(F.col("ts") < F.lit("2024-01-02")).withColumn(
                "event_id", F.col("event_id") + F.lit(1000000)
            ),
        },
    )


@query(
    "streaming_late_data_drop",
    oracle=f"""
    WITH wmf AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
    agg AS (
      SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
             count(*) AS n,
             {u6_mean_e4_sql('sum(CAST(floor(value * 1000000) AS BIGINT))', 'count(*)')} AS avg_value_e4
      FROM events GROUP BY 1, 2
    )
    SELECT * FROM agg WHERE bucket_ts + INTERVAL 1 HOUR <= (SELECT w FROM wmf)
    """,
    survey_ref="§2.9 watermark semantics: post-eviction late data dropped (append mode)",
    tags=("streaming",),
)
def streaming_late_data_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_session_confs(spark)
    d = _late_stream_dir(spark, sf_dir)
    stream = spark.readStream.schema(_EVENTS_TS).option("maxFilesPerTrigger", 1).parquet(d)
    agg = (
        stream.withColumn("v_u6", F.floor(F.col("value") * 1000000).cast("long"))
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "3600 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v_u6").alias("_s"))
    )
    _run_to_memory_sink(agg, _LATE_SINK, output_mode="append")
    return spark.table(_LATE_SINK).select(
        F.col("w.start").alias("bucket_ts"), "event_type", "n",
        u6_mean_e4("_s", "n").alias("avg_value_e4"),
    )


# --- streaming dedup (stateful distinct-keys) --------------------------------
# dropDuplicates on a stream keeps the first ARRIVAL per key — which row that
# is depends on partition/batch order, so the check aggregates to an output
# that is invariant to the survivor choice: distinct (user_id, event_type)
# counts per type. State = one entry per distinct key (bounded by key-domain
# cardinality, the right state bound for entity-keyed dedup; content-hash
# dedup over unbounded keys uses dropDuplicatesWithinWatermark + the batch
# exact-dedup backfill instead).

_DEDUP_SINK = "streaming_dedup_equiv_sink"


@query(
    "streaming_dedup_equiv",
    oracle="""
    SELECT event_type, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
    survey_ref="§2.9 streaming dedup (stateful dropDuplicates; batch twin of P10/W2)",
    tags=("streaming",),
)
def streaming_dedup_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_session_confs(spark)
    stream = _events_stream(spark, sf_dir)
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    _run_to_memory_sink(deduped, _DEDUP_SINK, output_mode="append")
    return (
        spark.table(_DEDUP_SINK)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_SLIDING_SINK = "streaming_sliding_window_sink"


@query(
    "streaming_sliding_window_equiv",
    oracle="""
    WITH offs AS (SELECT unnest([0, 1]) AS o),
    w AS (
      SELECT event_type,
             date_trunc('hour', ts) - to_hours(o) AS w_start,
             value
      FROM events, offs
    )
    SELECT event_type, w_start, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM w GROUP BY event_type, w_start
    """,
    survey_ref="§2.9 streaming SLIDING windows (window(2h, 1h) — each event in 2 overlapping windows; tumbling is streaming_resample_equiv)",
    tags=("streaming",),
)
def streaming_sliding_window_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming aggregate: 2-hour windows every hour, so
    every event lands in exactly two windows (the overlap is what tumbling
    can't express — rolling rates, moving averages over event time). The
    batch oracle replays the window assignment as an explicit
    event x {0,1}-offset expansion. State cost in a real deployment is
    (windows alive within the watermark) x groups — bounded by the
    watermark horizon exactly like the tumbling case, just x(size/slide)."""
    _ensure_session_confs(spark)
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # sum, not avg: the synthetic values carry 2 decimals, so an
            # 8-element avg lands EXACTLY on the 4dp rounding boundary and
            # the two engines' summation orders flip the rounding; the sum
            # of 2dp values is never on a 2dp boundary.
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    _run_to_memory_sink(agg, _SLIDING_SINK)
    return spark.table(_SLIDING_SINK).select(
        "event_type", F.col("w.start").alias("w_start"), "n", "sum_value"
    )


_DEDUP_WM_SINK = "streaming_dedup_watermark_sink"


@query(
    "streaming_dedup_watermark_equiv",
    oracle="""
    SELECT event_type,
           count(DISTINCT (user_id, CAST(ts AS DATE))) AS n_user_days
    FROM events GROUP BY event_type
    """,
    survey_ref="§2.9 streaming windowed dedup (dropDuplicatesWithinWatermark — state is EVICTED past the horizon, unlike dropDuplicates' unbounded key set)",
    tags=("streaming",),
)
def streaming_dedup_watermark_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same-user-same-day events count once per type. The operator under
    test is ``dropDuplicatesWithinWatermark`` — the production form of
    streaming dedup: ``dropDuplicates`` retains every key ever seen
    (state grows with stream history, eventually OOM on an unbounded
    stream), while the watermark variant evicts keys older than the
    horizon, bounding state by the dedup window. On this bounded replay
    (single-file source → one micro-batch, watermark only advances after
    it) no eviction fires mid-batch, so the result equals the batch
    distinct — which is exactly the equivalence worth attesting.
    """
    _ensure_session_confs(spark)
    stream = _events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "1 hour")
        .select("event_type", "user_id", F.to_date("ts").alias("day"), "ts")
        .dropDuplicatesWithinWatermark(["event_type", "user_id", "day"])
    )
    _run_to_memory_sink(deduped, _DEDUP_WM_SINK, output_mode="append")
    return (
        spark.table(_DEDUP_WM_SINK)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_user_days"))
    )


# --- stream-static join ------------------------------------------------------
# The enrichment topology every deployment runs: an unbounded fact stream
# joined to a slowly-changing dim snapshot. Stream-static inner joins are
# STATELESS — each micro-batch probes the current dim (broadcast if small,
# shuffle otherwise, AQE-decided per batch), so this scales with batch size,
# not stream history.

_SJOIN_SINK = "streaming_static_join_sink"


@query(
    "streaming_static_join_equiv",
    oracle="""
    SELECT c.c_mktsegment AS segment, e.event_type,
           count(*) AS n, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY ALL
    """,
    survey_ref="§2.9 stream-static enrichment join (streaming J1 analog)",
    tags=("streaming",),
)
def streaming_static_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_session_confs(spark)
    stream = _events_stream(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    joined = stream.join(dim, stream["user_id"] == dim["c_custkey"])
    agg = (
        joined.withWatermark("ts", "1 hour")
        .groupBy("segment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    _run_to_memory_sink(agg, _SJOIN_SINK)
    return spark.table(_SJOIN_SINK).select("segment", "event_type", "n", "sum_value")


# --- stream-stream join ------------------------------------------------------
# The funnel/attribution topology: two unbounded streams inner-joined on an
# entity key with an event-time range bound. Both sides carry watermarks and
# the join condition bounds b.ts to [a.ts, a.ts + 30min], so Spark can size
# the join state to the window + watermark and EVICT — the state never grows
# with stream length, which is the whole 100 TB story for stream-stream
# joins (unbounded-state joins are rejected by the engine in append mode).

_SSJOIN_SINK = "streaming_stream_join_sink"


@query(
    "streaming_stream_join_equiv",
    oracle="""
    SELECT a.event_id AS view_id, b.event_id AS purchase_id, a.user_id,
           epoch_us(a.ts) AS view_ts_us, epoch_us(b.ts) AS purchase_ts_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
    """,
    survey_ref="§2.9 stream-stream range join (watermark-bounded state; batch twin of J-ext range join)",
    tags=("streaming",),
)
def streaming_stream_join_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _ensure_session_confs(spark)
    views = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (F.col("purchase_ts") <= F.col("view_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    _run_to_memory_sink(joined, _SSJOIN_SINK, output_mode="append")
    return spark.table(_SSJOIN_SINK).select(
        "view_id",
        "purchase_id",
        "user_id",
        F.unix_micros(F.col("view_ts")).alias("view_ts_us"),
        F.unix_micros(F.col("purchase_ts")).alias("purchase_ts_us"),
    )


_DEBOUNCE_SINK = "streaming_debounce_equiv_sink"


# gap + burst-tagging CTEs are SHARED with the batch debounce_events query
# (queries/attribution_trends.py) — the whole point of this gate is batch
# == stream on the same grain, so the grain definition must live once
@query(
    "streaming_debounce_equiv",
    oracle=f"""
    {DEBOUNCE_BURSTS_CTES},
    per AS (
      SELECT user_id, event_type, burst_id, count(*) AS blen
      FROM bursts GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type,
           count(*) AS n_kept,
           CAST(sum(blen) AS BIGINT) AS n_raw,
           CAST(max(blen) AS BIGINT) AS max_burst
    FROM per GROUP BY 1, 2
    """,
    survey_ref="§2.9 custom stateful operator: streaming chain-debounce "
    "(streaming/stateful.py::debounce_stream, applyInPandasWithState — "
    "2-long state per key) == the batch gaps-and-islands debounce",
)
def streaming_debounce_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """debounce_stream on a real bounded stream == the batch window-based
    debounce (same oracle family as debounce_events). The stateful kernel
    tags every event with its burst id from 2 longs of per-key state; the
    drained sink then reduces bursts exactly like the batch query — so the
    gate proves the INCREMENTAL chain state machine matches the
    gaps-and-islands formulation row-for-row."""
    _ensure_session_confs(spark)

    stream = _events_stream(spark, sf_dir)
    tagged = debounce_stream(stream, gap_us=_DEBOUNCE_GAP_US)
    _run_to_memory_sink(tagged, _DEBOUNCE_SINK, output_mode="append")
    per = (
        spark.table(_DEBOUNCE_SINK)
        .groupBy("user_id", "event_type", "burst_id")
        .agg(F.count(F.lit(1)).alias("blen"))
    )
    return per.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("blen").alias("n_raw"),
        F.max("blen").alias("max_burst"),
    )


# --- foreachBatch incremental MERGE (streaming -> lakehouse state) -----------------------

_MERGE_STATE_PREFIX = "merge_state_"


def _split3_stream_dir(spark: SparkSession, sf_dir: str) -> str:
    """Events cut into 3 files by ``event_id % 3`` — with
    maxFilesPerTrigger=1 the stream runs as 3 micro-batches over disjoint
    row sets."""

    ev = load_table(spark, sf_dir, "events")
    return _staged_stream_dir(
        f"split3_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {f"b{i}": ev.filter(F.col("event_id") % 3 == i) for i in range(3)},
    )


@query(
    "streaming_merge_upsert_equiv",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT)
             AS total_u6,
           max(ts) AS last_ts
    FROM events GROUP BY user_id
    """,
    survey_ref="§2.9 + lakehouse extension: foreachBatch incremental MERGE "
    "— per-batch aggregates accumulated into versioned per-key state; "
    "final state == the one-shot batch aggregate",
)
def streaming_merge_upsert_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming→lakehouse ingest pattern: each micro-batch
    reduces to per-user aggregates, then MERGEs into a persisted state
    table (operators/lakehouse.py::merge_accumulate) via ``foreachBatch``
    — read state v{id-1}, combine, overwrite v{id} (the parquet stand-in
    for a Delta/Iceberg transactional MERGE), keyed by the BATCH ID so a
    replayed micro-batch is idempotent per the foreachBatch contract.
    Because + and greatest are commutative-associative, the final state is
    invariant to the micro-batch cut, which the one-shot batch oracle
    replays exactly: all value math is exact integer micro-units, so no
    accumulation-order float drift exists either. The 3-file fixture
    forces 3 real MERGE rounds (asserted), not one degenerate batch."""

    _ensure_session_confs(spark)
    d = _split3_stream_dir(spark, sf_dir)
    state_root = os.path.join(
        tempfile.gettempdir(),
        f"{_MERGE_STATE_PREFIX}{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
    )
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)
    seen_batches: set[int] = set()

    def upsert(batch: DataFrame, batch_id: int) -> None:
        # IDEMPOTENT under micro-batch replay (the foreachBatch contract:
        # a batch can be re-delivered with the same id after a commit
        # failure): state version = batch id, prev = v{batch_id-1} — a
        # replayed batch re-reads the SAME prev and overwrites its own
        # output instead of accumulating itself twice.
        agg_b = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col("value") * 1000000).cast("long")).alias("total_u6"),
            F.max("ts").alias("last_ts"),
        )
        prev_path = os.path.join(state_root, f"v{batch_id - 1}")
        prev = spark.read.parquet(prev_path) if batch_id > 0 else None
        merged = LH.merge_accumulate(
            prev, agg_b, "user_id", sums=["n_events", "total_u6"], maxes=["last_ts"]
        )
        merged.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id}")
        )
        seen_batches.add(batch_id)

    schema = spark.read.parquet(os.path.join(d, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = (
        stream.writeStream.foreachBatch(upsert)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen_batches == {0, 1, 2}, f"expected 3 MERGE rounds, got {seen_batches}"
    return spark.read.parquet(os.path.join(state_root, "v2")).select(
        "user_id", "n_events", "total_u6", "last_ts"
    )


# --- streaming sequential-pattern equivalence --------------------------------


_TRIGRAM_SINK = "streaming_trigram_equiv_sink"


@query(
    "streaming_trigram_equiv",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL GROUP BY 1
    """,
    survey_ref="§2.9 custom stateful operator: streaming 3-step pattern "
    "tracker (streaming/stateful.py::trigram_stream, applyInPandasWithState"
    " — two strings of per-user state) == the batch lead()×2 window, "
    "counted over ALL trigrams",
)
def streaming_trigram_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trigram_stream on a real bounded stream == the batch window form of
    event_type_trigrams (full counts, no top-k cut, so the comparison has
    no tie sensitivity). Each trigram is emitted the moment its third
    event arrives, from two carried strings of per-user state — proving
    the incremental pattern tracker reproduces the batch lead() window
    row-for-row across micro-batch boundaries."""

    _ensure_session_confs(spark)
    # three TIME-RANGE slices + maxFilesPerTrigger=1 → three micro-batches
    # that are per-key time-ordered (the kernel's ordering contract), so
    # the per-user (t1, t2) state genuinely carries ACROSS batches — a
    # single-file replay would decide every trigram inside one batch and
    # leave the state handoff untested
    ev = load_table(spark, sf_dir, "events")
    d = _staged_stream_dir(
        f"trigram_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-10")),
            "b": ev.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            ),
            "c": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
        },
    )
    # the staged fixture is written from load_table output (ts already
    # normalized to TIMESTAMP), so read it with the NORMALIZED schema —
    # NOT via _events_stream, whose raw-file schema + raw-variant ts
    # conversion would mis-handle a TIMESTAMP(NANOS) testdata drop (r5
    # review fix; same pattern as streaming_late_data_drop)
    stream = (
        spark.readStream.schema(_EVENTS_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    tagged = trigram_stream(stream)
    _run_to_memory_sink(tagged, _TRIGRAM_SINK, output_mode="append")
    return (
        spark.table(_TRIGRAM_SINK)
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --- stream disorder (Spearman footrule) -------------------------------------


@query(
    "stream_disorder_footrule",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rank_ts,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY event_id) AS BIGINT) AS rank_arrival
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(abs(rank_ts - rank_arrival)) AS BIGINT) AS footrule,
           CAST((sum(abs(rank_ts - rank_arrival)) * 20000
                 + greatest((count(*) * count(*)) // 2, 1))
                // (2 * greatest((count(*) * count(*)) // 2, 1)) AS BIGINT)
             AS disorder_e4
    FROM ranked GROUP BY event_type
    """,
    survey_ref="§2.9 streaming diagnostics: Spearman-footrule disorder "
    "between event-time order and arrival order per stream — the exact "
    "out-of-orderness measure that sizes watermark delay (footrule/max "
    "as exact e4; max Σ|r−r'| = ⌊n²/2⌋); the rank-based companion of "
    "streaming_late_data_drop's fixed-delay count",
)
def stream_disorder_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rank windows per stream key (one exchange, two sorts) + one
    agg: footrule = Σ|rank_by_event_time − rank_by_arrival|. Exact
    integers end-to-end (disorder_e4 via the shared integer-rounding
    form). At 100 TB this is THE measurement that decides
    withWatermark's delay before deploying any streaming job. NOTE: the
    synthetic events table is perfectly time-ordered by event_id, so the
    measured disorder here is exactly 0 — the true statement the gate
    checks; late_arrival_p99 models a multi-producer transport to show
    the nonzero case."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w_ts = Window.partitionBy("event_type").orderBy("us", "event_id")
    w_id = Window.partitionBy("event_type").orderBy("event_id")
    ranked = ev.select(
        "event_type",
        F.row_number().over(w_ts).cast("long").alias("rank_ts"),
        F.row_number().over(w_id).cast("long").alias("rank_arrival"),
    )

    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(F.col("rank_ts") - F.col("rank_arrival")))
        .cast("long")
        .alias("footrule"),
        ratio_e4(
            "sum(abs(rank_ts - rank_arrival))",
            "greatest((count(1) * count(1)) div 2, 1)",
        )
        .cast("long")
        .alias("disorder_e4"),
    )


# --- streaming PAA equivalence -----------------------------------------------


def _paa_oracle() -> str:
    return f"""
    SELECT user_id, epoch_us(ts) // {_SAX_SEG_US} AS seg,
           {u6_mean_e4_sql(
               'sum(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))',
               'count(*)')} AS mean_e4,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """


@query(
    "streaming_paa_equiv",
    oracle=_paa_oracle(),
    survey_ref="§2.9 streaming analog of the SAX front end: 6h tumbling-"
    "window PAA segment means via readStream + watermark, drained with "
    "availableNow into a memory sink — the final sink state must equal "
    "the batch PAA aggregation exactly (the symbolization pipeline's "
    "incremental form)",
    tags=("streaming",),
)
def streaming_paa_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sax_motifs front end as a stream: tumbling 6h windows (epoch-
    aligned, same grain as the batch seg = us div 21600e6), exact u6
    sums/counts as state, mean_e4 derived at emit. availableNow + complete
    output drains the bounded backfill; the identical plan runs unbounded
    with the watermark bounding state. Executes eagerly (starts and
    awaits the stream); returns the materialized sink table."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.col("user_id"), F.window("ts", "6 hours").alias("w"))
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * 1000000).cast("long")
            )
            .cast("long")
            .alias("s6"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .select(
            "user_id",
            F.expr(f"unix_micros(to_timestamp(w.start)) div {_SAX_SEG_US}")
            .cast("long")
            .alias("seg"),
            u6_mean_e4("s6", "cnt").alias("mean_e4"),
            "cnt",
        )
    )
    _run_to_memory_sink(agg, "streaming_paa_equiv_sink")
    return spark.table("streaming_paa_equiv_sink")


# --- watermark-lag recommendation (p99 lateness) -----------------------------


@query(
    "late_arrival_p99",
    oracle="""
    WITH arr AS (
      SELECT event_type, epoch_us(ts) AS us,
             epoch_us(ts) // 600000000 AS w,
             user_id % 8 AS producer, event_id
      FROM events
    ),
    seq AS (
      SELECT event_type, us,
             max(us) OVER (PARTITION BY event_type
                           ORDER BY w, producer, us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS seen_max
      FROM arr
    ),
    late AS (
      SELECT event_type, seen_max - us AS late_us
      FROM seq WHERE seen_max > us
    ),
    ranked AS (
      SELECT event_type, late_us,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY late_us, late_us) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM late
    )
    SELECT event_type, n AS n_late,
           CAST(max(CASE WHEN rk * 100 <= n * 99 THEN late_us END) AS BIGINT)
             AS p99_late_us,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM ranked GROUP BY event_type, n
    """,
    survey_ref="§2.9 streaming diagnostics: exact p99 event lateness under "
    "a modeled multi-producer transport (producers = user_id mod 8 flush "
    "once per 10-min window, in producer order — the testdata stream is "
    "perfectly ordered, so transport-induced disorder is what a real "
    "deployment must size its watermark for); lateness = running-max over "
    "arrival order − event time, exact micros, rank-picked p99",
)
def late_arrival_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-sizing measurement: arrival order = (10-min window,
    producer bucket, time) — a deterministic model of K producers each
    flushing its window batch in turn (Kafka-partition-per-producer
    reality; the raw table is already time-sorted, so measuring it
    directly yields zero lateness — see stream_disorder_footrule).
    One running-max window + one rank window on the stream key; the p99
    pick (largest late_us with rank ≤ 99% of n) is exact. p99 here ≈ the
    10-min window width: the watermark a deployment of THIS transport
    needs."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr("unix_micros(ts) div 600000000").alias("w"),
        (F.col("user_id") % 8).alias("producer"),
        "event_id",
    )
    w_arr = (
        Window.partitionBy("event_type")
        .orderBy("w", "producer", "us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = ev.withColumn("seen_max", F.max("us").over(w_arr))
    late = seq.where(F.col("seen_max") > F.col("us")).select(
        "event_type", (F.col("seen_max") - F.col("us")).alias("late_us")
    )
    w_rk = Window.partitionBy("event_type").orderBy("late_us")
    w_n = Window.partitionBy("event_type")
    ranked = late.select(
        "event_type",
        "late_us",
        F.row_number().over(w_rk).cast("long").alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("long").alias("n"),
    )
    return ranked.groupBy("event_type", F.col("n").alias("n_late")).agg(
        F.max(F.when(F.col("rk") * 100 <= F.col("n") * 99, F.col("late_us")))
        .cast("long")
        .alias("p99_late_us"),
        F.max("late_us").cast("long").alias("max_late_us"),
    ).select("event_type", "n_late", "p99_late_us", "max_late_us")


# --- streaming session_window equivalence --------------------------------------------

_SESSION_WIN_SINK = "streaming_session_window_sink"


@query(
    "streaming_session_window_equiv",
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
    survey_ref="§2.9 streaming analog: the ENGINE-NATIVE session_window "
    "aggregation run as a 3-micro-batch file stream (complete mode, "
    "availableNow drain) — per-(user, session) state must MERGE across "
    "batch boundaries (a session whose events straddle two files arrives "
    "as two partial windows the state store unifies); final sink == the "
    "batch gaps-and-islands oracle, the same one session_window_native "
    "pins in batch",
    tags=("streaming",),
)
def streaming_session_window_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window under readStream: the one stateful operator whose
    state is an INTERVAL (merge-able), not a scalar — micro-batch
    boundaries split sessions and the store must coalesce overlapping
    [start, last+gap) fragments. Time-range slices + maxFilesPerTrigger=1
    make the cross-batch merge real; complete mode retains every session
    so the drained sink equals the batch answer exactly (no watermark
    cutoff subtlety in the gate; production adds withWatermark for
    eviction, same expression)."""

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    d = _staged_stream_dir(
        f"sesswin_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-10")),
            "b": ev.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            ),
            "c": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
        },
    )
    stream = (
        spark.readStream.schema(_EVENTS_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    _run_to_memory_sink(agg, _SESSION_WIN_SINK, output_mode="complete")
    return spark.table(_SESSION_WIN_SINK).select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("start_us"),
        F.unix_micros(F.col("w.end")).alias("end_us"),
        "n_events",
    )


# --- streaming bitmask equivalence -----------------------------------------------------

_BITMASK_SINK = "streaming_bitmask_sink"


@query(
    "streaming_bitmask_equiv",
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
    survey_ref="§2.9 streaming analog: the bit_or bitmask aggregate run "
    "incrementally — per-user OR-state merged across 3 time-sliced "
    "micro-batches (complete mode, availableNow drain), final sink == "
    "the batch activity_bitmask_hist; proves the OR-mergeable-state "
    "claim the bitmask row in SCALE.md makes",
    tags=("streaming",),
)
def streaming_bitmask_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmask encoding's real selling point is that OR-state is
    trivially incremental: each micro-batch ORs new hour bits into the
    per-user long. Same 3-file staged fixture as the session-window
    twin; the popcount histogram is computed on the DRAINED sink so the
    cross-batch merge is what the oracle checks."""

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    d = _staged_stream_dir(
        f"sesswin_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-10")),
            "b": ev.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            ),
            "c": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
        },
    )
    stream = (
        spark.readStream.schema(_EVENTS_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    per_user = stream.groupBy("user_id").agg(
        F.expr(
            "bit_or(shiftleft(1L, CAST((unix_micros(ts) div 3600000000) % 24"
            " AS INT)))"
        ).alias("mask")
    )
    _run_to_memory_sink(per_user, _BITMASK_SINK, output_mode="complete")
    return (
        spark.table(_BITMASK_SINK)
        .groupBy(F.bit_count("mask").cast("long").alias("n_active_hours"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("mask").cast("long").alias("min_mask"),
            F.max("mask").cast("long").alias("max_mask"),
        )
    )


# --- incremental SCD2 maintenance == full-history recompute --------------------

# 2024-01-16T00:00:00Z in microseconds — mid-span of the events fixture at
# every sf (generator emits January 2024), so both batches are non-empty.
_SCD2_CUT_US = 1_705_363_200_000_000


def scd2_fold(
    intervals: DataFrame,
    batch: DataFrame,
    key: str,
    ts: str,
    attr: str,
    tiebreak: str,
) -> DataFrame:
    """Fold an append-only changelog batch into an EXISTING interval table
    (the interval-level half of :func:`scd2_incremental`, exposed so the
    streaming twin can iterate it per micro-batch):

      closed       — runs that already ended are immutable (the batch is
                     strictly later in event time), so they pass through
                     untouched;
      seed         — each key's OPEN run re-enters as one synthetic row at
                     its run start (tiebreak -1 so it orders before any
                     real row at the same instant — unreachable here since
                     seed ts <= cut < batch ts, but total orders stay
                     total);
      iv2          — scd2_intervals over (seeds ∪ batch): a batch row
                     continuing the open run's attr MERGES into it (the
                     original valid_from survives via the seed), a
                     different attr closes it at the new row's ts.

    Precondition: every batch row is strictly later (by ``ts``) than every
    row already folded for the same key — the clean time-cut an
    append-only changelog gives. Iterating the fold over time-ordered
    batches is exact for the same reason one fold is: each fold's output
    is a valid interval table whose open runs carry their true
    valid_from."""
    closed = intervals.filter(F.col("valid_to").isNotNull())
    tb_type = batch.schema[tiebreak].dataType
    seeds = intervals.filter(F.col("valid_to").isNull()).select(
        F.col(key),
        F.col("valid_from").alias(ts),
        F.col(attr),
        F.lit(-1).cast(tb_type).alias(tiebreak),
    )
    iv2 = scd2_intervals(
        seeds.unionByName(batch.select(key, ts, attr, tiebreak)),
        key=key, ts=ts, attr=attr, tiebreak=[tiebreak],
    )
    return closed.unionByName(iv2)


def scd2_incremental(
    batch1: DataFrame,
    batch2: DataFrame,
    key: str,
    ts: str,
    attr: str,
    tiebreak: str,
) -> DataFrame:
    """Incremental SCD2 maintenance: fold an append-only changelog batch
    into an existing interval table WITHOUT recomputing history —
    scd2_intervals over batch1 composed with :func:`scd2_fold` (see there
    for the algebra and the strictly-later precondition). Scale: the
    increment touches closed history ZERO times — cost is O(open
    intervals + batch), the same contract as merge_upsert/
    append_bm25_batch; a daily batch against years of history reads one
    row per live key plus the day's rows.
    """
    iv1 = scd2_intervals(batch1, key=key, ts=ts, attr=attr, tiebreak=[tiebreak])
    return scd2_fold(iv1, batch2, key=key, ts=ts, attr=attr, tiebreak=tiebreak)


# The oracle IS the full-history recompute — shared verbatim from
# scd2_user_intervals, because "incremental fold == recompute from scratch" is
# exactly the equivalence this gate proves (the ivf_append_probe_equiv /
# bm25_append_probe_equiv pattern, applied to dimension history).
@query(
    "scd2_incremental_equiv",
    oracle=_SCD2_INTERVALS_SQL,
    survey_ref="§2.5 SCD2 extension: INCREMENTAL dimension-history "
    "maintenance — closed runs pass through, each open run re-enters as a "
    "seed row, scd2 re-collapses (seeds ∪ new batch) only; gated "
    "hash-identical to the full-history recompute (oracle shared verbatim "
    "from scd2_user_intervals) — the append-fold equivalence "
    "ivf_append_probe_equiv/bm25_append_probe_equiv prove for indexes, "
    "proved for SCD2",
)
def scd2_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split the changelog at the fixed mid-span cut, maintain
    incrementally, emit the same (user_id, event_type, valid_from_us,
    valid_to_us) shape as scd2_user_intervals. Hash equality against the
    full-recompute oracle proves the maintenance algebra exactly — run
    boundaries, boundary-spanning merges, keys that appear in only one
    batch, all of it."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    us = F.unix_micros(F.col("ts"))
    iv = scd2_incremental(
        ev.filter(us <= _SCD2_CUT_US),
        ev.filter(us > _SCD2_CUT_US),
        key="user_id", ts="ts", attr="event_type", tiebreak="event_id",
    )
    return iv.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
    )


# --- incremental interval-union fold == full recompute --------------------------------


# The full-recompute oracle, shared VERBATIM from the registered
# interval_coalesce_coverage — the gate IS the algebra proof that the
# incremental fold changes nothing (the r8 incremental-equivalence
# discipline).
@query(
    "interval_coalesce_incremental_equiv",
    oracle=_INTERVAL_COALESCE_SQL,
    survey_ref="§2.6/§2.9 extension: INCREMENTAL interval-union "
    "maintenance — previously-coalesced islands re-enter the coalesce as "
    "weighted intervals alongside the new batch, and the fold must equal "
    "the full recompute bit-for-bit (oracle shared verbatim): interval "
    "union is associative and idempotent, so coalesce(coalesce(A) ∪ B) "
    "= coalesce(A ∪ B) — the ingest-fold algebra the SCD2/CC/near-dup "
    "equivalence gates established, now for the coverage kernel",
)
def interval_coalesce_incremental_equiv(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-batch interval-union maintenance: the persisted state is the
    island table (spans + member counts) — O(islands), not O(events) —
    and an arriving batch folds in by re-coalescing (islands ∪ batch)
    only. This gate splits events into old (event_id % 4 != 0, the
    harder interleaved split — batch intervals land INSIDE old islands,
    bridge them, and extend them) and batch, folds, and must hash-match
    the full-recompute oracle on the final per-user coverage report.

    Exactness: seed islands carry their member counts through the
    operator's ``weight`` hook (n_raw sums exactly); seed tiebreak ids
    are negative island ordinals, disjoint from the batch's positive
    event_ids, so the fold's (s, tiebreak) order stays total. At 100 TB
    the fold's window input per batch is O(islands + batch), never the
    event history."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + (F.col("event_id") % 7 + 1) * F.lit(60_000_000)
        ).alias("e"),
    )
    old = ev.where(F.col("event_id") % 4 != 0)
    batch = ev.where(F.col("event_id") % 4 == 0)
    seeds = interval_coalesce(old, ["user_id"]).select(
        "user_id",
        (-F.col("island")).cast("long").alias("event_id"),
        F.col("island_s").alias("s"),
        F.col("island_e").alias("e"),
        F.col("n_raw_in").alias("w"),
    )
    batch_iv = batch.select(
        "user_id", "event_id", "s", "e", F.lit(1).cast("long").alias("w")
    )
    fold = interval_coalesce(
        seeds.unionByName(batch_iv), ["user_id"], weight="w"
    )
    return fold.groupBy("user_id").agg(
        F.sum("n_raw_in").cast("long").alias("n_raw"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("island_e") - F.col("island_s"))
        .cast("long")
        .alias("covered_us"),
        F.max(F.col("island_e") - F.col("island_s"))
        .cast("long")
        .alias("max_island_us"),
    )


# --- streaming twin of the incremental near-dup ingest (§2.9 closure) -------------


# Shared VERBATIM with neardup_clusters / incremental_neardup_clusters_ equiv:
# the from-scratch clustering of the whole corpus is the spec any ingest order
# — batch or micro-batch — must reproduce.
@query(
    "streaming_neardup_ingest_equiv",
    oracle=_NEARDUP_CLUSTERS_SQL,
    survey_ref="§2.9 + §2.10 composed: the r8 incremental near-dup ingest "
    "flagship wired into a foreachBatch sink — per micro-batch: screen "
    "against the persisted LSH segments of all PRIOR batches, pair within "
    "the batch, fold into the versioned cluster labels "
    "(connected_components_incremental), publish the batch as a new "
    "segment; final labels must hash-match neardup_clusters' from-scratch "
    "clustering (oracle shared verbatim) — closes the last §2.9 gap: "
    "every incremental fold now has a streaming story",
    tags=("streaming",),
)
def streaming_neardup_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup as a stream. State is versioned BY BATCH ID
    (the r5 foreachBatch discipline): labels v{id} are computed from
    v{id-1} and OVERWRITTEN, and each batch's LSH reference is its own
    overwrite-written SEGMENT (the Lucene-segment shape) — so a replayed
    micro-batch re-reads the same prev state and overwrites its own
    outputs instead of double-appending (the reason this gate does NOT
    grow one reference in place: a replayed in-place append would
    duplicate bucket rows; a transactional table format is what licenses
    the single-layout append of append_lsh_reference in production).

    Exactness is the r8 flagship's endpoint decomposition, iterated: a
    pair (u, v) with batch(u) = i <= batch(v) = j surfaces exactly when
    batch j screens against segment i (i < j, same persisted hash
    params) or within batch j (i = j); Jaccard verification is per-pair;
    the CC fold is exact by the label-is-min-id invariant. Per-batch
    cost: O(batch shingles + matching segment buckets + touched labels)
    — old documents are never re-shingled, old edges never re-read."""

    _ensure_session_confs(spark)
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = _staged_stream_dir(
        f"ndup3_{tag}",
        {f"b{i}": docs.filter(F.col("doc_id") % 3 == i) for i in range(3)},
    )
    scratch = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_ndup_stream"), "st_"
    )
    state_root = os.path.join(scratch, "labels")
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)
    prefix = f"ndups_{os.getpid()}"
    seen: set[int] = set()

    def ingest(batch: DataFrame, batch_id: int) -> None:
        batch = checkpoint(batch)  # feeds pairs + segment + singles
        # one shingle+md5 scan per micro-batch, shared by the within-batch
        # pairs, every per-segment screen AND the segment publish (batch k
        # used to re-shingle k+2 times) — the r9-opt shared-``hashed``
        # contract; every consumer materializes eagerly inside the block,
        # so releasing the pin on exit is safe
        with pinned(D._hashed_shingles(batch)) as hb:
            within = D.minhash_lsh_pairs(
                batch, jaccard_threshold=0.5, hashed=hb
            ).select("id_a", "id_b")
            if batch_id == 0:
                labels = D.connected_components(
                    batch.select("doc_id"), within, id_col="doc_id"
                )
            else:
                cross = None
                for i in range(batch_id):
                    c = D.minhash_lsh_join_reference(
                        batch, f"{prefix}_seg{i}", jaccard_threshold=0.5,
                        new_hashed=hb,
                    ).select(
                        F.col("new_id").alias("id_a"),
                        F.col("ref_id").alias("id_b"),
                    )
                    cross = c if cross is None else cross.unionByName(c)
                prev = spark.read.parquet(
                    os.path.join(state_root, f"v{batch_id - 1}")
                )
                inc = D.connected_components_incremental(
                    prev, cross.unionByName(within)
                )
                singles = (
                    batch.select("doc_id")
                    .join(
                        inc.select(F.col("node").alias("doc_id")),
                        "doc_id",
                        "left_anti",
                    )
                    .select(
                        F.col("doc_id").alias("node"),
                        F.col("doc_id").alias("cluster_id"),
                    )
                )
                labels = inc.unionByName(singles)
            labels.write.mode("overwrite").parquet(
                os.path.join(state_root, f"v{batch_id}")
            )
            # publish this batch as a segment AFTER its labels commit — a
            # replay overwrites both (write_lsh_reference is overwrite-always)
            D.write_lsh_reference(
                batch, f"{prefix}_seg{batch_id}", buckets=8,
                path=os.path.join(scratch, f"seg{batch_id}"), hashed=hb,
            )
        seen.add(batch_id)

    schema = spark.read.parquet(os.path.join(d, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination()
    assert seen == {0, 1, 2}, f"expected 3 ingest rounds, got {seen}"
    return spark.read.parquet(os.path.join(state_root, "v2")).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


# --- streaming twin of the incremental SCD2 fold ----------------------------------


# Shared VERBATIM with scd2_user_intervals / scd2_incremental_equiv: the full-
# history recompute is the spec any ingest order must match.
@query(
    "streaming_scd2_ingest_equiv",
    oracle=_SCD2_INTERVALS_SQL,
    survey_ref="§2.9 + §2.5 composed: the SCD2 incremental fold iterated "
    "per micro-batch in a foreachBatch sink — a TIME-sliced 3-file fixture "
    "(order-sensitive stateful kernels need time cuts, not id cuts) feeds "
    "scd2_fold against batch-id-versioned interval state; the final state "
    "must hash-match the full-history recompute (oracle shared verbatim "
    "with scd2_user_intervals) — the streaming story for the SCD2 member "
    "of the incremental-fold family",
    tags=("streaming",),
)
def streaming_scd2_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-history maintenance as a stream: state v{id} is the
    interval table computed from v{id-1} and OVERWRITTEN (replay-idempotent
    per the r5 foreachBatch discipline). The fixture's slices are cut by
    EVENT TIME (mid-span calendar cuts), which is what licenses the fold's
    strictly-later precondition per key across every batch boundary —
    FileStreamSource delivers the staged files in mtime order, so batch k
    is wholly later than batch k−1. Iterating the fold is exact because
    each fold's output is itself a valid interval table whose open runs
    carry their true valid_from (scd2_fold docstring). Per-batch cost:
    O(open runs + batch) — closed history is never re-read."""

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    d = _staged_stream_dir(
        f"scd2t3_{tag}",
        {
            "b0": ev.filter(F.col("ts") < F.lit("2024-01-12")),
            "b1": ev.filter(
                (F.col("ts") >= F.lit("2024-01-12"))
                & (F.col("ts") < F.lit("2024-01-22"))
            ),
            "b2": ev.filter(F.col("ts") >= F.lit("2024-01-22")),
        },
    )
    scratch = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_scd2_stream"), "st_"
    )
    state_root = os.path.join(scratch, "iv")
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)
    seen: set[int] = set()

    def ingest(batch: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            iv = scd2_intervals(
                batch, key="user_id", ts="ts", attr="event_type",
                tiebreak=["event_id"],
            )
        else:
            prev = spark.read.parquet(
                os.path.join(state_root, f"v{batch_id - 1}")
            )
            iv = scd2_fold(
                prev, batch, key="user_id", ts="ts", attr="event_type",
                tiebreak="event_id",
            )
        iv.write.mode("overwrite").parquet(
            os.path.join(state_root, f"v{batch_id}")
        )
        seen.add(batch_id)

    schema = spark.read.parquet(os.path.join(d, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination()
    assert seen == {0, 1, 2}, f"expected 3 fold rounds, got {seen}"
    iv = spark.read.parquet(os.path.join(state_root, "v2"))
    return iv.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
    )


# --- SCD2 late arrivals: recompute AFFECTED KEYS ONLY ------------------------------


@query(
    "scd2_late_arrivals_equiv",
    oracle=_SCD2_INTERVALS_SQL,
    survey_ref="§2.5 SCD2 extension: LATE-arriving changelog rows — the "
    "case the incremental fold's strictly-later precondition excludes — "
    "handled by recomputing ONLY the affected keys from their raw history "
    "(unaffected keys' intervals pass through untouched); gated "
    "hash-identical to the full recompute (oracle shared verbatim with "
    "scd2_user_intervals). Together with scd2_incremental_equiv this "
    "covers both maintenance regimes: in-order folds cost O(open runs + "
    "batch), out-of-order fixes cost O(affected keys' history + batch)",
)
def scd2_late_arrivals_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A late row can SPLIT a previously collapsed run (…A→late B mid-run
    →A…), and the interval table alone cannot reconstruct the second A
    boundary — the within-run rows were collapsed away. So the correct
    (and industry-standard) repair keeps the raw changelog and recomputes
    per KEY: affected = keys present in the late batch (a semi-join);
    their raw rows ∪ late rows re-collapse; everyone else's intervals are
    reused as-is. The ~6% late slice (event_id % 16 == 0, interleaved in
    TIME — deliberately not a time cut) leaves ~15% of users untouched at
    gate scale, so both paths are exercised non-vacuously."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "event_id"
    )
    main = ev.filter(F.col("event_id") % 16 != 0)
    late = ev.filter(F.col("event_id") % 16 == 0)
    main = checkpoint(main)  # feeds iv1 + the affected re-collapse
    iv1 = scd2_intervals(
        main, key="user_id", ts="ts", attr="event_type", tiebreak=["event_id"]
    )
    affected = late.select("user_id").distinct()
    untouched = iv1.join(affected, "user_id", "left_anti")
    redo = scd2_intervals(
        main.join(affected, "user_id", "left_semi").unionByName(late),
        key="user_id", ts="ts", attr="event_type", tiebreak=["event_id"],
    )
    iv = untouched.unionByName(redo)
    return iv.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("valid_from")).alias("valid_from_us"),
        F.unix_micros(F.col("valid_to")).alias("valid_to_us"),
    )


# --- incremental Holt fold (resumable forecasting state) ------------------------

_HOLT_CUTS = ("1994-01-01", "1996-01-01")  # 3 time slices


@query(
    "holt_incremental_equiv",
    oracle=_holt_oracle_sql(),
    survey_ref="§2 time-series extension: INCREMENTAL Holt fold — the "
    "(l, b, sae, n) state resumes across time-sliced batches and lands "
    "bit-identical to the one-shot recurrence (oracle shared verbatim "
    "with holt_forecast_exact); the checkpointed-forecasting-state member "
    "of the incremental-fold family (SCD2/CC/interval-union/Gram)",
)
def holt_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of the forecaster: each ingest batch folds only
    ITS days, seeded with the persisted (l, b, sae, n) state — closed
    history is never re-read (cost O(batch days), the SCD2-fold
    discipline). Exactness is by construction — the recurrence is a left
    fold and fold(s1 ++ s2) = fold(fold(s1), s2) — but the gate proves
    the IMPLEMENTATION: three date-sliced folds with injected initial
    state (_holt_fold_expr(init)) must land bit-identical to the one-shot
    fold, across the slice boundaries where (l, b) carry live trend.
    Slices partition the calendar (date ranges), so each day lands in
    exactly one batch; a LATE day would violate the fold's in-order
    precondition — the recovery is the SCD2-late-arrivals pattern
    (re-fold from the last state before the late day), documented here,
    not gated."""
    orders = load_table(spark, sf_dir, "orders")
    lo = [None, *_HOLT_CUTS]
    hi = [*_HOLT_CUTS, None]
    st = None
    for lo_d, hi_d in zip(lo, hi):
        sl = orders
        if lo_d is not None:
            sl = sl.filter(F.col("o_orderdate") >= F.lit(lo_d))
        if hi_d is not None:
            sl = sl.filter(F.col("o_orderdate") < F.lit(hi_d))
        daily = sl.groupBy("o_orderdate").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y")
        )
        arr = daily.agg(
            F.array_sort(F.collect_list(F.struct("o_orderdate", "y"))).alias("s")
        )
        if st is None:
            folded = arr.select(F.expr(_holt_fold_expr()).alias("r"))
        else:
            init = "named_struct('l', pl, 'b', pb, 'sae', psae, 'n', pn)"
            folded = arr.crossJoin(F.broadcast(st)).select(
                F.expr(_holt_fold_expr(init)).alias("r")
            )
        st = folded.select(
            F.col("r.l").alias("pl"),
            F.col("r.b").alias("pb"),
            F.col("r.sae").alias("psae"),
            F.col("r.n").alias("pn"),
        ).transform(checkpoint)
    return st.select(
        F.col("pn").cast("long").alias("n_days"),
        F.col("pl").alias("l_final"),
        F.col("pb").alias("b_final"),
        F.col("psae").alias("sae"),
        (F.col("pl") + F.col("pb")).alias("fc_1"),
        (F.col("pl") + 7 * F.col("pb")).alias("fc_7"),
    )


# --- streaming Holt ingest (foreachBatch twin of the incremental fold) ----------


@query(
    "streaming_holt_ingest_equiv",
    oracle=_holt_oracle_sql(),
    survey_ref="§2.9 + time-series: the Holt fold as a STREAM — "
    "foreachBatch over event-time-sliced micro-batches, (l, b, sae, n) "
    "state versioned by batch id (read v{id-1}, overwrite v{id} — "
    "replay-idempotent); final state == the one-shot recurrence (oracle "
    "shared verbatim with holt_forecast_exact); completes the streaming "
    "story for the forecasting fold like the SCD2/near-dup twins",
)
def streaming_holt_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-state maintenance as a stream: each micro-batch reduces to
    ITS daily sums and folds them onto the persisted (l, b, sae, n) state.
    Event-time slicing (calendar cuts) + FileStreamSource's mtime
    delivery order license the fold's strictly-later precondition across
    batch boundaries — the same argument streaming_scd2_ingest_equiv
    makes; state is a 1-ROW parquet (the smallest state table in the
    repo), versioned per batch id so replays overwrite instead of
    double-counting. Per-batch cost O(batch days); the gate lands
    bit-identical to the one-shot recurrence across both boundaries
    where live trend carries."""

    _ensure_session_confs(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    lo = [None, *_HOLT_CUTS]
    hi = [*_HOLT_CUTS, None]
    slices = {}
    for i, (lo_d, hi_d) in enumerate(zip(lo, hi)):
        sl = orders
        if lo_d is not None:
            sl = sl.filter(F.col("o_orderdate") >= F.lit(lo_d))
        if hi_d is not None:
            sl = sl.filter(F.col("o_orderdate") < F.lit(hi_d))
        slices[f"b{i}"] = sl
    d = _staged_stream_dir(f"holt3_{tag}", slices)
    scratch = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_holt_stream"), "st_"
    )
    state_root = os.path.join(scratch, "hs")
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)
    seen: set[int] = set()

    def ingest(batch: DataFrame, batch_id: int) -> None:
        daily = batch.groupBy("o_orderdate").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y")
        )
        arr = daily.agg(
            F.array_sort(F.collect_list(F.struct("o_orderdate", "y"))).alias("s")
        )
        if batch_id == 0:
            folded = arr.select(F.expr(_holt_fold_expr()).alias("r"))
        else:
            prev = spark.read.parquet(
                os.path.join(state_root, f"v{batch_id - 1}")
            )
            init = "named_struct('l', pl, 'b', pb, 'sae', psae, 'n', pn)"
            folded = arr.crossJoin(F.broadcast(prev)).select(
                F.expr(_holt_fold_expr(init)).alias("r")
            )
        folded.select(
            F.col("r.l").alias("pl"),
            F.col("r.b").alias("pb"),
            F.col("r.sae").alias("psae"),
            F.col("r.n").alias("pn"),
        ).write.mode("overwrite").parquet(os.path.join(state_root, f"v{batch_id}"))
        seen.add(batch_id)

    schema = spark.read.parquet(os.path.join(d, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination()
    assert seen == {0, 1, 2}, f"expected 3 fold rounds, got {seen}"
    st = spark.read.parquet(os.path.join(state_root, "v2"))
    return st.select(
        F.col("pn").cast("long").alias("n_days"),
        F.col("pl").alias("l_final"),
        F.col("pb").alias("b_final"),
        F.col("psae").alias("sae"),
        (F.col("pl") + F.col("pb")).alias("fc_1"),
        (F.col("pl") + 7 * F.col("pb")).alias("fc_7"),
    )
