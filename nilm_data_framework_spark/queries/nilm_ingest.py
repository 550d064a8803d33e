"""Ingest-parity queries (SURVEY.md §2.1 sources / §2.3 joins / §2.7 scalar
functions): metadata enrichment, taxonomy label mapping, JSON extraction,
keep-first dedup, pivot, as-of alignment (backward, nearest and forward).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import aggregates as agg
from nilm_data_framework_spark.operators import joins as J
from nilm_data_framework_spark.operators import selectors as sel
from nilm_data_framework_spark.operators.exact_math import u6_mean_e4, u6_mean_e4_sql
from nilm_data_framework_spark.operators.joins import asof_join_nearest
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import EVENT_TYPES
from nilm_data_framework_spark.sources.testdata import load_table
from nilm_data_framework_spark.taxonomy import (
    UNIVERSAL_LABELS,
    keywords_df,
    map_universal_label,
)


# --- J1 metadata enrichment (broadcast left outer + defaulting) -----------------

@query(
    "metadata_enrichment",
    oracle="""
    SELECT coalesce(c.c_mktsegment, 'unknown') AS mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY ALL
    """,
    survey_ref="§2.3 J1 (REFITLoader.py:60-80 dict-get-with-default)",
)
def metadata_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = J.enrich(ev, cust, on=["user_id"], defaults={"c_mktsegment": "unknown"})
    return enriched.groupBy(F.col("c_mktsegment").alias("mktsegment")).agg(
        F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value")
    )


# --- J2 tiny-dim lookup with unknown default ------------------------------------

_DEVICE_DIM = [("click", "interaction"), ("view", "interaction"), ("purchase", "commerce")]

@query(
    "device_type_lookup",
    oracle="""
    WITH dim(event_type, category) AS (
      VALUES ('click', 'interaction'), ('view', 'interaction'), ('purchase', 'commerce')
    )
    SELECT coalesce(d.category, 'unknown') AS category, count(*) AS n
    FROM events e LEFT JOIN dim d ON e.event_type = d.event_type
    GROUP BY ALL
    """,
    survey_ref="§2.3 J2 (UKDALELoader.py:9-14,91-94)",
)
def device_type_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    dim = spark.createDataFrame(_DEVICE_DIM, "event_type string, category string")
    out = J.enrich(
        ev, dim, on=["event_type"], defaults={"category": "unknown"}, broadcast_hint=True
    )
    return out.groupBy("category").agg(F.count(F.lit(1)).alias("n"))


# --- J3 keyword→universal-label mapping (3-tier precedence) ----------------------

_RAW_LABELS = [
    "Fridge-Freezer",
    "washer dryer",
    "LED_lamp",
    "Television",
    "unknown gadget",
    "kettle",
    "Electric Oven",
    "pv inverter",
    "EV Charger",
    "desk pc",
    "boiler pump",
    "mains",
    "chest freezer",
    "my dishwasher unit",
    "microwave,oven",
    "site meter",
]


def _keywords_values_sql() -> str:
    rows = []
    for li, (label, kws) in enumerate(UNIVERSAL_LABELS):
        for ki, kw in enumerate(kws):
            rows.append(f"('{label}', '{kw}', 1, {li * 1000 + ki})")
            rows.append(f"('{label}', '{kw}', 2, {li * 1000 + ki})")
        if label != "other":
            rows.append(f"('{label}', '{label}', 3, {li * 1000 + 999})")
    return ",\n      ".join(rows)


def _raw_labels_values_sql() -> str:
    return ", ".join(f"({i}, '{s}')" for i, s in enumerate(_RAW_LABELS))


@query(
    "keyword_label_map",
    oracle=f"""
    WITH raw(label_id, raw_label) AS (
      VALUES {_raw_labels_values_sql()}
    ),
    kw(universal_label, keyword, tier, priority) AS (
      VALUES {_keywords_values_sql()}
    ),
    cleaned AS (
      SELECT label_id, raw_label,
             trim(regexp_replace(regexp_replace(lower(raw_label), '[_\\-,]', ' ', 'g'),
                                 '\\s+', ' ', 'g')) AS c
      FROM raw
    ),
    matched AS (
      SELECT c.label_id, c.raw_label, k.universal_label, k.tier, k.priority,
             row_number() OVER (PARTITION BY c.label_id ORDER BY k.tier, k.priority) AS rk
      FROM cleaned c JOIN kw k
        ON (k.tier = 1 AND c.c = k.keyword)
        OR (k.tier IN (2, 3) AND strpos(c.c, k.keyword) > 0)
    )
    SELECT r.label_id, r.raw_label,
           coalesce(m.universal_label, 'other') AS universal_label
    FROM raw r LEFT JOIN matched m ON r.label_id = m.label_id AND m.rk = 1
    """,
    survey_ref="§2.3 J3 (UnifiedNILM.py:40-64 + UniversalLabels.py:15-78)",
)
def keyword_label_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = spark.createDataFrame(
        list(enumerate(_RAW_LABELS)), "label_id int, raw_label string"
    )
    return map_universal_label(labels, keywords_df(spark), raw_col="raw_label")


# --- F10 JSON extraction ----------------------------------------------------------

@query(
    "json_extract_props",
    oracle="""
    SELECT TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) % 10 AS k_bucket,
           count(*) AS n,
           round(avg(value), 4) AS avg_value
    FROM events GROUP BY ALL
    """,
    survey_ref="§2.7 F10 (preprocess_shelly.py:25-41, UnifiedNILM.py:241-243)",
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("value"), 4).alias("avg_value")
    )


# --- P10/W2 keep-first dedup -------------------------------------------------------

@query(
    "dedup_keep_first",
    oracle="""
    SELECT user_id, event_type, event_id, value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    survey_ref="§2.2 P10 / §2.5 W2 (OlaLoader.py:115-118)",
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = sel.dedup_keep_first(ev, keys=["user_id", "event_type"], order=["ts", "event_id"])
    return out.select("user_id", "event_type", "event_id", "value")


# --- A4/J4 pivot wide (time-axis alignment) -------------------------------------------


def _pivot_cell_sql(t: str) -> str:
    """One pivot cell: exact e4 mean of the type's 1e-6-truncated values
    (operators/exact_math.py::u6_mean_e4_sql), 0-filled when absent."""
    n = f"count(CASE WHEN event_type = '{t}' THEN 1 END)"
    s = f"sum(CASE WHEN event_type = '{t}' THEN CAST(floor(value * 1000000) AS BIGINT) END)"
    return f'coalesce(CASE WHEN {n} > 0 THEN {u6_mean_e4_sql(s, n)} END, 0) AS "{t}"'


@query(
    "pivot_wide",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_ts,
           {_pivot_cell_sql('click')},
           {_pivot_cell_sql('error')},
           {_pivot_cell_sql('purchase')},
           {_pivot_cell_sql('signup')},
           {_pivot_cell_sql('view')}
    FROM events GROUP BY hour_ts
    """,
    survey_ref="§2.4 A4 / §2.3 J4 (preprocess_shelly.py:64, UnifiedNILM.py:481-488)",
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").withColumn(
        "hour_ts", F.date_trunc("hour", "ts")
    ).withColumn("v_u6", F.floor(F.col("value") * 1000000).cast("long"))
    # A3 dedup-mean first (in exact integer micro-units: the float mean's
    # accumulation order diverged across engines at a 4dp boundary at
    # sf0.1, r5), then A4 pivot. Cell = round-half-up e4 of the mean of
    # 1e-6-truncated values — pure integer arithmetic end to end, so the
    # pivot's first() sees one deterministic BIGINT per (hour, type).
    meaned = ev.groupBy("hour_ts", "event_type").agg(
        F.sum("v_u6").alias("_s"), F.count("v_u6").alias("_n")
    ).select(
        "hour_ts", "event_type",
        u6_mean_e4("_s", "_n").alias("v"),
    )
    return agg.pivot_wide(meaned, index="hour_ts", column="event_type", value="v",
                          column_values=EVENT_TYPES, fill=0)


# --- as-of join (engine extension generalizing J4) --------------------------------------

@query(
    "asof_join_last_purchase",
    oracle="""
    SELECT c.event_id, c.user_id, c.ts, p.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
    survey_ref="§2.3 extension: as-of join (nearest-previous generalization of J4)",
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    return J.asof_join(clicks, purchases, keys=["user_id"], right_value="value")


# --- F10 scale path: VARIANT semi-structured extraction ----------------------------


@query(
    "variant_extract_props",
    oracle="""
    WITH k AS (
      SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
             user_id
      FROM events
    )
    SELECT k % 7 AS k_mod, count(*) AS n,
           CAST(sum(k) AS BIGINT) AS sum_k,
           count(DISTINCT user_id) AS n_users
    FROM k GROUP BY 1
    """,
    survey_ref="§2.7 F10 scale path: Spark 4 VARIANT type — parse_json once, "
    "typed variant_get extraction (reference analog preprocess_shelly.py:25-41)",
)
def variant_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction via Spark 4's VARIANT type: ``props`` is
    parsed ONCE into a binary variant and fields are pulled with typed
    `variant_get` — the scale path for repeated multi-field access where
    per-expression `get_json_object` re-parses the JSON string each time
    (json_extract_props keeps the classic form; this is its parse-once
    twin). All aggregates are exact integers."""
    ev = load_table(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return ev.groupBy((k % 7).alias("k_mod")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.countDistinct("user_id").alias("n_users"),
    )


# --- nearest-direction as-of join (completes the as-of family) -----------------

_NEAREST_TOL_US = 3_600_000_000  # 1 hour


@query(
    "asof_nearest_purchase",
    oracle=f"""
    WITH l AS (
      SELECT user_id, event_id, epoch_us(ts) AS lus
      FROM events WHERE event_type = 'click'
    ),
    r0 AS (
      SELECT user_id, epoch_us(ts) AS rus,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (SELECT user_id, rus, max(v6) AS v6 FROM r0 GROUP BY 1, 2),
    cand AS (
      SELECT l.user_id, l.event_id,
             abs(l.lus - r.rus) AS adiff,
             CASE WHEN r.rus <= l.lus THEN 0 ELSE 1 END AS fwd,
             r.v6
      FROM l JOIN r ON l.user_id = r.user_id
      WHERE abs(l.lus - r.rus) <= {_NEAREST_TOL_US}
    ),
    pick AS (
      SELECT user_id, event_id, v6, adiff FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_id
                                     ORDER BY adiff, fwd) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT l.user_id, l.event_id,
           p.v6 AS nearest_v6,
           p.adiff AS nearest_diff_us
    FROM l LEFT JOIN pick p
      ON l.user_id = p.user_id AND l.event_id = p.event_id
    """,
    survey_ref="§2.5 J-ext as-of family: NEAREST-direction as-of join "
    "(pd.merge_asof direction='nearest' semantics with the family's "
    "max-value tie collapse and a backward-on-equidistant rule) — one "
    "shuffle, both directions from one sorted union, never a range "
    "cross-product; the oracle replays the pick as a total-order "
    "row_number over in-tolerance candidates",
)
def asof_nearest_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the NEAREST purchase value of the same user
    within ±1 h — either side of the click (the both-sided alignment
    backward as-of cannot express; operators/joins.py::asof_join_nearest).
    All arithmetic rides exact integers: microsecond epochs and
    e6-floored values pass through the kernel's double payload losslessly
    (≪ 2^53), and the returned diff is re-derived as an exact BIGINT.
    Ties: duplicate (user, ts) purchases collapse to max-v6; equidistant
    pairs resolve backward — both replayed by the oracle's
    (adiff, fwd) total order."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    left = base.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "us"
    )
    right = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "us", "v6"
    )
    out = asof_join_nearest(
        left,
        right,
        keys=["user_id"],
        left_ts="us",
        right_ts="us",
        right_value="v6",
        out="_nv",
        out_ts="_nts",
        tolerance=_NEAREST_TOL_US,
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("_nv").cast("long").alias("nearest_v6"),
        F.abs(F.col("us") - F.col("_nts")).cast("long").alias("nearest_diff_us"),
    )


@query(
    "asof_forward_next_purchase",
    oracle=f"""
    WITH l AS (
      SELECT user_id, event_id, epoch_us(ts) AS lus
      FROM events WHERE event_type = 'click'
    ),
    r0 AS (
      SELECT user_id, epoch_us(ts) AS rus,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events WHERE event_type = 'purchase'
    ),
    r AS (SELECT user_id, rus, max(v6) AS v6 FROM r0 GROUP BY 1, 2),
    cand AS (
      SELECT l.user_id, l.event_id, r.rus - l.lus AS wait_us, r.v6
      FROM l JOIN r ON l.user_id = r.user_id
      WHERE r.rus >= l.lus AND r.rus - l.lus <= {_NEAREST_TOL_US}
    ),
    pick AS (
      SELECT user_id, event_id, v6, wait_us FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id, event_id
                                     ORDER BY wait_us) AS rn
        FROM cand
      ) WHERE rn = 1
    )
    SELECT l.user_id, l.event_id,
           p.v6 AS next_v6,
           p.wait_us AS wait_us
    FROM l LEFT JOIN pick p
      ON l.user_id = p.user_id AND l.event_id = p.event_id
    """,
    survey_ref="§2.5 J-ext as-of family: FORWARD as-of (>= semantics, "
    "pd.merge_asof direction='forward') — time-to-next-event lookup via "
    "the same single-sort kernel (exact-ts match = the backward carry at "
    "diff 0, no third window); wait_us exact BIGINT",
)
def asof_forward_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every click, the NEXT purchase value of the same user within
    +1 h and the exact wait in microseconds — the time-to-convert lookup
    (operators/joins.py::asof_join_nearest, direction='forward').
    Collapsed duplicate purchase timestamps make the pick total: wait_us
    is unique per candidate, so the oracle's single-column ORDER BY
    replays it."""
    ev = load_table(spark, sf_dir, "events", parallelize=True)
    base = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    left = base.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "us"
    )
    right = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "us", "v6"
    )
    out = asof_join_nearest(
        left,
        right,
        keys=["user_id"],
        left_ts="us",
        right_ts="us",
        right_value="v6",
        out="_nv",
        out_ts="_nts",
        tolerance=_NEAREST_TOL_US,
        direction="forward",
    )
    return out.select(
        "user_id",
        "event_id",
        F.col("_nv").cast("long").alias("next_v6"),
        (F.col("_nts") - F.col("us")).cast("long").alias("wait_us"),
    )
