"""Analytics extensions: multi-touch attribution, outer-join count
distributions (TPC-H Q13 shape), exact-moment OLS trend screening, one
label-propagation step, and tokenizer fertility.

Every ratio reported here is either an exact integer or an exact scaled
integer via operators/exact_math.py (the typed-hash discipline). All
window families ride a single entity-key exchange; all joins are equi-joins
with AQE-decided sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _docs, _events
from nilm_data_framework_spark.queries.nilm_windows import SESSION_IDS_CTES, session_ids
from nilm_data_framework_spark.sources.testdata import load_table


# --- multi-touch attribution --------------------------------------------------

_ATTR_WINDOW_US = 7 * 86400 * 1_000_000  # 7-day lookback


@query(
    "multi_touch_attribution",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, event_type, epoch_us(ts) AS tus, event_id,
             min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY tus, event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS next_purchase
      FROM events
    ),
    touches AS (
      SELECT user_id, event_type, tus, event_id, next_purchase
      FROM tagged
      WHERE event_type IN ('view', 'click')
        AND next_purchase IS NOT NULL
        AND next_purchase - tus <= {_ATTR_WINDOW_US}
        AND next_purchase > tus
    ),
    ranked AS (
      SELECT event_type, user_id, next_purchase,
             row_number() OVER (PARTITION BY user_id, next_purchase
                                ORDER BY tus, event_id) AS rk,
             count(*) OVER (PARTITION BY user_id, next_purchase) AS n_touch
      FROM touches
    ),
    credited AS (
      SELECT event_type,
             CAST(10000 // n_touch
                  + CASE WHEN rk = 1 THEN 10000 % n_touch ELSE 0 END
                  AS BIGINT) AS credit_e4
      FROM ranked
    )
    SELECT event_type,
           count(*) AS n_touches,
           CAST(sum(credit_e4) AS BIGINT) AS total_credit_e4
    FROM credited GROUP BY 1
    """,
    survey_ref="§2.5 extension: multi-touch (linear) attribution — each "
    "touch credited to its next purchase within 7 days; exact integer "
    "basis-point credits summing to 10000 per conversion",
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every view/click is credited to the
    user's NEXT purchase at most 7 days later; a conversion's 10000 basis
    points are split floor(10000/n) per touch with the integer remainder
    assigned to the FIRST touch, so credits are exact integers and sum to
    exactly 10000 per conversion (auditable — no float leakage). Shape:
    the touch→conversion assignment is one conditional window minimum over
    the user-key ordering (the funnel/sessionize exchange, NO touch×
    purchase range join), then a (user, conversion) window for rank/size,
    then one global agg. Everything after the reduction is O(touches).
    At 100 TB this is sessionization's marginal cost — the same single
    entity-key shuffle."""
    ev = _events(spark, sf_dir)
    tus = F.unix_micros("ts")
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    tagged = ev.select(
        "user_id", "event_type", "event_id", tus.alias("tus")
    ).withColumn(
        "next_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("tus"))
        ).over(w_next),
    )
    touches = tagged.filter(
        F.col("event_type").isin("view", "click")
        & F.col("next_purchase").isNotNull()
        & (F.col("next_purchase") - F.col("tus") <= _ATTR_WINDOW_US)
        & (F.col("next_purchase") > F.col("tus"))
    )
    w_conv = Window.partitionBy("user_id", "next_purchase")
    ranked = touches.select(
        "event_type",
        F.row_number()
        .over(w_conv.orderBy("tus", "event_id"))
        .alias("rk"),
        F.count(F.lit(1)).over(w_conv).alias("n_touch"),
    )
    credited = ranked.select(
        "event_type",
        (
            F.expr("10000 div n_touch")
            + F.when(F.col("rk") == 1, F.expr("10000 % n_touch")).otherwise(0)
        ).cast("long").alias("credit_e4"),
    )
    return credited.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_e4").alias("total_credit_e4"),
    )


# --- TPC-H Q13 shape: customer order-count distribution -----------------------


@query(
    "custdist_orders",
    oracle="""
    WITH per_cust AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust GROUP BY c_count
    """,
    survey_ref="§2.3/§2.4 composition: TPC-H Q13 shape — outer-join count "
    "distribution (customers with zero orders kept by the LEFT join)",
)
def custdist_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of orders-per-customer INCLUDING zero-order customers —
    the double-aggregation-over-outer-join shape (TPC-H Q13) that inner
    joins silently get wrong. count(o_orderkey) (not count(*)) makes the
    no-match rows count 0. Two hash aggs; the join shuffles on the customer
    key; the second agg's frame is O(distinct counts) — tiny. All exact
    integers."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- exact-moment OLS trend per series ----------------------------------------


@query(
    "ols_trend_daily",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             epoch_us(ts) // 86400000000 AS x,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           count(*) AS n_days,
           CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
             AS slope_num,
           CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
             AS slope_den
    FROM daily GROUP BY 1
    """,
    survey_ref="§2.4 extension: per-series OLS trend screen via exact "
    "integer moments (slope = num/den as an exact rational — no float "
    "regression, no rounding)",
)
def ols_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares trend of each event type's daily integer-cents total,
    reported as the EXACT rational slope_num/slope_den (n·Σxy − Σx·Σy over
    n·Σx² − (Σx)²) — the fleet-wide 'is this series drifting' screen run
    before fitting real models (same role as seasonal_naive_error). Both
    moments are 64-bit-exact: x is a day index, y integer cents. Two
    map-side-combined aggs (daily reduction, then per-key moments); the
    moment frame is O(keys × days). Sign-safe by construction — no integer
    division is performed, so the Spark-div-truncates vs DuckDB-floors
    negative-operand divergence cannot arise."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("x"),
    ).agg(F.sum(F.floor(F.col("value") * 100).cast("long")).alias("y"))
    n = F.count(F.lit(1))
    return daily.groupBy("event_type").agg(
        n.alias("n_days"),
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")).alias(
            "slope_num"
        ),
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")).alias(
            "slope_den"
        ),
    )


# --- one label-propagation step -----------------------------------------------


@query(
    "label_propagation_step",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_suppkey * 2 AS src, l_partkey * 2 + 1 AS dst
      FROM lineitem
    ),
    sym AS (
      SELECT src AS v, dst AS nb FROM e
      UNION ALL
      SELECT dst AS v, src AS nb FROM e
    ),
    votes AS (SELECT v, nb AS lbl, count(*) AS c FROM sym GROUP BY 1, 2),
    ranked AS (
      SELECT v, lbl,
             row_number() OVER (PARTITION BY v ORDER BY c DESC, lbl ASC) AS rk
      FROM votes
    ),
    new_lbl AS (SELECT v, lbl AS new_label FROM ranked WHERE rk = 1)
    SELECT CAST(count(*) AS BIGINT) AS n_vertices,
           CAST(sum(CASE WHEN new_label < v THEN 1 ELSE 0 END) AS BIGINT)
             AS n_decreased,
           CAST(count(DISTINCT new_label) AS BIGINT) AS n_labels
    FROM new_lbl
    """,
    survey_ref="§2 graph extension: one synchronous label-propagation step "
    "(majority neighbor label, deterministic (count DESC, label ASC) "
    "tiebreak) over the supplier→part graph",
)
def label_propagation_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous LPA step from the identity labeling (label = vertex
    id): every vertex adopts its most frequent neighbor label with the
    deterministic (count DESC, label ASC) tiebreak — the community-
    detection sibling of pagerank_step/connected_components. Start labels
    equal vertex ids, so a neighbor's label IS its id and the step needs no
    label join: one symmetric edge union, one (v, label) count agg, one
    rank-1 window per vertex, then an O(1)-row summary. Iterating = feeding
    new_label back through the same plan with checkpoint per round
    (the connected_components discipline). All shuffles are on vertex
    ids — AQE-skew-splittable; the vote frame is O(edges)."""
    li = load_table(spark, sf_dir, "lineitem")
    e = li.select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    ).distinct()
    sym = e.select(F.col("src").alias("v"), F.col("dst").alias("nb")).unionAll(
        e.select(F.col("dst").alias("v"), F.col("src").alias("nb"))
    )
    votes = sym.groupBy("v", F.col("nb").alias("lbl")).agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("v").orderBy(F.col("c").desc(), F.col("lbl").asc())
    new_lbl = (
        votes.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("v", F.col("lbl").alias("new_label"))
    )
    return new_lbl.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.sum(
            F.when(F.col("new_label") < F.col("v"), 1).otherwise(0)
        ).alias("n_decreased"),
        F.countDistinct("new_label").alias("n_labels"),
    )


# --- tokenizer fertility per language -----------------------------------------


@query(
    "tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '')) AS n_words,
             len(regexp_extract_all(lower(text),
                                    '([a-z]+|[0-9]|[^a-z0-9\\s]+)', 1))
               AS n_pieces
      FROM documents
    ),
    agg AS (
      SELECT lang, count(*) AS n_docs,
             CAST(sum(n_words) AS BIGINT) AS total_words,
             CAST(sum(n_pieces) AS BIGINT) AS total_pieces
      FROM t GROUP BY 1
    )
    SELECT lang, n_docs, total_words, total_pieces,
           {ratio_e4_sql('total_pieces', 'total_words')} AS fertility_e4
    FROM agg
    """,
    survey_ref="§2.10 tokenizer prep: fertility (BPE-ish pieces per "
    "whitespace word) per language — the vocab-allocation signal a "
    "multilingual tokenizer build reads first",
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish pieces per whitespace
    word (operators/text.py::bpe_ish_token_count over tokens) — languages
    with fertility ≫ 1 are under-served by the vocab and get more merges
    in a multilingual tokenizer build (the XLM-R/NLLB allocation signal).
    One narrow projection + one agg, map-side combined; the ratio is an
    exact e4 integer. Linear at any corpus size."""
    d = _docs(spark, sf_dir)
    per_doc = d.select(
        "lang",
        T.token_count(F.col("text")).alias("n_words"),
        T.bpe_ish_token_count(F.col("text")).alias("n_pieces"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("total_words"),
        F.sum("n_pieces").alias("total_pieces"),
    )
    return agg.select(
        "lang", "n_docs", "total_words", "total_pieces",
        ratio_e4("total_pieces", "total_words").alias("fertility_e4"),
    )


# --- debounce (burst collapse) ------------------------------------------------

_DEBOUNCE_GAP_US = 60 * 1_000_000  # 60 s

# Shared DuckDB CTE pair (seq + bursts) tagging every event with its
# chain-debounce burst id at the canonical 60 s gap. debounce_events AND
# streaming_debounce_equiv both splice THIS string, so the batch and
# streaming gates can never drift apart on the grain whose equivalence the
# streaming query exists to prove.
DEBOUNCE_BURSTS_CTES = f"""
    WITH seq AS (
      SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                                 ORDER BY tus, event_id)
                       >= {_DEBOUNCE_GAP_US}
                    OR lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                               ORDER BY tus, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_burst
      FROM events
    ),
    bursts AS (
      SELECT user_id, event_type, event_id, tus,
             sum(new_burst) OVER (PARTITION BY user_id, event_type
                                  ORDER BY tus, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW) AS burst_id
      FROM seq
    )"""


@query(
    "debounce_events",
    oracle=f"""
    {DEBOUNCE_BURSTS_CTES},
    kept AS (
      SELECT user_id, event_type, burst_id,
             first(event_id ORDER BY tus, event_id) AS first_event_id,
             count(*) AS burst_len
      FROM bursts GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type,
           count(*) AS n_kept,
           CAST(sum(burst_len) AS BIGINT) AS n_raw,
           CAST(max(burst_len) AS BIGINT) AS max_burst,
           CAST(sum(first_event_id) AS BIGINT) AS sum_first_ids
    FROM kept GROUP BY 1, 2
    """,
    survey_ref="§2.5 W5-family extension: debounce / burst collapse (keep "
    "the first event of every <gap burst — the chattering-sensor cleanup "
    "the reference's NILM loaders do per-file, as a gaps-and-islands "
    "window)",
)
def debounce_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce per (user, event type): events closer than 60 s to their
    predecessor belong to the same burst; only the burst's first event
    survives. A chattering power sensor (or double-fired client event)
    collapses to one logical event — the same gaps-and-islands kernel as
    sessionize/run_length_filter, proving the burst grain composes. One
    (user, type)-key exchange shared by the lag and the running sum; the
    burst reduction and the per-key summary ride the same partitioning.
    NOTE burst membership is CHAIN-based (each event within gap of its
    predecessor extends the burst), which plain windows express exactly —
    a naive 'within gap of the first event' debounce would need iteration.
    """
    ev = _events(spark, sf_dir)
    tus = F.unix_micros("ts")
    w = Window.partitionBy("user_id", "event_type").orderBy("tus", "event_id")
    prev = F.lag("tus").over(w)
    seq = ev.select(
        "user_id", "event_type", "event_id", tus.alias("tus")
    ).withColumn(
        "new_burst",
        F.when(
            prev.isNull() | (F.col("tus") - prev >= _DEBOUNCE_GAP_US), 1
        ).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bursts = seq.withColumn("burst_id", F.sum("new_burst").over(run))
    kept = bursts.groupBy("user_id", "event_type", "burst_id").agg(
        # arg-min by (tus, event_id) — the oracle's first(event_id ORDER BY
        # tus, event_id); checksummed into the output (sum_first_ids) so
        # the gate actually verifies the survivor PICKS, not only counts
        F.min_by("event_id", F.struct("tus", "event_id")).alias("first_event_id"),
        F.count(F.lit(1)).alias("burst_len"),
    )
    return kept.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("burst_len").alias("n_raw"),
        F.max("burst_len").alias("max_burst"),
        F.sum("first_event_id").alias("sum_first_ids"),
    )


# --- session bounce rate ------------------------------------------------------


@query(
    "session_bounce_rate",
    oracle=f"""
    {SESSION_IDS_CTES},
    per AS (
      SELECT user_id, session_id, count(*) AS cnt,
             strftime(min(ts), '%Y-%m-%d') AS d
      FROM sess GROUP BY 1, 2
    ),
    agg AS (
      SELECT d, count(*) AS n_sessions,
             CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounced
      FROM per GROUP BY 1
    )
    SELECT d, n_sessions, n_bounced,
           {ratio_e4_sql('n_bounced', 'n_sessions')} AS bounce_rate_e4
    FROM agg
    """,
    survey_ref="§2.5/§2.9 composition: per-day session bounce rate "
    "(single-event sessions / sessions, exact e4 ratio) on the sessionize "
    "grain",
)
def session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce rate per day-of-first-event: sessions (same 30-min-gap grain
    as `sessionize`, tie-broken on event_id) containing exactly one event,
    as an exact e4 share. Proves the session grain composes into product
    metrics without re-deriving state: the same single user-key exchange
    feeds the lag, the running sum, and the per-session reduction; only
    the tiny (day) rollup re-shuffles. Grain definition is SHARED with
    sessionize (queries/nilm_windows.py::session_ids / SESSION_IDS_CTES),
    so this metric can never drift from the sessionizer."""
    ev = _events(spark, sf_dir)
    sess = session_ids(ev)
    per = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("d"),
    )
    agg = per.groupBy("d").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0)).alias("n_bounced"),
    )
    return agg.select(
        "d", "n_sessions", "n_bounced",
        ratio_e4("n_bounced", "n_sessions").alias("bounce_rate_e4"),
    )


# --- salted-join skew path, driver-attested -----------------------------------


@query(
    "salted_join_hot_keys",
    oracle="""
    WITH dim AS (
      SELECT event_type, count(*) AS type_total,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
               AS type_cents
      FROM events GROUP BY 1
    ),
    joined AS (
      SELECT e.user_id, e.event_type, d.type_total, d.type_cents,
             CAST(floor(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN dim d USING (event_type)
    )
    SELECT user_id, count(*) AS n,
           CAST(sum(cents) AS BIGINT) AS user_cents,
           CAST(sum(type_cents) AS BIGINT) AS joined_type_cents
    FROM joined GROUP BY user_id
    """,
    survey_ref="§2.3 skew extension: salted equi-join (operators/skew.py::"
    "salted_join) driver-attested — the salt must be result-invariant "
    "against the plain join the oracle runs",
)
def salted_join_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Zipf-hot-key join through the SALTED path, gate-checked against
    the plain join: events (every row carries one of 5 event types — a
    deliberately hot key) join a per-type dim via
    operators/skew.py::salted_join(n_salts=8), then reduce per user. The
    oracle runs the unsalted join, so the gate proves the salt is
    result-invariant (the property that makes salting safe to deploy when
    one key floods a partition and AQE's skew split isn't enough — e.g. a
    dominant language/source key at 100 TB). The dim side is replicated
    8x (5 keys -> 40 rows) — the documented cost of spreading the hot key
    over 8 partitions."""
    from nilm_data_framework_spark.operators.skew import salted_join

    ev = _events(spark, sf_dir).select(
        "user_id", "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_total"),
        F.sum("cents").alias("type_cents"),
    )
    joined = salted_join(ev, dim, on=["event_type"], n_salts=8)
    return joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("user_cents"),
        F.sum("type_cents").alias("joined_type_cents"),
    )


# --- small-file compaction audit ----------------------------------------------

_COMPACT_R = 10_000  # rows per output file


@query(
    "compaction_audit",
    oracle=f"""
    SELECT CAST(ceil(count(*) / {_COMPACT_R}.0) AS BIGINT) AS n_files,
           count(*) AS n_rows,
           CAST({_COMPACT_R} AS BIGINT) AS max_records_per_file
    FROM events
    """,
    survey_ref="§2.1/lakehouse extension: small-file compaction "
    "(operators/lakehouse.py::compact_small_files — deterministic "
    "row-count binning, audited via the _metadata file column)",
)
def compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end compaction: rewrite the events table as sequential
    parquet files of <= 10k rows, then audit the layout via the
    `_metadata.file_path` column (metadata-only scan). ceil(n/R) output
    files is a CONTRACT of row-count binning, so the oracle computes the
    expected file count arithmetically — the gate proves the writer's
    binning, not just the row count. The production form swaps
    coalesce(1) for repartitionByRange (parallel + re-clustered); see the
    operator docstring."""
    import os
    import tempfile

    from nilm_data_framework_spark.operators.lakehouse import (
        compact_small_files,
        compaction_audit as audit,
    )

    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

    ev = _events(spark, sf_dir)
    # pid-keyed + dead-owner reaping (same leak class as the LSH reference
    # layout — without the reap every process leaves an events-sized copy)
    out = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_compact"), "ev_"
    )
    compact_small_files(ev, out, _COMPACT_R)
    return audit(spark, out).select(
        "n_files", "n_rows",
        F.lit(_COMPACT_R).cast("long").alias("max_records_per_file"),
    )


# --- rolling 7-day distinct users ---------------------------------------------


@query(
    "rolling_distinct_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type,
             epoch_us(ts) // 86400000000 AS d,
             user_id
      FROM events
    ),
    contrib AS (
      SELECT DISTINCT event_type, d + o AS td, user_id
      FROM du, unnest(range(0, 7)) AS u(o)
    ),
    observed AS (SELECT DISTINCT event_type, d AS td FROM du)
    SELECT c.event_type, c.td AS day,
           count(DISTINCT c.user_id) AS wau
    FROM contrib c JOIN observed o
      ON c.event_type = o.event_type AND c.td = o.td
    GROUP BY 1, 2
    """,
    survey_ref="§2.4/§2.5 extension: rolling 7-day DISTINCT user count "
    "(windowed COUNT DISTINCT — inexpressible as a window frame; solved by "
    "contribution expansion over the entity-day reduction)",
)
def rolling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users (WAU) per event type, for every
    observed day: the metric SQL window frames CANNOT express (DISTINCT
    is not frame-mergeable). The scalable shape: reduce raw events to
    DISTINCT (type, day, user) FIRST — the only data-sized shuffle — then
    each entity-day contributes itself to the 7 following days (a
    bounded ×7 explode over the reduction, NOT over raw events), distinct
    again, count. The frame after reduction is O(types × active-days ×
    users-active-that-day), independent of event volume — at 100 TB the
    raw-event reduction is the entire cost, and it is one map-side-
    combined distinct. The sketch alternative (mergeable HLL per day,
    union over the window) trades exactness for an O(days) frame;
    approx_distinct_check attests exactly that sketch's error."""
    ev = _events(spark, sf_dir)
    du = ev.select(
        "event_type",
        F.expr("unix_micros(ts) div 86400000000").alias("d"),
        "user_id",
    ).distinct()
    contrib = du.select(
        "event_type",
        F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("td"),
        "user_id",
    ).distinct()
    observed = du.select("event_type", F.col("d").alias("td")).distinct()
    return (
        contrib.join(observed, ["event_type", "td"])
        .groupBy("event_type", F.col("td").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# --- explicit GROUPING SETS (non-hierarchical mix) ----------------------------


@query(
    "grouping_sets_mix",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           GROUPING(l_returnflag) AS g_flag,
           GROUPING(l_linestatus) AS g_status,
           count(*) AS n,
           CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    survey_ref="§2.4 A-ext: explicit GROUPING SETS — a NON-hierarchical "
    "grouping mix ((flag), (status), ()) that neither ROLLUP nor a single "
    "CUBE subset expresses; grouping_id columns disambiguate the frames",
)
def grouping_sets_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two independent single-dimension margins plus the grand total in ONE
    pass — the report shape (per-flag totals AND per-status totals,
    side-by-side) that would otherwise be two aggs + a union reading the
    fact table twice. Spark expands grouping sets with a single Expand node
    feeding one hash aggregate, so the fact table is still scanned once;
    sums are exact integer cents. Uses the Spark 4 DataFrame groupingSets
    API directly (cube/rollup cover only the hierarchical cases)."""
    li = load_table(spark, sf_dir, "lineitem")
    gs = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []],
        "l_returnflag", "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("long").alias("g_flag"),
        F.grouping("l_linestatus").cast("long").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("l_extendedprice") * 100).cast("long")).alias(
            "price_cents"
        ),
    )
    return gs.select(
        F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
        F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
        "g_flag", "g_status", "n", "price_cents",
    )


# --- null-safe join semantics -------------------------------------------------


@query(
    "null_safe_join_rates",
    oracle="""
    WITH keyed AS (
      SELECT event_id,
             CASE WHEN event_type = 'error' THEN NULL
                  ELSE user_id % 20 END AS cohort,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    dim AS (
      SELECT cohort, count(*) AS cohort_n,
             CAST(sum(cents) AS BIGINT) AS cohort_cents
      FROM keyed GROUP BY cohort
    )
    SELECT k.cohort, count(*) AS n_events,
           CAST(max(d.cohort_n) AS BIGINT) AS cohort_n,
           CAST(max(d.cohort_cents) AS BIGINT) AS cohort_cents
    FROM keyed k JOIN dim d ON k.cohort IS NOT DISTINCT FROM d.cohort
    GROUP BY k.cohort
    """,
    survey_ref="§2.3 extension: null-safe equi-join (<=> / IS NOT DISTINCT "
    "FROM) — the NULL cohort joins its own dim row instead of silently "
    "dropping, the classic inner-join data-loss bug",
)
def null_safe_join_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort enrichment where one cohort key is legitimately NULL (error
    events carry no cohort): a plain equi-join silently drops every
    NULL-key row (NULL = NULL is not true), understating totals; the
    null-safe operator (Spark `eqNullSafe`, SQL `<=>`) matches NULL to the
    dim's own NULL row. The dim aggregates to ONE row per cohort
    (including one NULL row), so null-safe matching stays 1:1 — no
    null-cross-product. Null-safe equality hashes like any key, so the
    join still plans as a hash/SMJ equi-join, never a nested loop (the
    EqualNullSafe predicate is a join KEY in Catalyst)."""
    ev = _events(spark, sf_dir)
    keyed = ev.select(
        "event_id",
        F.when(F.col("event_type") == "error", F.lit(None).cast("long"))
        .otherwise(F.col("user_id") % 20)
        .alias("cohort"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    dim = keyed.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("cohort_n"),
        F.sum("cents").alias("cohort_cents"),
    )
    j = keyed.alias("k").join(
        dim.alias("d"),
        F.col("k.cohort").eqNullSafe(F.col("d.cohort")),
    )
    return j.groupBy(F.col("k.cohort").alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("d.cohort_n").alias("cohort_n"),
        F.max("d.cohort_cents").alias("cohort_cents"),
    )


# --- percent_rank / cume_dist in exact integer form ---------------------------


@query(
    "percentile_analytics",
    oracle=f"""
    WITH base AS (
      SELECT user_id, event_id,
             rank() OVER w AS rnk,
             count(*) OVER (PARTITION BY user_id) AS n_rows,
             count(*) OVER (PARTITION BY user_id ORDER BY value DESC
                            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cume_n
      FROM events WHERE event_type = 'purchase'
      WINDOW w AS (PARTITION BY user_id ORDER BY value DESC)
    )
    SELECT user_id, event_id,
           CAST(rnk AS BIGINT) AS rnk,
           CAST(n_rows AS BIGINT) AS n_rows,
           CAST(cume_n AS BIGINT) AS cume_n,
           CASE WHEN n_rows = 1 THEN CAST(0 AS BIGINT)
                ELSE {ratio_e4_sql('rnk - 1', 'n_rows - 1')} END
             AS percent_rank_e4,
           {ratio_e4_sql('cume_n', 'n_rows')} AS cume_dist_e4
    FROM base
    """,
    survey_ref="§2.5 extension: percent_rank / cume_dist — computed from "
    "their exact integer definitions ((rank-1)/(n-1); ties-inclusive "
    "RANGE-frame count / n) so the analytic family is typed-hash-safe",
)
def percentile_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank and cume_dist per user's purchase ranking, reported as
    exact e4 integers built from their DEFINITIONS — rank/row counts — not
    the built-ins' doubles (which divide engine-side and re-open the
    half-boundary trap). cume_n uses the ties-inclusive RANGE frame count
    (exactly cume_dist·n, as an integer): equal values share rank AND
    cume_n, matching SQL percent_rank/cume_dist over the value ordering. All four windows share the one
    user-key exchange+sort; percent_rank of a single-row partition is 0 by
    SQL convention (guarded — the e4 division would hit n-1 = 0)."""
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    # ordered by value ONLY: ties must share rank and cume_n (adding the
    # event_id tie-break made every row its own peer group, degenerating
    # rank to row_number and cume_n to a running row count — r5 review
    # fix). event_id stays in the OUTPUT as the row identifier.
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc())
    base = ev.select(
        "user_id", "event_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_rows"),
        F.count(F.lit(1))
        .over(w.rangeBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cume_n"),
    )
    return base.select(
        "user_id", "event_id", "rnk", "n_rows", "cume_n",
        F.when(F.col("n_rows") == 1, F.lit(0).cast("long"))
        .otherwise(ratio_e4("rnk - 1", "n_rows - 1"))
        .alias("percent_rank_e4"),
        ratio_e4("cume_n", "n_rows").alias("cume_dist_e4"),
    )
