"""Advanced analytics extensions (§2 extensions).

Sketch set algebra (KMV distinct/union/Jaccard — the mergeable summary
family's set-operation member, next to HLL++/CMS/Bloom/freqItems), robust
estimation (trimmed mean, calendar-lag autocorrelation), order-statistic
selection (2-D Pareto skyline, window form vs the quadratic NOT-EXISTS
oracle), graph structure (degree-oriented triangle counting vs the naive
3-way-join oracle), corpus diversity (token Shannon entropy per source),
and two more TPC-H join/agg shapes (Q14 promotion share, Q15 top supplier
via exact integer-cents argmax). Pattern mining: ordered and
gap-constrained event-type trigrams, a-priori itemset support and frequent
3-itemsets; plus RFM segmentation, a 2-D box-filter hotspot scan, sparse
COO transition products, and feature scaling / imputation audits.

Float discipline follows the repo convention: grouped float sums/avgs
rounded at the query edge; orderings and argmax picks only over
cross-engine-exact values (integer cents, md5 residues); log-based scores
rounded 4dp; ratios derived from ALREADY-ROUNDED aggregates where a
quotient of two raw float sums would put the round on a boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import graph as G
from nilm_data_framework_spark.operators import robust as RB
from nilm_data_framework_spark.operators import sketches as SK
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators import windows as W
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.operators.scale_windows import bucketed_ntile
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _TOKS, EVENT_TYPES, _docs, _events
from nilm_data_framework_spark.sources.testdata import load_table


# Identical token definition to operators/text.py::tokens (see
# pipeline_quality._TOKS — kept verbatim so oracles share one vocabulary).

# Same 60-bit md5-prefix hash family as operators/sketches.py (cms/kmv).
_HV = "CAST(('0x' || substr(md5(uid), 1, 15)) AS BIGINT)"


# --- KMV sketch set algebra ---------------------------------------------------

_KMV_K = 64

# The catalog's named sets: the fixture's FIXED event-type domain
# (FIXTURES.md — event_type ≈ channel label; other queries hardcode members
# of this domain too, e.g. tensor_pipeline's 'view'/'click'/'purchase').
# Using a LITERAL dim (LocalRelation) keeps the pair/membership frames
# broadcast-safe BY CONSTRUCTION — no hint over anything sf-scaled, which
# tests/test_plan_quality.py::test_no_broadcast_hint_over_sf_scaled_relation
# enforces globally.
_TYPE_PAIRS = [
    (f"{a}|{b}", a, b)
    for i, a in enumerate(EVENT_TYPES)
    for b in EVENT_TYPES[i + 1:]
]
_PAIRS_SQL = "(VALUES " + ", ".join(
    f"('{s}', '{a}', '{b}')" for s, a, b in _TYPE_PAIRS
) + ") pairs(set_name, ta, tb)"


def _pairs_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(_TYPE_PAIRS, "set_name string, ta string, tb string")


@query(
    "kmv_distinct_ops",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid FROM events
    ),
    hx AS (SELECT DISTINCT event_type, {_HV} AS hv FROM ev),
    ssk AS (
      SELECT event_type AS set_name, hv FROM (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
        FROM hx) WHERE rk <= {_KMV_K}
    ),
    pairs AS (SELECT * FROM {_PAIRS_SQL}),
    member AS (
      SELECT set_name, ta AS event_type FROM pairs
      UNION ALL SELECT set_name, tb FROM pairs
    ),
    merged AS (
      SELECT DISTINCT m.set_name, s.hv
      FROM ssk s JOIN member m ON m.event_type = s.set_name
    ),
    usk AS (
      SELECT set_name, hv FROM (
        SELECT set_name, hv,
               row_number() OVER (PARTITION BY set_name ORDER BY hv) AS rk
        FROM merged) WHERE rk <= {_KMV_K}
    ),
    allsk AS (SELECT * FROM ssk UNION ALL SELECT * FROM usk),
    est AS (SELECT set_name, count(*) AS n, max(hv) AS hk FROM allsk GROUP BY 1),
    ex AS (
      SELECT event_type AS set_name, count(DISTINCT uid) AS exact_distinct
      FROM ev GROUP BY 1
      UNION ALL
      SELECT m.set_name, count(DISTINCT e.uid)
      FROM ev e JOIN member m USING (event_type) GROUP BY 1
    )
    SELECT est.set_name,
           round(CASE WHEN est.n < {_KMV_K} THEN CAST(est.n AS DOUBLE)
                 ELSE {_KMV_K - 1}.0 * 1152921504606846976.0 / est.hk END,
                 2) AS kmv_est,
           ex.exact_distinct
    FROM est JOIN ex ON ex.set_name = est.set_name
    """,
    survey_ref="§2.4 extension: KMV distinct sketch + sketch-only set union "
    "(mergeable bottom-k, estimates attested against exact distinct counts)",
)
def kmv_distinct_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-64 sketches of the per-event-type user sets, plus
    SKETCH-ONLY unions for every type pair (bottom-k of a union == bottom-k
    of the merged bottom-k's — the mergeability that lets a catalog answer
    overlap questions without re-reading data). Every estimate is reported
    next to the exact distinct count, so the gate attests the (k-1)/h_(k)
    estimator's error each round. The pair/membership dims are a LITERAL
    of the fixed event-type domain (LocalRelation — broadcast-safe by
    construction, no hint over anything sf-scaled). Operators:
    operators/sketches.py::kmv_sketch/kmv_estimate."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    # ONE deduped (event_type, uid) frame feeds the sketch AND both exact
    # branches (r10 optimization, guide §1.2 step 1 / §2.4): the old form
    # scanned events three times — the sketch's distinct, a countDistinct,
    # and a 4x-exploded join+countDistinct — each re-deduplicating the raw
    # rows. All three branches now share du's identical exchange subtree
    # (runtime ReuseExchange), the md5 hashing runs over the deduped rows
    # only, and the single-set exact counts are plain count(*) over du
    # (du IS the distinct set — value-identical to countDistinct over raw).
    du = ev.distinct()
    singles = SK.kmv_sketch(du, ["event_type"], "uid", _KMV_K)
    pairs = _pairs_df(spark)
    member = pairs.select("set_name", F.col("ta").alias("event_type")).unionByName(
        pairs.select("set_name", F.col("tb").alias("event_type"))
    )
    merged = (
        singles.join(
            F.broadcast(member),
            singles["event_type"] == member["event_type"],
        )
        .select("set_name", "hv")
        .distinct()
    )
    w = Window.partitionBy("set_name").orderBy("hv")
    union_sk = (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
    )
    sk_all = singles.select(
        F.col("event_type").alias("set_name"), "hv"
    ).unionByName(union_sk.select("set_name", "hv"))
    est = SK.kmv_estimate(sk_all, ["set_name"], _KMV_K)
    exact = (
        du.groupBy(F.col("event_type").alias("set_name"))
        # count("uid") over the distinct frame == countDistinct over raw
        # (nulls excluded by both — not count(*), which would keep a
        # hypothetical (type, NULL) row)
        .agg(F.count("uid").cast("long").alias("exact_distinct"))
        .unionByName(
            du.join(F.broadcast(member), "event_type")
            .groupBy("set_name")
            .agg(F.countDistinct("uid").alias("exact_distinct"))
        )
    )
    return est.join(exact, "set_name").select(
        "set_name", "kmv_est", "exact_distinct"
    )


@query(
    "kmv_jaccard_pairs",
    oracle=f"""
    WITH ev AS (
      SELECT DISTINCT event_type, CAST(user_id AS VARCHAR) AS uid FROM events
    ),
    hx AS (SELECT DISTINCT event_type, {_HV} AS hv FROM ev),
    ssk AS (
      SELECT event_type, hv FROM (
        SELECT event_type, hv,
               row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
        FROM hx) WHERE rk <= {_KMV_K}
    ),
    pairs AS (SELECT * FROM {_PAIRS_SQL}),
    member AS (
      SELECT set_name, ta AS event_type FROM pairs
      UNION ALL SELECT set_name, tb FROM pairs
    ),
    merged AS (
      SELECT DISTINCT m.set_name, s.hv
      FROM ssk s JOIN member m USING (event_type)
    ),
    usk AS (
      SELECT u.set_name, p.ta, p.tb, u.hv FROM (
        SELECT set_name, hv,
               row_number() OVER (PARTITION BY set_name ORDER BY hv) AS rk
        FROM merged) u
      JOIN pairs p USING (set_name) WHERE u.rk <= {_KMV_K}
    ),
    est AS (
      SELECT u.set_name,
             count(*) AS ku,
             sum(CASE WHEN sa.hv IS NOT NULL AND sb.hv IS NOT NULL
                 THEN 1 ELSE 0 END) AS nboth
      FROM usk u
      LEFT JOIN ssk sa ON sa.event_type = u.ta AND sa.hv = u.hv
      LEFT JOIN ssk sb ON sb.event_type = u.tb AND sb.hv = u.hv
      GROUP BY 1
    ),
    per_user AS (
      SELECT m.set_name, e.uid, count(DISTINCT e.event_type) AS nt
      FROM ev e JOIN member m USING (event_type)
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT set_name,
             sum(CASE WHEN nt = 2 THEN 1 ELSE 0 END) AS i,
             count(*) AS u
      FROM per_user GROUP BY 1
    )
    SELECT est.set_name,
           round(CAST(est.nboth AS DOUBLE) / est.ku, 4) AS est_jaccard,
           round(CAST(ex.i AS DOUBLE) / ex.u, 4) AS exact_jaccard
    FROM est JOIN ex USING (set_name)
    """,
    survey_ref="§2.4 extension: KMV Jaccard between sketched sets "
    "(Beyer et al. SIGMOD'07 — overlap from bottom-k summaries alone)",
)
def kmv_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity of the per-event-type user sets estimated FROM
    THE SKETCHES ALONE: of the union's bottom-k hashes, the fraction
    present in both sides' sketches (exact Jaccard reported next to it).
    The raw sets are touched only by the attestation column — the
    estimator reads 2·k sketch rows per pair. Operator:
    operators/sketches.py::kmv_sketch."""
    ev = _events(spark, sf_dir).select(
        "event_type", F.col("user_id").cast("string").alias("uid")
    )
    # same sharing as kmv_distinct_ops (r10): one deduped frame feeds the
    # sketch and the exact per-user branch; the bounded sketch (k x |types|
    # rows) is checkpointed because THREE branches (merged, sa, sb) read it
    du = ev.distinct()
    singles = (
        SK.kmv_sketch(du, ["event_type"], "uid", _KMV_K)
        .select("event_type", "hv")
        .transform(checkpoint)
    )
    pairs = _pairs_df(spark)
    member = pairs.select("set_name", F.col("ta").alias("event_type")).unionByName(
        pairs.select("set_name", F.col("tb").alias("event_type"))
    )
    merged = (
        singles.join(F.broadcast(member), "event_type")
        .select("set_name", "hv")
        .distinct()
    )
    w = Window.partitionBy("set_name").orderBy("hv")
    usk = (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _KMV_K)
        .join(F.broadcast(pairs), "set_name")
        .select("set_name", "ta", "tb", "hv")
    )
    sa = singles.select(F.col("event_type").alias("_ea"), F.col("hv").alias("_ha"))
    sb = singles.select(F.col("event_type").alias("_eb"), F.col("hv").alias("_hb"))
    probed = usk.join(
        sa, (F.col("_ea") == F.col("ta")) & (F.col("_ha") == F.col("hv")), "left"
    ).join(sb, (F.col("_eb") == F.col("tb")) & (F.col("_hb") == F.col("hv")), "left")
    est = probed.groupBy("set_name").agg(
        F.count(F.lit(1)).alias("_ku"),
        F.sum(
            F.when(F.col("_ha").isNotNull() & F.col("_hb").isNotNull(), 1).otherwise(0)
        ).alias("_both"),
    )
    # exact side: per pair, |A∩B| and |A∪B| over the distinct (type, uid) set
    per_user = (
        du.join(F.broadcast(member), "event_type")
        .groupBy("set_name", "uid")
        .agg(F.countDistinct("event_type").alias("_nt"))
    )
    exact = per_user.groupBy("set_name").agg(
        F.sum(F.when(F.col("_nt") == 2, 1).otherwise(0)).alias("_i"),
        F.count(F.lit(1)).alias("_u"),
    )
    return est.join(exact, "set_name").select(
        "set_name",
        F.round(F.col("_both").cast("double") / F.col("_ku"), 4).alias("est_jaccard"),
        F.round(F.col("_i").cast("double") / F.col("_u"), 4).alias("exact_jaccard"),
    )


# --- calendar-lag autocorrelation ---------------------------------------------


@query(
    "acf_hourly",
    oracle="""
    WITH s AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
             sum(CAST(floor(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT event_type, count(*) AS n, sum(x) AS s1, sum(x * x) AS s2
      FROM s GROUP BY 1
    ),
    lags(lag) AS (VALUES (1), (24)),
    p AS (
      SELECT l.event_type, g.lag, count(*) AS c, sum(l.x * r.x) AS sxy,
             sum(l.x) AS sl, sum(r.x) AS sr
      FROM s l CROSS JOIN lags g
      JOIN s r ON r.event_type = l.event_type AND r.hour = l.hour + g.lag
      GROUP BY 1, 2
    )
    SELECT p.event_type, CAST(p.lag AS BIGINT) AS lag,
           round((CAST(p.sxy AS DOUBLE)
                  - (CAST(m.s1 AS DOUBLE) / m.n) * p.sl
                  - (CAST(m.s1 AS DOUBLE) / m.n) * p.sr
                  + p.c * (CAST(m.s1 AS DOUBLE) / m.n)
                        * (CAST(m.s1 AS DOUBLE) / m.n))
                 / (CAST(m.s2 AS DOUBLE)
                    - m.n * (CAST(m.s1 AS DOUBLE) / m.n)
                          * (CAST(m.s1 AS DOUBLE) / m.n)), 4) AS acf,
           p.c AS n_pairs
    FROM p JOIN m USING (event_type)
    """,
    survey_ref="§2.4 extension: calendar-lag autocorrelation (exact "
    "integer moments, hourly + daily seasonality lags)",
)
def acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1h and lag-24h autocorrelation of the hourly value total per
    event type — the seasonality detector behind forecastability screens
    (a high r_24 says 'same hour yesterday' is a usable predictor; pairs
    with seasonal_naive_error). The series is an hourly INTEGER-cents sum,
    so every moment (Σx, Σx², Σx·x_lag, counts) is exact and the single
    double expression assembling r is cross-engine deterministic.
    Operator: operators/robust.py::autocorrelation."""
    ev = _events(spark, sf_dir)
    series = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hour"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "hour")
        .agg(F.sum("cents").alias("x"))
    )
    return RB.autocorrelation(series, ["event_type"], "hour", "x", [1, 24])


# --- trimmed mean -------------------------------------------------------------


@query(
    "trimmed_mean_price",
    oracle="""
    WITH r AS (
      SELECT l_returnflag, l_extendedprice,
             row_number() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS n
      FROM lineitem
    )
    SELECT l_returnflag, round(avg(l_extendedprice), 4) AS trimmed_mean,
           count(*) AS n_used
    FROM r WHERE rn > floor(n * 0.1) AND rn <= n - floor(n * 0.1)
    GROUP BY 1
    """,
    survey_ref="§2.4 extension: 10% trimmed mean (robust location between "
    "mean and median; exact integer rank bounds)",
)
def trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean extended price per return flag: drop the cheapest
    and most expensive floor(n/10) lines (deterministic tiebreak) and
    average the middle 80% — the robust center the MAD/median family keeps
    when tail garbage would drag a plain mean. The kept slice is exact;
    only the final avg is a rounded float agg. Operator:
    operators/robust.py::trimmed_mean."""
    li = load_table(spark, sf_dir, "lineitem")
    out = RB.trimmed_mean(
        li, ["l_returnflag"], "l_extendedprice", trim=0.1,
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag",
        F.round("trimmed_mean", 4).alias("trimmed_mean"),
        "n_used",
    )


# --- 2-D Pareto skyline -------------------------------------------------------


@query(
    "pareto_front_docs",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, n_chars, len({_TOKS}) AS n_tokens FROM documents
    )
    SELECT lang, doc_id, n_chars, n_tokens FROM d p
    WHERE NOT EXISTS (
      SELECT 1 FROM d q
      WHERE q.lang = p.lang
        AND q.n_chars >= p.n_chars AND q.n_tokens >= p.n_tokens
        AND (q.n_chars > p.n_chars OR q.n_tokens > p.n_tokens)
    )
    """,
    survey_ref="§2.5 extension: 2-D Pareto skyline (sort-based window form; "
    "oracle = the quadratic NOT EXISTS formulation)",
)
def pareto_front_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Pareto frontier of documents on (n_chars, n_tokens)
    maximize-both: the docs for which no same-language doc is at least as
    long AND at least as token-rich with one strict — the skyline selector
    (Börzsönyi ICDE'01). Spark runs the O(n log n) two-window form over one
    shuffle; the oracle runs the O(n²) NOT EXISTS — their equivalence is
    the check. Operator: operators/windows.py::skyline_2d."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", "n_chars",
        F.size(T.tokens(F.col("text"))).alias("n_tokens"),
    )
    return W.skyline_2d(d, ["lang"], "n_chars", "n_tokens").select(
        "lang", "doc_id", "n_chars", "n_tokens"
    )


# --- triangle counting --------------------------------------------------------


@query(
    "triangle_count_parts",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
               AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    v AS (SELECT count(DISTINCT x) AS n_vertices FROM
          (SELECT s AS x FROM e UNION ALL SELECT t FROM e)),
    ne AS (SELECT count(*) AS n_edges FROM e),
    tri AS (
      SELECT count(*) AS n_triangles
      FROM e e1
      JOIN e e2 ON e2.s = e1.s AND e2.t > e1.t
      JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t
    )
    SELECT v.n_vertices, ne.n_edges, tri.n_triangles FROM v, ne, tri
    """,
    survey_ref="§2 extension: triangle counting via degree-ordered "
    "orientation (oracle = naive ordered 3-way join)",
)
def triangle_count_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the part co-occurrence graph (parts sharing ≥2 orders
    are connected; a triangle = three pairwise co-ordered parts — the
    clustering-structure signal behind community/recommendation features).
    The support-≥2 threshold is the standard co-purchase-graph denoising
    step AND the scale lever: single-shared-order pairs are mostly random
    at any corpus size, and dropping them cuts the sf0.1 graph from 1.2M
    to ~3.6k edges (measured; 8.8 s → ~3 s) while the triangles that
    remain are the meaningful ones. Pair generation is JOIN-FREE: one
    groupBy(order) → sorted distinct part array → JVM-side HOF pair
    explosion (order sizes are bounded, so the per-row fan-out is tiny and
    there is no second scan/shuffle of the fact table — on a cluster the
    order grouping rides the table's natural bucketing). Support counts
    DISTINCT orders (the set semantics — a part repeated inside one order
    is one co-occurrence). Counting uses the degree-ordered orientation so
    hub parts don't explode the wedge join, while the oracle counts the
    same triangles with the naive ordered 3-way join over a deduped
    (order, part) edge build. Operator:
    operators/graph.py::triangle_count."""
    li = load_table(spark, sf_dir, "lineitem")
    return G.triangle_count(_copurchase_edges(li))


# --- TPC-H Q14: promotion revenue share ---------------------------------------


@query(
    "promo_revenue_share",
    oracle="""
    WITH j AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             l_extendedprice * (1 - l_discount) AS rev,
             p_type
      FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    agg AS (
      SELECT ship_month,
             round(sum(CASE WHEN p_type = 'PROMO' THEN rev ELSE 0 END), 2)
               AS promo_revenue,
             round(sum(rev), 2) AS total_revenue,
             count(*) AS n_lines
      FROM j GROUP BY 1
    )
    SELECT ship_month, promo_revenue, total_revenue,
           round(100 * promo_revenue / total_revenue, 4) AS promo_share_pct,
           n_lines
    FROM agg
    """,
    survey_ref="§2.3/§2.4 extension: TPC-H Q14 shape (fact-dim equi-join + "
    "conditional aggregation, AQE-decided join strategy)",
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly share of revenue from PROMO-type parts (TPC-H Q14 over the
    full date range): lineitem⋈part equi-join — part is sf-scaled, so NO
    forced broadcast (AQE picks; per the repo's sf-scaled-relation rule) —
    then one conditional partial+final agg. The share is derived from the
    ALREADY-ROUNDED sums so the 4dp quotient can't sit on a float-sum
    boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))), 2
            ).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )
    return agg.select(
        "ship_month", "promo_revenue", "total_revenue",
        F.round(100 * F.col("promo_revenue") / F.col("total_revenue"), 4).alias(
            "promo_share_pct"
        ),
        "n_lines",
    )


# --- TPC-H Q15: top supplier by revenue ---------------------------------------


@query(
    "top_supplier_revenue",
    oracle="""
    WITH agg AS (
      SELECT l_suppkey,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS rc
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
      GROUP BY 1
    ),
    mx AS (SELECT max(rc) AS m FROM agg)
    SELECT s.s_suppkey, s.s_name,
           round(CAST(a.rc AS DOUBLE) / 10000.0, 4) AS total_revenue
    FROM agg a JOIN mx ON a.rc = mx.m
    JOIN supplier s ON s.s_suppkey = a.l_suppkey
    """,
    survey_ref="§2.3/§2.4 extension: TPC-H Q15 shape (max-over-aggregate "
    "argmax via 1-row broadcast; exact integer-cents revenue so the pick "
    "is deterministic)",
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier(s) with the highest quarterly revenue (TPC-H Q15):
    revenue is summed in EXACT integer cents×basis-points so the argmax is
    never decided by float-sum ordering; the global max is a 1-row
    aggregate crossJoin-broadcast back onto the supplier aggregate (the
    scale-safe max-of-agg shape — no global sort, no window over an
    unpartitioned frame)."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev_c = F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.floor(F.col("l_discount") * 100).cast("long")
    )
    agg = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1999-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev_c).alias("_rc"))
    )
    mx = agg.agg(F.max("_rc").alias("_mx"))
    top = agg.crossJoin(F.broadcast(mx)).filter(F.col("_rc") == F.col("_mx"))
    return top.join(s, top["l_suppkey"] == s["s_suppkey"]).select(
        "s_suppkey", "s_name",
        F.round(F.col("_rc").cast("double") / 10000.0, 4).alias("total_revenue"),
    )


# --- token entropy per source -------------------------------------------------


@query(
    "entropy_by_source",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    per AS (
      SELECT source, sum(c) AS n_tokens, count(*) AS vocab,
             sum(c * ln(c)) AS s
      FROM cnt GROUP BY 1
    )
    SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens, vocab,
           round(ln(n_tokens) - s / n_tokens, 4) AS entropy
    FROM per
    """,
    survey_ref="§2.10 text analysis extension: token Shannon entropy per "
    "source (corpus diversity audit; H = ln N − Σc·ln c / N)",
)
def entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each source's token distribution — the diversity
    audit next to the mixture/temperature weights (a low-entropy source is
    repetitive boilerplate regardless of its size; pairs with
    repetition_scores which measures the same thing per doc). Two
    map-side-combined aggs; H is assembled as ln N − Σ c·ln c / N from one
    grouped float sum, rounded 4dp per the repo's log-score rule."""
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("source", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum(F.col("c") * F.log("c")).alias("_s"),
    )
    return per.select(
        "source", "n_tokens", "vocab",
        F.round(F.log("n_tokens") - F.col("_s") / F.col("n_tokens"), 4).alias(
            "entropy"
        ),
    )


# --- Markov transition matrix -------------------------------------------------


@query(
    "markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    cnt AS (
      SELECT event_type AS from_type, next_type AS to_type, count(*) AS c
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT from_type, sum(c) AS t FROM cnt GROUP BY 1)
    SELECT cnt.from_type, cnt.to_type, cnt.c,
           round(CAST(cnt.c AS DOUBLE) / tot.t, 4) AS p
    FROM cnt JOIN tot USING (from_type)
    """,
    survey_ref="§2.5 extension: first-order Markov transition matrix over "
    "per-user event sequences (lead window + two hash aggs)",
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts/probabilities of the per-user
    event-type sequence (order by ts with event_id tiebreak — the
    behavioral 'what follows what' matrix behind next-action models and
    funnel diagnostics). One lead() window over a single shuffle on
    user_id, then two map-side-combined aggs on the tiny type×type frame;
    p is an integer-count ratio, deterministic before the 4dp round."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("_next", F.lead("event_type").over(w)).filter(
        F.col("_next").isNotNull()
    )
    cnt = seq.groupBy(
        F.col("event_type").alias("from_type"), F.col("_next").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("from_type").agg(F.sum("c").alias("_t"))
    return cnt.join(tot, "from_type").select(
        "from_type", "to_type", "c",
        F.round(F.col("c").cast("double") / F.col("_t"), 4).alias("p"),
    )


# --- mergeable-partial aggregation (materialized-view maintenance) ------------


@query(
    "partial_agg_merge",
    oracle="""
    WITH base AS (
      SELECT event_type, strftime(ts, '%Y-%m') AS month,
             epoch_us(ts) // 86400000000 AS day,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    daily AS (
      SELECT event_type, month, day, count(*) AS n, sum(cents) AS s,
             min(cents) AS mn, max(cents) AS mx
      FROM base GROUP BY 1, 2, 3
    ),
    merged AS (
      SELECT event_type, month, sum(n) AS n, sum(s) AS total_cents,
             min(mn) AS min_cents, max(mx) AS max_cents
      FROM daily GROUP BY 1, 2
    ),
    direct AS (
      SELECT event_type, month, count(*) AS n, sum(cents) AS total_cents,
             min(cents) AS min_cents, max(cents) AS max_cents
      FROM base GROUP BY 1, 2
    )
    SELECT m.event_type, m.month, CAST(m.n AS BIGINT) AS n,
           CAST(m.total_cents AS BIGINT) AS total_cents,
           m.min_cents, m.max_cents,
           (m.n = d.n AND m.total_cents = d.total_cents
            AND m.min_cents = d.min_cents AND m.max_cents = d.max_cents)
             AS consistent
    FROM merged m JOIN direct d USING (event_type, month)
    """,
    survey_ref="§2.4 extension: mergeable-partial aggregation "
    "(incremental materialized-view maintenance: daily partials re-rolled "
    "to monthly == direct monthly, attested per gate run)",
)
def partial_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance kernel: daily partial aggregates
    (count/sum/min/max in exact integer cents) re-aggregated to monthly
    MUST equal the direct monthly aggregation — the algebraic-aggregate
    mergeability that lets a 100 TB pipeline maintain rollups by touching
    only new partitions (same contract Spark's own partial+final agg
    relies on, here attested across a PERSISTED granularity boundary).
    The ``consistent`` flag is the per-row attestation."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.expr("unix_micros(ts) div 86400000000").alias("day"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    daily = base.groupBy("event_type", "month", "day").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("cents").alias("_s"),
        F.min("cents").alias("_mn"), F.max("cents").alias("_mx"),
    )
    merged = daily.groupBy("event_type", "month").agg(
        F.sum("_n").alias("n"), F.sum("_s").alias("total_cents"),
        F.min("_mn").alias("min_cents"), F.max("_mx").alias("max_cents"),
    )
    direct = base.groupBy("event_type", "month").agg(
        F.count(F.lit(1)).alias("_dn"), F.sum("cents").alias("_ds"),
        F.min("cents").alias("_dmn"), F.max("cents").alias("_dmx"),
    )
    return merged.join(direct, ["event_type", "month"]).select(
        "event_type", "month", "n", "total_cents", "min_cents", "max_cents",
        (
            (F.col("n") == F.col("_dn"))
            & (F.col("total_cents") == F.col("_ds"))
            & (F.col("min_cents") == F.col("_dmn"))
            & (F.col("max_cents") == F.col("_dmx"))
        ).alias("consistent"),
    )


# --- vocabulary growth statistics ---------------------------------------------


@query(
    "vocab_growth_stats",
    oracle=f"""
    WITH tok AS (SELECT source, unnest({_TOKS}) AS tok FROM documents),
    cnt AS (SELECT source, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    agg AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
      FROM cnt GROUP BY 1
    )
    SELECT source, n_tokens, n_types, hapax,
           {ratio_e4_sql('n_types', 'n_tokens')} AS ttr_e4,
           {ratio_e4_sql('hapax', 'n_types')} AS hapax_share_e4
    FROM agg
    """,
    survey_ref="§2.10 text analysis extension: vocabulary growth stats "
    "(type-token ratio + hapax share per source — Heaps'-law audit)",
)
def vocab_growth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio and hapax-legomena share per source — the
    vocabulary-richness audit next to entropy_by_source (a synthetic or
    template-generated source shows abnormally low TTR and hapax share;
    natural text follows Heaps' law). Two map-side-combined aggs; the TTR
    and hapax-share ratios are reported as exact round-half-up 1e-4-scaled
    BIGINTs (operators/exact_math.py) so the driver's typed hash cannot
    diverge on float rounding (r4 fix)."""
    d = _docs(spark, sf_dir)
    cnt = (
        d.select("source", F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    agg = cnt.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        hapax.alias("hapax"),
    )
    return agg.select(
        "source", "n_tokens", "n_types", "hapax",
        ratio_e4("n_types", "n_tokens").alias("ttr_e4"),
        ratio_e4("hapax", "n_types").alias("hapax_share_e4"),
    )


# --- time-based RANGE frame: rolling 1-hour sum -------------------------------


@query(
    "rolling_hour_sum",
    oracle="""
    WITH base AS (
      SELECT event_id, user_id, epoch_us(ts) AS tus,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT event_id, user_id, tus,
           CAST(sum(cents) OVER w AS BIGINT) AS rolling_cents,
           CAST(count(*) OVER w AS BIGINT) AS n_in_window
    FROM base
    WINDOW w AS (PARTITION BY user_id ORDER BY tus
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    survey_ref="§2.5 extension: time-based RANGE window frame (rolling "
    "1-hour per-user sum — value-interval frame, not row-count)",
)
def rolling_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event rolling 1-hour sum of the user's values (integer cents —
    exact): the VALUE-interval window frame (rangeBetween on microseconds)
    that row-count frames (W4 sliding windows) can't express on irregular
    event times — the rate-limit / recent-activity feature kernel. Rows
    sharing a timestamp fall in each other's frame regardless of tiebreak,
    so the result is physical-order-independent by construction. One
    shuffle on user_id; the frame is computed in a single sorted pass
    (Spark's sliding range frame), no self-join."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        "event_id", "user_id",
        F.unix_micros("ts").alias("tus"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus")
        .rangeBetween(-3600000000, 0)
    )
    return base.select(
        "event_id", "user_id", "tus",
        F.sum("cents").over(w).alias("rolling_cents"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


# --- two-proportion A/B z-test ------------------------------------------------


@query(
    "ab_test_zstat",
    oracle=f"""
    WITH assign AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS variant,
             max(CASE WHEN event_type = 'purchase' AND value > 90
                 THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT variant, count(*) AS n, sum(converted) AS conv
      FROM assign GROUP BY 1
    ),
    wide AS (
      SELECT
        max(CASE WHEN variant = 0 THEN n END) AS na,
        max(CASE WHEN variant = 1 THEN n END) AS nb,
        max(CASE WHEN variant = 0 THEN conv END) AS ca,
        max(CASE WHEN variant = 1 THEN conv END) AS cb
      FROM agg
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
           {ratio_e4_sql('ca', 'na')} AS p_a_e4,
           {ratio_e4_sql('cb', 'nb')} AS p_b_e4,
           round((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                 / sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                        * (1 - CAST(ca + cb AS DOUBLE) / (na + nb))
                        * (1.0 / na + 1.0 / nb)), 4) AS z
    FROM wide
    """,
    survey_ref="§2.4 extension: two-proportion A/B z-test (deterministic "
    "hash-assigned variants, pooled-variance z from exact integer counts)",
)
def ab_test_zstat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test of purchase conversion between two
    hash-assigned user variants (conversion = a high-value purchase, so
    the rate is interior — a universal event would zero the pooled
    variance) — the experiment-analysis kernel on top of
    the repo's deterministic splitting machinery (same salted-md5 family
    as operators/splits.py: assignment is a pure function of the user key,
    stable under appends and re-partitioning). One per-user reduction, one
    2-row agg, a 2→1-row pivot; every input to the z expression is an
    exact integer so the single double formula is cross-engine
    deterministic before the 4dp round."""
    ev = _events(spark, sf_dir)
    assign = ev.groupBy(
        "user_id",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
            ).cast("long"),
            F.lit(2),
        ).alias("variant"),
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 90), 1
            ).otherwise(0)
        ).alias("converted")
    )
    agg = assign.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conv")
    )
    wide = agg.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("ca"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("cb"),
    )
    pa = F.col("ca").cast("double") / F.col("na")
    pb = F.col("cb").cast("double") / F.col("nb")
    pp = (F.col("ca") + F.col("cb")).cast("double") / (F.col("na") + F.col("nb"))
    z = (pa - pb) / F.sqrt(
        pp * (1 - pp) * (F.lit(1.0) / F.col("na") + F.lit(1.0) / F.col("nb"))
    )
    return wide.select(
        F.col("na").alias("n_a"), F.col("nb").alias("n_b"),
        F.col("ca").alias("conv_a"), F.col("cb").alias("conv_b"),
        ratio_e4("ca", "na").alias("p_a_e4"),
        ratio_e4("cb", "nb").alias("p_b_e4"),
        F.round(z, 4).alias("z"),
    )


# --- market-basket association rules ------------------------------------------

_RULES_TOP = 20


@query(
    "association_rules",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM op),
    item AS (SELECT l_partkey, count(*) AS c FROM op GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, count(*) AS c_ab
      FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
                         AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT src, dst, c_ab AS support,
           round(CAST(p.c_ab AS DOUBLE) / ia.c, 4) AS confidence,
           round(CAST(p.c_ab AS DOUBLE) * n.n_orders / (ia.c * ib.c), 4)
             AS lift
    FROM pair p
    JOIN item ia ON ia.l_partkey = p.src
    JOIN item ib ON ib.l_partkey = p.dst
    CROSS JOIN n
    ORDER BY lift DESC, src, dst LIMIT {_RULES_TOP}
    """,
    survey_ref="§2 extension: market-basket association rules "
    "(support/confidence/lift over order co-occurrence, top-k by lift)",
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} association rules part→part by lift (support ≥ 2 orders):
    the frequent-itemset kernel on the same per-order co-occurrence build
    as triangle_count_parts. All three metrics are ratios of exact
    DISTINCT-order counts, so the double values — and therefore the
    top-k ORDER — are cross-engine deterministic (tiebreak (src, dst));
    the top-k itself plans as TakeOrderedAndProject, no global sort. The
    pair frame reduces per-order before any join; item counts join back
    AQE-decided; only the 1-row order total is broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = op.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("dst"))
    pair = (
        a.join(b, "l_orderkey")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("src"), F.col("c").alias("_ca"))
    ib = item.select(F.col("l_partkey").alias("dst"), F.col("c").alias("_cb"))
    out = (
        pair.join(ia, "src")
        .join(ib, "dst")
        .crossJoin(F.broadcast(n))
        .select(
            "src", "dst", F.col("c_ab").alias("support"),
            F.round(F.col("c_ab").cast("double") / F.col("_ca"), 4).alias(
                "confidence"
            ),
            F.round(
                F.col("c_ab").cast("double") * F.col("n_orders")
                / (F.col("_ca") * F.col("_cb")),
                4,
            ).alias("lift"),
        )
    )
    return out.orderBy(F.col("lift").desc(), "src", "dst").limit(_RULES_TOP)


# --- strict-order 3-step funnel -----------------------------------------------


@query(
    "three_step_funnel",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS t1
      FROM events
    ),
    s2 AS (
      SELECT user_id, ts, event_type, t1,
             min(CASE WHEN event_type = 'click' AND epoch_us(ts) >= t1
                 THEN epoch_us(ts) END) OVER (PARTITION BY user_id) AS t2
      FROM s1
    ),
    s3 AS (
      SELECT user_id, t1, t2,
             min(CASE WHEN event_type = 'purchase' AND epoch_us(ts) >= t2
                 THEN epoch_us(ts) END) OVER (PARTITION BY user_id) AS t3
      FROM s2
    ),
    per_user AS (
      SELECT user_id, max(t1) AS t1, max(t2) AS t2, max(t3) AS t3
      FROM s3 GROUP BY 1
    ),
    agg AS (
      SELECT count(*) AS n_users,
             CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view,
             CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_click,
             CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_purchase,
             CAST(sum(CASE WHEN t3 IS NOT NULL THEN t3 - t1 END) AS BIGINT)
               AS total_us_to_convert
      FROM per_user
    )
    SELECT n_users, n_view, n_click, n_purchase, total_us_to_convert,
           {ratio_e4_sql('n_purchase', 'n_users')} AS full_funnel_rate_e4
    FROM agg
    """,
    survey_ref="§2.5 extension: strict-order 3-step funnel "
    "(view→click→purchase via chained conditional window minima — one "
    "entity-key shuffle, no step-to-step joins)",
)
def three_step_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-sequence funnel: first view, first click AT-OR-AFTER that
    view, first purchase at-or-after that click — per-user stage
    timestamps computed as THREE chained conditional window minima over
    the SAME user partitioning (Catalyst reuses one exchange+sort for all
    three — the scd2/lag+lead trick), so the classic funnel needs no
    step-to-step self-joins at all. Stage counts and the total
    time-to-convert are exact integers; the funnel rate is an exact
    1e-4-scaled BIGINT (operators/exact_math.py, r4 hash-robustness fix)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    tus = F.unix_micros("ts")
    s1 = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", tus)).over(w)
    )
    s2 = s1.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == "click") & (tus >= F.col("t1")), tus)
        ).over(w),
    )
    s3 = s2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (tus >= F.col("t2")), tus
            )
        ).over(w),
    )
    per_user = s3.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    agg = per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t1").isNotNull(), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("t2").isNotNull(), 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("t3").isNotNull(), 1).otherwise(0)).alias("n_purchase"),
        F.sum(
            F.when(F.col("t3").isNotNull(), F.col("t3") - F.col("t1"))
        ).alias("total_us_to_convert"),
    )
    return agg.select(
        "n_users", "n_view", "n_click", "n_purchase", "total_us_to_convert",
        ratio_e4("n_purchase", "n_users").alias("full_funnel_rate_e4"),
    )


# --- moving-average seasonal decomposition ------------------------------------


@query(
    "seasonal_decompose_daily",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             sum(CAST(floor(value * 100) AS BIGINT)) AS x
      FROM events GROUP BY 1, 2
    ),
    trended AS (
      SELECT event_type, h, x,
             CAST(sum(x) OVER w AS DOUBLE) / count(x) OVER w AS trend
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    )
    SELECT event_type, h % 24 AS hod,
           round(sum(x - trend) / count(*), 4) AS seasonal,
           count(*) AS n_hours
    FROM trended GROUP BY 1, 2
    """,
    survey_ref="§2.4/§2.5 extension: moving-average seasonal decomposition "
    "(centered ±12h RANGE-frame trend, hour-of-day seasonal component)",
)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical decomposition step: hourly integer-cents totals, a
    CENTERED ±12 h moving-average trend (RANGE frame on the hour index so
    grid gaps shrink the window instead of silently pairing distant
    hours), and the daily seasonal component as the mean detrended
    residual per hour-of-day — the additive x = trend + seasonal + rest
    decomposition that turns seasonal_naive_error's screen into an actual
    seasonal profile. The trend is sum/count of EXACT integers (windowed
    avg is deliberately avoided — engines disagree on incremental float
    accumulation); one key shuffle serves the window, one agg the
    profile."""
    ev = _events(spark, sf_dir)
    hourly = (
        ev.select(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("h"),
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("cents").alias("x"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-12, 12)
    )
    trended = hourly.withColumn(
        "trend", F.sum("x").over(w).cast("double") / F.count("x").over(w)
    )
    return trended.groupBy(
        "event_type", (F.col("h") % 24).alias("hod")
    ).agg(
        F.round(
            F.sum(F.col("x") - F.col("trend")) / F.count(F.lit(1)), 4
        ).alias("seasonal"),
        F.count(F.lit(1)).alias("n_hours"),
    )


# --- common-neighbor link prediction ------------------------------------------


def _order_baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps: sorted distinct part array) — the shared basket
    grain of the co-purchase kernel. Exposed (r10) so callers needing a
    SECOND per-part statistic (item_cf's degrees) can derive it from one
    fact scan instead of scanning + re-deduplicating lineitem again; the
    caller owns any persist/checkpoint (the r9 LSH shared-frame rule)."""
    return li.select("l_orderkey", "l_partkey").groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )


def _copurchase_edges(
    li: DataFrame,
    min_support: int = 2,
    support_col: str | None = None,
    baskets: DataFrame | None = None,
) -> DataFrame:
    """Support-thresholded part co-purchase edge list (src < dst),
    JOIN-FREE: one groupBy(order) → sorted distinct part array → JVM-side
    HOF pair explosion (the same kernel triangle_count_parts documents;
    measured ~20% faster than the (order, part) self-join at sf0.1 because
    the fact table is scanned and shuffled once, not twice). The single
    implementation is shared by the triangle, k-core, link-prediction and
    association-rule queries — the slice arithmetic lives here once. ``support_col`` keeps the distinct-order support
    count in the output (association-rules callers)."""
    parts = baskets if baskets is not None else _order_baskets(li)
    pairs = parts.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x AS src, y AS dst))))"
            )
        ).alias("p")
    ).select("p.src", "p.dst")
    out = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias(support_col or "_sup"))
        .filter(F.col(support_col or "_sup") >= min_support)
    )
    return out if support_col else out.drop("_sup")


@query(
    "common_neighbors_linkpred",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
               AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT s AS u, t AS v FROM e UNION ALL SELECT t, s FROM e),
    cand AS (
      SELECT a.v AS v1, b.v AS v2, count(*) AS n_common
      FROM sym a JOIN sym b ON b.u = a.u AND a.v < b.v
      GROUP BY 1, 2
    )
    SELECT v1, v2, n_common FROM cand c
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.s = c.v1 AND e.t = c.v2)
    ORDER BY n_common DESC, v1, v2
    LIMIT 15
    """,
    survey_ref="§2 extension: common-neighbor link prediction "
    "(Liben-Nowell & Kleinberg) over the part co-purchase graph",
)
def common_neighbors_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 15 not-yet-linked part pairs most likely to co-occur next, by
    common-neighbor count over the same support-≥2 co-purchase graph as
    triangle_count_parts (recommendation candidate generation / graph
    densification signal). Counting is all-integer with a (v1, v2)
    tiebreak, so the top-k cut is deterministic across engines.
    Operator: operators/graph.py::common_neighbors_topk."""
    li = load_table(spark, sf_dir, "lineitem")
    return G.common_neighbors_topk(_copurchase_edges(li), k=15).select(
        F.col("v1"), F.col("v2"), F.col("n_common")
    )


# --- sequential pattern mining: event-type trigrams --------------------------


@query(
    "event_type_trigrams",
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
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 20
    """,
    survey_ref="§2 extension: sequential pattern mining — per-user ordered "
    "event-type trigrams, top-20 by support (the 3-step generalization of "
    "markov_transitions' bigrams; one user-keyed window + one hash agg)",
)
def event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step behavior sequences: lead()×2 over the
    user-keyed exact event order (micros, event_id tiebreak), then one
    map-side-combined count. One shuffle on user_id (the window) + the
    agg; top-20 is TakeOrdered. 100 TB shape: both passes are user-local
    until the final 5³-key count."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


# --- RFM customer segmentation -----------------------------------------------


@query(
    "rfm_segmentation",
    oracle="""
    WITH bound AS (SELECT max(epoch_us(o_orderdate)) AS end_us FROM orders),
    per AS (
      SELECT o_custkey,
             CAST((min(end_us - epoch_us(o_orderdate))) // 86400000000
                  AS BIGINT) AS recency_d,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM orders, bound GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_d, freq, monetary_c,
             CAST(ntile(5) OVER (ORDER BY recency_d, o_custkey) AS BIGINT)
               AS r_q,
             CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT)
               AS f_q,
             CAST(ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey)
                  AS BIGINT) AS m_q
      FROM per
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_c) AS BIGINT) AS total_monetary_c,
           CAST(sum(freq) AS BIGINT) AS total_orders
    FROM scored GROUP BY r_q, f_q, m_q
    """,
    survey_ref="§2.10 analytics extension: RFM (recency/frequency/"
    "monetary) customer segmentation — the classic marketing cube as "
    "exact integers: recency in whole days, monetary in cents, quintiles "
    "via ntile with full (metric, key) tiebreaks so bucket boundaries "
    "replay bit-identically",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One customer agg (exact integer R/F/M) → three quintile assignments
    → segment-cell rollup. The quintiles are the scale-safe bucketed-ntile
    build (operators/scale_windows.py — the swap the r5 verdict asked for,
    previously only documented): recency and frequency partition on the
    value itself (small support), monetary on a $10k range bucket; each
    assignment is per-value/bucket counts + one cumulative window over the
    bucket SUPPORT + a bucket-partitioned row_number — no |customers|-sized
    single-partition sort anywhere. The oracle keeps native ntile with the
    same (metric, custkey) total order, so hash equality proves the swap
    exact."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        # parquet reads the date column as TIMESTAMP_NTZ; the session is
        # pinned UTC so the cast is an identity relabel, never a shift
        "od_us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    )
    bound = orders.agg(F.max("od_us").alias("end_us"))
    per = orders.crossJoin(F.broadcast(bound)).groupBy("o_custkey").agg(
        F.expr("min(end_us - od_us) div 86400000000")
        .cast("long")
        .alias("recency_d"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_c"),
    )
    # bucketed_ntile references its input from three branches (per-row
    # window, bucket support, total count), so CHAINING the three calls
    # re-evaluates the customer agg 3^3 times (measured 2.2 s at sf0.1 vs
    # 1.2 s for this form): checkpoint `per` once, build the three tile
    # columns independently from it, join them back on the customer key.
    per = checkpoint(per)
    scored = per
    for bucket, order, desc, out in [
        (F.col("recency_d"), [F.col("o_custkey")], False, "r_q"),
        (F.col("freq"), [F.col("freq").desc(), F.col("o_custkey")], True, "f_q"),
        (
            (F.col("monetary_c") / 1000000).cast("long"),
            [F.col("monetary_c").desc(), F.col("o_custkey")],
            True,
            "m_q",
        ),
    ]:
        tile = bucketed_ntile(per, bucket, order, 5, descending=desc, out=out)
        scored = scored.join(tile.select("o_custkey", out), "o_custkey")
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_c").cast("long").alias("total_monetary_c"),
        F.sum("freq").cast("long").alias("total_orders"),
    )


# --- itemset support histogram (a-priori census) --------------------------------


@query(
    "itemset_support_histogram",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS sup
      FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
                         AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2
    ),
    triples AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, c.l_partkey AS z,
             count(*) AS sup
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
      JOIN op c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
      GROUP BY 1, 2, 3
    ),
    u AS (
      SELECT 2 AS sz, sup FROM pairs
      UNION ALL
      SELECT 3 AS sz, sup FROM triples
    )
    SELECT CAST(sz AS BIGINT) AS itemset_size, CAST(sup AS BIGINT) AS support,
           CAST(count(*) AS BIGINT) AS n_itemsets
    FROM u GROUP BY 1, 2
    """,
    survey_ref="§2 extension: a-priori itemset support census — how many "
    "distinct part 2- and 3-itemsets exist at each co-purchase support "
    "level (the candidate-explosion sizing step BEFORE running "
    "association_rules; shows support-≥2 triples vanish as cardinality "
    "grows, the same thinning kcore_parts documents)",
)
def itemset_support_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support distribution of basket 2-/3-itemsets, join-free: one
    groupBy(order) → sorted distinct part array, then JVM-side HOF pair
    AND triple explosions of the SAME basket array (the
    _copurchase_edges kernel one combinatorial level deeper — the
    basket scan and shuffle happen once, not three times as in the
    oracle's self-join form). Baskets are small (≤7 parts ⇒ ≤35
    triples), so the explosion is bounded per row; the census output is
    a handful of (size, support) cells."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = parts.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    triples = parts.select(
        F.explode(
            F.expr(
                "flatten(flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps) - i - 1), (y, j) -> transform("
                "slice(ps, i + j + 3, size(ps) - i - j - 2), "
                "z -> struct(x AS a, y AS b, z AS c))))))"
            )
        ).alias("t")
    ).select("t.a", "t.b", "t.c")
    sup2 = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .select(F.lit(2).cast("long").alias("itemset_size"), "sup")
    )
    sup3 = (
        triples.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .select(F.lit(3).cast("long").alias("itemset_size"), "sup")
    )
    return (
        sup2.unionByName(sup3)
        .groupBy("itemset_size", F.col("sup").alias("support"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_itemsets"))
    )


# --- separable 2-D box filter: grid hotspots ------------------------------------


@query(
    "grid_hotspots_topk",
    oracle="""
    WITH cells AS (
      SELECT user_id % 32 AS x, (epoch_us(ts) // 3600000000) % 168 AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    xs AS (SELECT unnest(range(0, 32)) AS x),
    ys AS (SELECT unnest(range(0, 168)) AS y),
    grid AS (
      SELECT xs.x, ys.y, coalesce(cl.c, 0) AS c
      FROM xs CROSS JOIN ys
      LEFT JOIN cells cl ON cl.x = xs.x AND cl.y = ys.y
    ),
    px AS (
      SELECT x, y, c,
             CAST(sum(c) OVER (PARTITION BY y ORDER BY x
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS sx
      FROM grid
    ),
    box AS (
      SELECT x, y, c,
             CAST(sum(sx) OVER (PARTITION BY x ORDER BY y
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT)
               AS box_sum
      FROM px
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, c, box_sum
    FROM box ORDER BY box_sum DESC, x, y LIMIT 20
    """,
    survey_ref="§2.7 extension: separable 2-D box filter — 3×3 "
    "neighborhood sums over the (user-bucket × hour-of-week) activity "
    "grid computed as TWO cascaded 1-D RANGE-frame windows (row pass "
    "then column pass), the classic separable-kernel decomposition; "
    "borders clip (zero padding), grid densified from two Range dims "
    "so sparse cells contribute exact zeros",
)
def grid_hotspots_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 activity hotspots: 9-cell neighborhood sums via the
    separable trick — O(2·cells) window work instead of a 9-way
    self-join, and each pass is one exchange (partition by the OTHER
    axis). The 32×168 grid is a query constant (two crossed Ranges),
    so the dense build never scales with the fact table; only the
    first cell-count agg touches events."""
    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        (F.col("user_id") % 32).alias("x"),
        F.expr("(unix_micros(ts) div 3600000000) % 168").alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    xs = spark.range(0, 32).select(F.col("id").alias("x"))
    ys = spark.range(0, 168).select(F.col("id").alias("y"))
    grid = (
        xs.crossJoin(ys)
        .join(cells, ["x", "y"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("long")))
    )
    w_row = Window.partitionBy("y").orderBy("x").rangeBetween(-1, 1)
    w_col = Window.partitionBy("x").orderBy("y").rangeBetween(-1, 1)
    box = grid.withColumn("sx", F.sum("c").over(w_row)).withColumn(
        "box_sum", F.sum("sx").over(w_col).cast("long")
    )
    return (
        box.select("x", "y", "c", "box_sum")
        .orderBy(F.col("box_sum").desc(), "x", "y")
        .limit(20)
    )


# --- gap-constrained sequential patterns ------------------------------------------


@query(
    "gap_constrained_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3,
             lead(epoch_us(ts), 1) OVER w AS us2,
             lead(epoch_us(ts), 2) OVER w AS us3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE t3 IS NOT NULL
      AND us2 - us <= 3600000000 AND us3 - us2 <= 3600000000
    GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20
    """,
    survey_ref="§2 extension: GAP-CONSTRAINED sequential patterns (cSPADE-"
    "style maxgap) — event-type trigrams whose consecutive steps are "
    "≤ 1 h apart, top-20 by support; the temporal-constraint variant of "
    "event_type_trigrams (unconstrained counts conflate a 3-step flow "
    "with three visits a week apart)",
)
def gap_constrained_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral 3-step flows that actually happen as flows: the same
    one user-keyed window as the unconstrained trigram query, plus two
    lead(us) columns and an integer-micros gap predicate — the maxgap
    constraint costs zero extra shuffles."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type",
        "us",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
        F.lead("us", 1).over(w).alias("us2"),
        F.lead("us", 2).over(w).alias("us3"),
    )
    return (
        seq.where(
            F.col("t3").isNotNull()
            & (F.col("us2") - F.col("us") <= 3600000000)
            & (F.col("us3") - F.col("us2") <= 3600000000)
        )
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


# --- sparse COO matrix multiplication --------------------------------------------------


@query(
    "coo_matmul_expected_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS t2
      FROM events
    ),
    trans AS (
      SELECT t1, t2, CAST(count(*) AS BIGINT) AS tc
      FROM seq WHERE t2 IS NOT NULL GROUP BY 1, 2
    ),
    um AS (
      SELECT user_id, event_type AS t1, CAST(count(*) AS BIGINT) AS uc
      FROM events GROUP BY 1, 2
    ),
    prod AS (
      SELECT um.user_id, trans.t2,
             CAST(sum(um.uc * trans.tc) AS BIGINT) AS expected_mass
      FROM um JOIN trans ON trans.t1 = um.t1
      GROUP BY 1, 2
    )
    SELECT t2 AS next_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(expected_mass) AS BIGINT) AS total_mass,
           CAST(max(expected_mass) AS BIGINT) AS max_user_mass
    FROM prod GROUP BY 1
    """,
    survey_ref="§2.3/§2.4 extension: sparse COO matrix multiplication — "
    "the (user × type) count matrix times the (type × type) transition-"
    "count matrix as the canonical join-on-inner-dimension + group-agg "
    "plan (C = A·B with A, B, C all in coordinate form); every mass is "
    "an exact integer because both factors stay counts",
)
def coo_matmul_expected_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sparse matmul in its native Spark form: join A's
    columns to B's rows on the inner dimension, multiply, sum per (i,
    j). The inner dimension here is the 5-type vocabulary so B is
    broadcast-sized by construction; at 100 TB any COO matmul with a
    bounded inner dimension keeps this exact plan (A never shuffles —
    output rolls up per i-partition)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    trans = seq.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    um = ev.groupBy("user_id", F.col("event_type").alias("t1")).agg(
        F.count(F.lit(1)).cast("long").alias("uc")
    )
    prod = (
        um.join(trans, "t1")
        .groupBy("user_id", "t2")
        .agg(F.sum(F.col("uc") * F.col("tc")).cast("long").alias("expected_mass"))
    )
    return prod.groupBy(F.col("t2").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("expected_mass").cast("long").alias("total_mass"),
        F.max("expected_mass").cast("long").alias("max_user_mass"),
    )


# --- group-median imputation audit -------------------------------------------------------
# The synthetic events have no nulls, so both engines null out every 20th
# value (event_id % 20 = 0) and impute with the per-type exact rank median
# of the REMAINING values — the standard data-prep op, made auditable.


@query(
    "median_impute_audit",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CASE WHEN event_id % 20 = 0 THEN NULL
                  ELSE CAST(floor(value * 1000000) AS BIGINT) END AS v6
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v6, event_id) AS rk,
             count(v6) OVER (PARTITION BY event_type) AS n
      FROM v WHERE v6 IS NOT NULL
    ),
    med AS (
      SELECT event_type, CAST(max(CASE WHEN rk = (n + 1) // 2 THEN v6 END)
                              AS BIGINT) AS median_v6
      FROM ranked GROUP BY 1
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v.v6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           m.median_v6,
           CAST(sum(coalesce(v.v6, m.median_v6)) AS BIGINT)
             AS sum_after_impute
    FROM v JOIN med m ON m.event_type = v.event_type
    GROUP BY 1, 4
    """,
    survey_ref="§2.2/§2.4 extension: group-median imputation (P11's null "
    "fill lifted from constants to a per-group EXACT rank median of the "
    "non-null values, lower median, fully tiebroken); the audit emits "
    "null counts and the post-impute checksum so the fill is verifiable",
)
def median_impute_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill nulls with the group median, exactly: rank median over
    non-nulls (one type-keyed window), broadcast back by the 5-key dim
    join, coalesce, checksum. The fixture nulls every 20th value so the
    op is non-vacuous in both engines."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 20 == 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("value") * 1000000).cast("long"))
        .alias("v6"),
    )
    nn = v.where(F.col("v6").isNotNull())
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = nn.select(
        "event_type",
        "v6",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("v6")))
        .cast("long")
        .alias("median_v6")
    )
    return (
        v.join(med, "event_type")
        .groupBy("event_type", "median_v6")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("v6").isNull().cast("long")).cast("long").alias("n_imputed"),
            F.sum(F.coalesce(F.col("v6"), F.col("median_v6")))
            .cast("long")
            .alias("sum_after_impute"),
        )
        .select(
            "event_type", "n_rows", "n_imputed", "median_v6", "sum_after_impute"
        )
    )


# --- min-max scaling audit -----------------------------------------------------------------


@query(
    "minmax_scale_audit",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    b AS (
      SELECT event_type, CAST(min(v6) AS BIGINT) AS lo,
             CAST(max(v6) AS BIGINT) AS hi
      FROM v GROUP BY 1
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n,
           b.lo AS min_v6, b.hi AS max_v6,
           CAST(sum((v.v6 - b.lo) * 10000 // (b.hi - b.lo)) AS BIGINT)
             AS sum_scaled_e4
    FROM v JOIN b ON b.event_type = v.event_type
    GROUP BY 1, 3, 4
    """,
    survey_ref="§2.7/§2.10 extension: min-max feature scaling audit — "
    "per-group (v−min)·1e4 div (max−min) floor-scaled to exact integers "
    "(numerator nonnegative, so div == floor in both engines); the "
    "normalization layer of every feature pipeline, checksummed",
)
def minmax_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling without float drift: group bounds from one agg,
    broadcast back by the 5-key dim join, the scaled value an exact
    integer quotient. The checksum (sum of scaled values) is what a
    regression test pins after any refactor of the scaling layer."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.floor(F.col("value") * 1000000).cast("long").alias("v6")
    )
    b = v.groupBy("event_type").agg(
        F.min("v6").cast("long").alias("lo"), F.max("v6").cast("long").alias("hi")
    )
    return (
        v.join(b, "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("(v6 - lo) * 10000 div (hi - lo)"))
            .cast("long")
            .alias("sum_scaled_e4"),
        )
        .select(
            "event_type",
            "n",
            F.col("lo").alias("min_v6"),
            F.col("hi").alias("max_v6"),
            "sum_scaled_e4",
        )
    )


# --- Apriori 3-itemsets ---------------------------------------------------------


@query(
    "apriori_triples",
    oracle="""
    WITH op AS (
      SELECT DISTINCT
             o.o_custkey * 100 + (epoch_us(o.o_orderdate) // 86400000000)
               // 730 AS bk,
             l.l_partkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    tri AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2, c.l_partkey AS p3,
             CAST(count(*) AS BIGINT) AS c_abc
      FROM op a
      JOIN op b ON b.bk = a.bk AND a.l_partkey < b.l_partkey
      JOIN op c ON c.bk = a.bk AND b.l_partkey < c.l_partkey
      GROUP BY 1, 2, 3 HAVING count(*) >= 2
    ),
    pair AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t, CAST(count(*) AS BIGINT) AS c
      FROM op a JOIN op b ON b.bk = a.bk AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT t.p1, t.p2, t.p3, t.c_abc,
           ab.c AS c_ab, ac.c AS c_ac, bc.c AS c_bc,
           CAST((t.c_abc * 20000 + ab.c) // (2 * ab.c) AS BIGINT)
             AS conf_ab_c_e4
    FROM tri t
    JOIN pair ab ON ab.s = t.p1 AND ab.t = t.p2
    JOIN pair ac ON ac.s = t.p1 AND ac.t = t.p3
    JOIN pair bc ON bc.s = t.p2 AND bc.t = t.p3
    ORDER BY t.c_abc DESC, t.p1, t.p2, t.p3
    LIMIT 25
    """,
    survey_ref="§2 extension: frequent 3-itemsets (Apriori level 3, "
    "Agrawal & Srikant VLDB'94) over (customer, 2-year) baskets — top-25 "
    "triples with support ≥ 2 plus their three sub-pair supports and the "
    "ab→c confidence as an exact e4 ratio; extends the pairwise "
    "association_rules mining one lattice level up",
)
def apriori_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part triples over (customer, 2-year-window) baskets —
    the grain choice is load-bearing twice: the order grain is too
    sparse (random 4-item orders over an sf-scaled part universe produce
    ZERO support-2 triples at sf0.1, the vacuous-gate trap) and the
    lifetime-customer grain too dense (B≈40-part baskets explode to
    ~10k triples each — measured 32 s at the gate scale); the windowed
    basket keeps B bounded by per-window order volume (~10 parts) at
    every sf. bk = custkey·100 + epoch-day div 730 is collision-free
    (the day bucket is < 100 for any realistic calendar).

    Shape: one (basket, part) membership frame (checkpointed — it feeds
    the pair-stage baskets and the three triple-join legs) → pairs via
    the single-level HOF explosion (the _copurchase_edges kernel, its
    measured-fastest depth) → wedges via one codegen'd basket-key
    equi-join → THE Apriori candidate prune (semi-join the wedge stream
    against frequent pairs — exact by downward closure: an infrequent
    (p1, p2) cannot extend to a frequent triple, and every wedge of a
    frequent pair survives, so counts are untouched; measured 16.9 s →
    6.6 s warm at sf0.1, wedge stream ~2.9M → ~45k) → the second
    basket-key join → hash count → support filter → three equi-joins
    back to the pair supports for the rule confidences → deterministic
    top-25 (c_abc DESC, triple). The ORACLE counts triples over the
    UNPRUNED self-joins, so the gate's hash equality PROVES the prune
    drops nothing. Confidence is the exact e4 integer ratio."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr(
            "o_custkey * 100 + (unix_micros(CAST(o_orderdate AS TIMESTAMP))"
            " div 86400000000) div 730"
        ).alias("bk"),
    )
    # (basket, part) membership feeds the pair stage AND the pruned
    # triple rebuild — materialize the join once
    op = (
        li.select("l_orderkey", "l_partkey")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select("bk", "l_partkey")
        .distinct()
        .transform(checkpoint)
    )
    parts = op.groupBy("bk").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("ps")
    )
    pair = (
        parts.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> transform("
                    "slice(ps, i + 2, size(ps) - i - 1), "
                    "y -> struct(x AS s, y AS t))))"
                )
            ).alias("p")
        )
        .select("p.s", "p.t")
        .groupBy("s", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # feeds the Apriori prune + three confidence joins — materialize
        .transform(checkpoint)
    )
    # Triple counting via two codegen'd equi-joins on the basket key, NOT
    # the nested HOF (measured at sf0.1: join 6.7-7.2 s vs nested HOF
    # 8-11 s — depth-3 interpreted lambdas building structs lose to
    # whole-stage-codegen joins, the opposite of the PAIR stage where the
    # single-level HOF wins ~20%; both measured, both kept at their
    # winning depth). Between the two joins sits the REAL Apriori
    # candidate prune, at the PAIR level: a wedge whose (p1, p2) is not
    # frequent cannot extend to a frequent triple (downward closure), and
    # every wedge of a frequent pair IS kept, so triple counts are exact.
    # Measured at sf0.1: the semi-join cuts the wedge stream ~2.9M → ~45k
    # instances and the candidate agg 8.6M → ~0.5M groups — 16.9 s → 6.6 s
    # warm, byte-identical output (the PART-level variant of this prune
    # measured useless — frequent-pair parts cover the whole catalog —
    # and was discarded; pruning must bite at the pair grain).
    a = op.select("bk", F.col("l_partkey").alias("p1"))
    b2 = op.select(F.col("bk").alias("_bk2"), F.col("l_partkey").alias("p2"))
    c3 = op.select(F.col("bk").alias("_bk3"), F.col("l_partkey").alias("p3"))
    fp2 = pair.where(F.col("c") >= 2).select(
        F.col("s").alias("p1"), F.col("t").alias("p2")
    )
    tri = (
        a.join(b2, (F.col("bk") == F.col("_bk2")) & (F.col("p1") < F.col("p2")))
        .join(fp2, ["p1", "p2"], "left_semi")
        .join(c3, (F.col("bk") == F.col("_bk3")) & (F.col("p2") < F.col("p3")))
        .groupBy("p1", "p2", "p3")
        .agg(F.count(F.lit(1)).cast("long").alias("c_abc"))
        .where(F.col("c_abc") >= 2)
    )
    ab = pair.select(
        F.col("s").alias("p1"), F.col("t").alias("p2"), F.col("c").alias("c_ab")
    )
    ac = pair.select(
        F.col("s").alias("_a1"), F.col("t").alias("_a3"), F.col("c").alias("c_ac")
    )
    bc = pair.select(
        F.col("s").alias("_b2"), F.col("t").alias("_b3"), F.col("c").alias("c_bc")
    )
    out = (
        tri.join(ab, ["p1", "p2"])
        .join(ac, (F.col("_a1") == F.col("p1")) & (F.col("_a3") == F.col("p3")))
        .drop("_a1", "_a3")
        .join(bc, (F.col("_b2") == F.col("p2")) & (F.col("_b3") == F.col("p3")))
        .drop("_b2", "_b3")
    )
    return (
        out.select(
            "p1",
            "p2",
            "p3",
            "c_abc",
            "c_ab",
            "c_ac",
            "c_bc",
            ratio_e4("c_abc", "c_ab").alias("conf_ab_c_e4"),
        )
        .orderBy(F.col("c_abc").desc(), "p1", "p2", "p3")
        .limit(25)
    )
