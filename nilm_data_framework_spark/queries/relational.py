"""Relational queries over the star-schema tables: multi-way joins, grouped
aggregation, set ops, semi/anti joins, rollup, top-k — the engine-extension
rows of SURVEY.md §2.3/§2.4/§2.6 (built-in in Spark, absent in the reference)
plus the headline bench queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


# --- pricing summary (TPC-H Q1 shape; partial-agg heavy scan) --------------------

@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey_ref="§2.4 extension: partial+final agg (Catalyst automatic)",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- shipping priority (Q3 shape: 3-way join + top-k) ------------------------------

@query(
    "shipping_priority",
    oracle="""
    SELECT l.l_orderkey AS orderkey,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           o.o_orderdate AS orderdate, o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY ALL
    ORDER BY revenue DESC, orderkey LIMIT 10
    """,
    survey_ref="§2.3 extension: multi-way equi-join + §2.5 W3 top-k",
)
def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    # No forced broadcast on `customer`: it grows with scale factor (sf100 ≈
    # 15M rows), so a hard hint would bypass AQE's size threshold and OOM at
    # scale. AQE converts to broadcast at runtime when the filtered side is
    # genuinely small (session.py enables adaptive + dynamic join selection).
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
    )
    aggd = joined.groupBy(
        F.col("l_orderkey").alias("orderkey"),
        F.col("o_orderdate").alias("orderdate"),
        F.col("o_orderpriority").alias("orderpriority"),
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )
    return aggd.orderBy(F.col("revenue").desc(), "orderkey").limit(10).select(
        "orderkey", "revenue", "orderdate", "orderpriority"
    )


# --- local supplier volume (Q5 shape: 6-way join) ------------------------------------

@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
    survey_ref="§2.3 extension: star join w/ broadcast dims",
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c, o, l, s, n, r = load_table(spark, sf_dir, "customer"), load_table(
        spark, sf_dir, "orders"
    ), load_table(spark, sf_dir, "lineitem"), load_table(
        spark, sf_dir, "supplier"
    ), load_table(spark, sf_dir, "nation"), load_table(spark, sf_dir, "region")
    asia = r.filter(F.col("r_name") == "ASIA")
    # nation/region are genuinely fixed-size (25 / 5 rows at every sf) →
    # broadcast hints are safe and stay. The supplier-derived `dims` relation
    # grows with sf, so it gets NO hint — AQE decides broadcast vs shuffle at
    # runtime from the observed post-filter size.
    dims = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(asia), n["n_regionkey"] == asia["r_regionkey"])
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            dims,
            (l["l_suppkey"] == dims["s_suppkey"]) & (c["c_nationkey"] == dims["s_nationkey"]),
        )
    )
    return joined.groupBy(F.col("n_name").alias("nation")).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


# --- forecast revenue (Q6 shape: pure pushdown filter + scalar agg) --------------------

@query(
    "forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    survey_ref="§2.2 extension: predicate pushdown showcase (SURVEY §4)",
)
def forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1995-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n"),
        )
    )


# --- large-volume customers (Q18 shape: agg-filtered semi join) -------------------------

@query(
    "large_volume_orders",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name AS cust_name, o.o_orderkey AS orderkey,
           o.o_totalprice AS totalprice, round(b.total_qty, 2) AS total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    survey_ref="§2.4 extension: HAVING-filtered aggregation feeding a join",
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    # `customer` is sf-scaled — no forced broadcast (see shipping_priority);
    # AQE picks the join strategy from runtime sizes.
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_name").alias("cust_name"),
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_totalprice").alias("totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
    )


# --- correlated-subquery shapes (EXISTS / NOT EXISTS / scalar) ------------------------
# TPC-H Q4/Q17/Q22 shapes adapted to this schema. The point of the family:
# Catalyst DECORRELATES these — EXISTS becomes a left-semi hash join, NOT
# EXISTS a left-anti join, the correlated scalar aggregate a grouped
# aggregation joined back on the correlation key — so the physical plans are
# the same shuffle-bounded joins as the hand-written forms, with no
# per-row subquery execution anywhere (the reference engine has no subquery
# surface at all; pandas would evaluate these as Python loops).


@query(
    "late_shipment_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
    """,
    survey_ref="§2.3 extension: EXISTS correlated subquery (Q4 shape → left-semi join)",
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    # EXISTS == left_semi: each order survives if ANY lineitem shipped > 90
    # days after the order date. One hash shuffle on the orderkey; the
    # non-equi part of the predicate is evaluated inside the join.
    late = o.join(
        l,
        (o["o_orderkey"] == l["l_orderkey"])
        & (l["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


_SMALL_QTY_SQL = """
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#23'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity)
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@query(
    "small_quantity_revenue",
    oracle=_SMALL_QTY_SQL,
    survey_ref="§2.3 extension: correlated scalar subquery (Q17 shape; Catalyst decorrelation)",
)
def small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same SQL text runs on both engines (like sql_api_revenue). Catalyst
    # rewrites the correlated scalar aggregate into a grouped agg over
    # lineitem joined back on l_partkey — check .explain(): no per-row
    # subquery node survives optimization.
    from nilm_data_framework_spark.sources.testdata import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SMALL_QTY_SQL)


@query(
    "lapsed_rich_customers",
    oracle="""
    SELECT c_mktsegment AS segment, count(*) AS n_cust,
           round(sum(c_acctbal), 2) AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c_mktsegment
    """,
    survey_ref="§2.3 extension: NOT EXISTS + uncorrelated scalar (Q22 shape → anti join)",
)
def lapsed_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    # The scalar is ONE row — broadcasting it is scale-safe at any sf
    # (unlike the sf-scaled dims this file deliberately leaves to AQE).
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("_ab"))
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    lapsed = (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_ab"))
        .join(recent, c["c_custkey"] == recent["o_custkey"], "left_anti")
    )
    return lapsed.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


# --- rollup (grouping sets extension) ------------------------------------------------

@query(
    "rollup_returns",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    survey_ref="§2.4 extension: grouping sets / rollup (absent in reference)",
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("sum_price")
    )


# --- set operations (U1-U4 + intersect/except extensions) -----------------------------

@query(
    "set_intersect_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    survey_ref="§2.6 U2 + intersect extension",
)
def set_intersect_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "error").select("user_id")
    return a.intersect(b)


@query(
    "set_except_users",
    oracle="""
    SELECT user_id, date_trunc('day', ts) AS day FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id, date_trunc('day', ts) FROM events WHERE event_type = 'purchase'
    """,
    survey_ref="§2.6 except extension",
)
def set_except_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    # (user_id, day) grain: plain user_id EXCEPT is empty at every sf (all
    # viewers purchase eventually), which would hash-match vacuously.
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
    )
    return a.subtract(b)


@query(
    "union_label_sets",
    oracle="""
    SELECT DISTINCT label FROM (
      SELECT event_type AS label FROM events
      UNION ALL
      SELECT lower(o_orderpriority) AS label FROM orders
    )
    """,
    survey_ref="§2.6 U1/U2 (train_bert_single.py:62-63, ConvertToTensor.py:36-42)",
)
def union_label_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(F.col("event_type").alias("label"))
    op = load_table(spark, sf_dir, "orders").select(
        F.lower("o_orderpriority").alias("label")
    )
    return ev.unionByName(op).distinct()


# --- semi / anti joins -----------------------------------------------------------------

@query(
    "semi_anti_customers",
    oracle="""
    SELECT 'with_orders' AS bucket, count(*) AS n FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    UNION ALL
    SELECT 'without_orders' AS bucket, count(*) AS n FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    survey_ref="§2.3 extension: left_semi / left_anti (absent in reference)",
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("with_orders").alias("bucket"), "n")
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_orders").alias("bucket"), "n")
    return semi.unionByName(anti)


# --- U3 subset containment + J5 best pick ------------------------------------------------

@query(
    "label_subset_users",
    oracle="""
    SELECT user_id FROM events
    GROUP BY user_id
    HAVING count(DISTINCT CASE WHEN event_type IN ('click','purchase','view')
                               THEN event_type END) = 3
    """,
    survey_ref="§2.6 U3 (channel_utils.py:45)",
)
def label_subset_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    required = ["click", "purchase", "view"]
    req = F.array(*[F.lit(x) for x in required])
    return (
        ev.groupBy("user_id")
        .agg(F.collect_set("event_type").alias("have"))
        .filter(F.size(F.array_except(req, F.col("have"))) == 0)
        .select("user_id")
    )


@query(
    "common_channel_best_pick",
    oracle="""
    WITH chan AS (
      SELECT user_id, event_type,
             event_type || '_' || CAST(event_id % 2 AS VARCHAR) AS channel_id,
             value
      FROM events WHERE event_type IN ('click','purchase','view')
    ),
    stats AS (
      SELECT user_id, event_type, channel_id,
             var_samp(value) AS var_value, count(*) AS n
      FROM chan GROUP BY ALL
    ),
    covered AS (
      SELECT user_id FROM stats
      GROUP BY user_id HAVING count(DISTINCT event_type) = 3
    ),
    ranked AS (
      SELECT s.*, row_number() OVER (PARTITION BY s.user_id, s.event_type
                                     ORDER BY s.var_value DESC NULLS LAST, s.n DESC,
                                              s.channel_id) AS rk
      FROM stats s JOIN covered c ON s.user_id = c.user_id
    )
    SELECT user_id, event_type, channel_id, n
    FROM ranked WHERE rk = 1
    """,
    survey_ref="§2.3 J5 (channel_utils.py:7-81)",
)
def common_channel_best_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nilm_data_framework_spark.operators.aggregates import channel_stats
    from nilm_data_framework_spark.operators.joins import common_channel_best_pick as j5

    required = ["click", "purchase", "view"]
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin(required))
        .withColumn(
            "channel_id",
            F.concat("event_type", F.lit("_"), (F.col("event_id") % 2).cast("string")),
        )
    )
    stats = channel_stats(ev, ["user_id", "event_type", "channel_id"], value="value")
    picked = j5(stats, group=["user_id"], label="event_type", required_labels=required)
    return picked.select("user_id", "event_type", "channel_id", "n")


# --- range join (engine extension: interval containment) ----------------------------

_CAMPAIGNS = [
    (1, "2024-01-01 00:00:00", "2024-01-08 00:00:00"),
    (2, "2024-01-08 00:00:00", "2024-01-15 00:00:00"),
    (3, "2024-01-15 00:00:00", "2024-01-22 00:00:00"),
    (4, "2024-01-22 00:00:00", "2024-01-29 00:00:00"),
]


@query(
    "range_join_campaigns",
    oracle="""
    WITH campaigns(campaign_id, start_ts, end_ts) AS (
      VALUES (1, TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
             (2, TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15'),
             (3, TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22'),
             (4, TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29')
    )
    SELECT c.campaign_id, e.event_type, count(*) AS n, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN campaigns c ON e.ts >= c.start_ts AND e.ts < c.end_ts
    GROUP BY ALL
    """,
    survey_ref="§2.3 extension: range join (interval containment; broadcast NLJ on dim side)",
)
def range_join_campaigns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nilm_data_framework_spark.operators.joins import range_join

    ev = load_table(spark, sf_dir, "events")
    campaigns = spark.createDataFrame(
        _CAMPAIGNS, "campaign_id int, start_ts string, end_ts string"
    ).select(
        "campaign_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    joined = range_join(ev, campaigns, fact_ts="ts")
    return joined.groupBy("campaign_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


# --- cube + grouping-id (engine extension beyond rollup) ----------------------------

@query(
    "cube_returns",
    oracle="""
    SELECT coalesce(l_returnflag, '(all)') AS returnflag,
           coalesce(l_linestatus, '(all)') AS linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    survey_ref="§2.4 extension: cube / grouping sets (absent in reference)",
)
def cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            # grouping() is only resolvable inside the cube's agg clause
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n",
            "sum_qty",
        )
    )


# --- ranking / analytic function family (engine extension) --------------------------

@query(
    "rank_analytics",
    oracle="""
    SELECT user_id, event_id,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           lead(event_id) OVER w AS next_event_id
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY value DESC, event_id)
    """,
    survey_ref="§2.5 extension: rank/dense_rank/ntile/lead (absent in reference)",
)
def rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


# --- pure Spark-SQL-text API (same engine, SQL surface) ------------------------------

_REVENUE_SQL = """
    SELECT n.n_name AS nation,
           count(*) AS n_items,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY n.n_name
"""


@query(
    "sql_api_revenue",
    oracle=_REVENUE_SQL,
    survey_ref="§3 SQL surface: identical query text runs via spark.sql over registered views",
)
def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the exact same SQL text is the oracle — Catalyst and DuckDB both parse
    # it over the same tables (views registered from the parquet scans).
    from nilm_data_framework_spark.sources.testdata import register_views

    register_views(spark, sf_dir)
    return spark.sql(_REVENUE_SQL)


# --- snapshot differencing (CDC generation; J-ext) ----------------------------------
# Two synthetic snapshots derived deterministically from `orders`: the "new"
# snapshot drops every 97th order (removed), bumps every 50th price
# (changed), and appends shifted-key copies of every 61st (added). Row
# content is hashed over integer-stable encodings (cents, not double
# rendering) so both engines hash identically.

_DIFF_HASH_OLD = (
    "md5(concat_ws('|', o_custkey, o_orderstatus, CAST(o_totalprice * 100 AS BIGINT)))"
)


@query(
    "snapshot_diff_orders",
    oracle=f"""
    WITH old AS (
      SELECT o_orderkey, {_DIFF_HASH_OLD} AS _h FROM orders
    ), new AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_custkey, o_orderstatus,
                 CAST((CASE WHEN o_orderkey % 50 = 0 THEN o_totalprice + 10 ELSE o_totalprice END) * 100 AS BIGINT))) AS _h
      FROM orders WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, {_DIFF_HASH_OLD} AS _h
      FROM orders WHERE o_orderkey % 61 = 0
    )
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old._h IS NULL THEN 'added'
                WHEN new._h IS NULL THEN 'removed'
                ELSE 'changed' END AS change_type
    FROM old FULL JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE old._h IS DISTINCT FROM new._h
    """,
    survey_ref="§2.3 extension: snapshot diff / CDC generation (feeds MERGE + SCD2)",
)
def snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nilm_data_framework_spark.operators.joins import snapshot_diff

    o = load_table(spark, sf_dir, "orders")
    h = F.md5(
        F.concat_ws(
            "|",
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            (F.col("o_totalprice") * 100).cast("long"),
        )
    )
    old = o.select("o_orderkey", h.alias("_h"))
    bumped = F.md5(
        F.concat_ws(
            "|",
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            (
                (
                    F.when(F.col("o_orderkey") % 50 == 0, F.col("o_totalprice") + 10)
                    .otherwise(F.col("o_totalprice"))
                )
                * 100
            ).cast("long"),
        )
    )
    new = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select("o_orderkey", bumped.alias("_h"))
        .unionByName(
            o.filter(F.col("o_orderkey") % 61 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"), h.alias("_h")
            )
        )
    )
    return snapshot_diff(old, new, keys=["o_orderkey"])


@query(
    "range_join_campaigns_bucketed",
    oracle="""
    WITH campaigns(campaign_id, start_ts, end_ts) AS (
      VALUES (1, TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-08'),
             (2, TIMESTAMP '2024-01-08', TIMESTAMP '2024-01-15'),
             (3, TIMESTAMP '2024-01-15', TIMESTAMP '2024-01-22'),
             (4, TIMESTAMP '2024-01-22', TIMESTAMP '2024-01-29')
    )
    SELECT c.campaign_id, e.event_type, count(*) AS n, round(sum(e.value), 2) AS sum_value
    FROM events e JOIN campaigns c ON e.ts >= c.start_ts AND e.ts < c.end_ts
    GROUP BY ALL
    """,
    survey_ref="§2.3 extension: range join scale path (grid-cell equi-join; same oracle as the broadcast form)",
)
def range_join_campaigns_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as `range_join_campaigns`, different physical strategy:
    grid-bucketed equi-join (shuffle-partitionable, fact-fact capable)
    instead of broadcast NLJ — both verified against the identical oracle,
    which is exactly the two-implementations-one-contract pattern the
    operator docstrings promise."""
    from nilm_data_framework_spark.operators.joins import range_join_bucketed

    ev = load_table(spark, sf_dir, "events")
    campaigns = spark.createDataFrame(
        _CAMPAIGNS, "campaign_id int, start_ts string, end_ts string"
    ).select(
        "campaign_id",
        F.col("start_ts").cast("timestamp").alias("start_ts"),
        F.col("end_ts").cast("timestamp").alias("end_ts"),
    )
    joined = range_join_bucketed(ev, campaigns, fact_ts="ts")
    return joined.groupBy("campaign_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


# --- fuzzy string matching (entity resolution; §2.10-adjacent dedup family) ---------
# The synthetic part names contain no near-miss variants (distinct names
# differ by >2 edits), so both engines union in typo'd copies of every 20th
# part (4th char → 'x') — the _DUPED pattern from the document dedup family.


@query(
    "fuzzy_part_names",
    oracle="""
    WITH base AS (
      SELECT p_name FROM part
      UNION ALL
      SELECT concat(substr(p_name, 1, 3), 'x', substr(p_name, 5))
      FROM part WHERE p_partkey % 20 = 0
    ),
    n AS (SELECT DISTINCT p_name AS nm FROM base),
    b AS (
      SELECT nm,
             concat(CAST(floor(length(nm) / 2) AS INT), '_', substr(nm, 1, 2)) AS blk
      FROM n
    )
    SELECT a.nm AS nm_a, b2.nm AS nm_b, levenshtein(a.nm, b2.nm) AS dist
    FROM b a JOIN b b2 ON a.blk = b2.blk AND a.nm < b2.nm
    WHERE levenshtein(a.nm, b2.nm) <= 2
    """,
    survey_ref="§2.10 fuzzy string matching (blocked Levenshtein; entity resolution)",
)
def fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nilm_data_framework_spark.operators.dedup import fuzzy_name_pairs

    p = load_table(spark, sf_dir, "part")
    typod = p.filter(F.col("p_partkey") % 20 == 0).select(
        F.expr("concat(substr(p_name,1,3),'x',substr(p_name,5))").alias("p_name")
    )
    base = p.select("p_name").unionByName(typod)
    out = fuzzy_name_pairs(base, "p_name")
    return out.select("nm_a", "nm_b", F.col("dist").cast("long").alias("dist"))


# --- Q2 shape: min-cost supplier per part (argmin join) ----------------------------------


@query(
    "min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                 * (100 - CAST(floor(l_discount * 100) AS BIGINT))) AS rc
      FROM lineitem GROUP BY 1, 2
    ),
    best AS (
      SELECT l_partkey, l_suppkey, rc FROM (
        SELECT l_partkey, l_suppkey, rc,
               row_number() OVER (PARTITION BY l_partkey
                                  ORDER BY rc, l_suppkey) AS rn
        FROM cost) WHERE rn = 1
    )
    SELECT b.l_partkey AS p_partkey, p.p_name, s.s_suppkey, s.s_name,
           round(CAST(b.rc AS DOUBLE) / 10000.0, 4) AS min_cost
    FROM best b
    JOIN part p ON p.p_partkey = b.l_partkey
    JOIN supplier s ON s.s_suppkey = b.l_suppkey
    """,
    survey_ref="§2.3/§2.5 extension: TPC-H Q2 shape (per-group argmin via "
    "rank window on exact integer cents, then dim enrichment joins)",
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cheapest supplier per part (TPC-H Q2's correlated-min shape,
    decorrelated): per-(part, supplier) cost reduced FIRST (exact integer
    cents so the argmin is never a float coin-flip), one rank window per
    part with a supplier-key tiebreak, then equi-joins to the part and
    supplier dims — both sf-scaled, both AQE-decided (no forced
    broadcast). Reference analog: the per-channel best-pick precedence in
    UnifiedNILM (common_channel_best_pick) — same argmin-per-key kernel,
    relational dress."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    rev_c = F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.floor(F.col("l_discount") * 100).cast("long")
    )
    cost = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(rev_c).alias("_rc"))
    w = Window.partitionBy("l_partkey").orderBy("_rc", "l_suppkey")
    best = cost.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    return (
        best.join(p, best["l_partkey"] == p["p_partkey"])
        .join(s, best["l_suppkey"] == s["s_suppkey"])
        .select(
            "p_partkey", "p_name", "s_suppkey", "s_name",
            F.round(F.col("_rc").cast("double") / 10000.0, 4).alias("min_cost"),
        )
    )


# --- Q11 shape: important stock (global-share scalar subquery) ---------------------------

_STOCK_SHARE = 0.0005


@query(
    "important_stock",
    oracle=f"""
    WITH val AS (
      SELECT l_partkey,
             sum(CAST(floor(l_extendedprice * 100) AS BIGINT)
                 * CAST(floor(l_quantity) AS BIGINT)) AS vc
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT sum(vc) AS t FROM val)
    SELECT v.l_partkey AS p_partkey,
           round(CAST(v.vc AS DOUBLE) / 100.0, 2) AS stock_value
    FROM val v CROSS JOIN tot
    WHERE CAST(v.vc AS DOUBLE) > CAST(tot.t AS DOUBLE) * {_STOCK_SHARE}
    """,
    survey_ref="§2.3/§2.4 extension: TPC-H Q11 shape (HAVING against a "
    "global-total scalar subquery — 1-row broadcast threshold)",
)
def important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose stock value exceeds a fixed fraction of the GLOBAL
    total (TPC-H Q11's group-vs-global-scalar shape): per-part value in
    exact integer cents, the corpus total as a 1-row aggregate broadcast
    back (scale-safe at any sf — a global agg is one row), threshold
    comparison in identical double arithmetic on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    vc = F.floor(F.col("l_extendedprice") * 100).cast("long") * F.floor(
        F.col("l_quantity")
    ).cast("long")
    val = li.groupBy("l_partkey").agg(F.sum(vc).alias("_vc"))
    tot = val.agg(F.sum("_vc").alias("_t"))
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(
            F.col("_vc").cast("double")
            > F.col("_t").cast("double") * F.lit(_STOCK_SHARE)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.round(F.col("_vc").cast("double") / 100.0, 2).alias("stock_value"),
        )
    )
