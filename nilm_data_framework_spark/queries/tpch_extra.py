"""Deep multi-way-join relational queries (TPC-H Q7/Q8/Q9/Q10/Q19/Q20/Q21
shapes, adapted to the trimmed star schema: no partsupp, no
shipmode/commitdate columns).

These widen the §2.3 join-family evidence beyond queries/relational.py:
nation-pair volume flows, global market share, profit decomposition,
returned-item top-k, disjunctive predicate pushdown, and two decorrelated
EXISTS/NOT-EXISTS shapes. Further join and set shapes: multiset
EXCEPT/INTERSECT ALL, dynamic partition pruning, histogram join-size
estimates, column statistics, interval algebra and coalescing, bitemporal
point-in-time lookups, and grid-blocked spatial radius / nearest-neighbour
joins with DBSCAN on top. Reference analog: the cross-dataset join +
best-pick reporting layer of UnifiedNILM.py (get_common_channels /
summary tables); the reference has no multi-way relational planner, so
these rows are engine extensions per SURVEY.md §2.3.

All money arithmetic is EXACT BIGINT e4 (cents x (100 - discount_e2)):
prices/discounts are 2dp-exact doubles in the test tables, so
``floor(x*100)`` is bit-identical in both engines and every sum, ratio,
and argmax below survives the driver's typed-value hash with zero float
accumulation (see operators/exact_math.py).
"""

from __future__ import annotations

import math
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.layouts import partitioned_writer
from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import dedup as D
from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4,
    ratio_e4_sql,
    ratio_scaled,
    ratio_scaled_sql,
)
from nilm_data_framework_spark.operators.runtime_filters import (
    with_runtime_bloom_filter,
)
from nilm_data_framework_spark.operators.windows import interval_coalesce
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.nilm_analysis import (
    STEADY_SEG_CTES,
    _steady_segments,
)
from nilm_data_framework_spark.sources.testdata import load_table
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir


def _rev_e4() -> F.Column:
    """Revenue in exact 1e-4-dollar units: cents * (100 - discount_e2)."""
    return F.floor(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.floor(F.col("l_discount") * 100).cast("long")
    )


# DuckDB twin of _rev_e4 (l-aliased lineitem).
_REV_E4_SQL = (
    "CAST(floor(l.l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(floor(l.l_discount * 100) AS BIGINT))"
)


# --- Q7 shape: volume shipping between a nation pair -------------------------------------

@query(
    "volume_shipping",
    oracle=f"""
    SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
      AND n1.n_name <> n2.n_name
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1, 2, 3
    """,
    survey_ref="§2.3 extension: TPC-H Q7 shape (nation-pair flow over a "
    "6-way join, broadcast dims, exact e4 revenue)",
)
def volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-border trade volume inside a 4-nation bloc by ship year
    (TPC-H Q7 shape, widened from a single pair so every SF has rows).

    Scale shape: the two nation lookups are 25-row broadcasts; the
    bloc/non-domestic filter runs after both enrichments on the already
    line-level stream, so the only shuffles are the two fact equi-joins
    (lineitem⋈orders, ⋈customer) — both AQE-planned, no forced broadcast
    on sf-scaled relations.
    """
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .filter(
            F.col("cust_nation").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
            & F.col("supp_nation").isin("NATION_1", "NATION_2", "NATION_3", "NATION_4")
            & (F.col("cust_nation") != F.col("supp_nation"))
        )
    )
    return joined.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(F.sum(_rev_e4()).alias("revenue_e4"))


# --- Q8 shape: national market share ------------------------------------------------------

@query(
    "market_share",
    oracle=f"""
    WITH base AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_REV_E4_SQL} AS rev_e4,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    ),
    yr AS (
      SELECT o_year,
             CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN rev_e4 ELSE 0 END)
                  AS BIGINT) AS nation_rev_e4,
             CAST(sum(rev_e4) AS BIGINT) AS total_rev_e4
      FROM base GROUP BY o_year
    )
    SELECT o_year, nation_rev_e4, total_rev_e4,
           {ratio_e4_sql('nation_rev_e4', 'total_rev_e4')} AS mkt_share_e4
    FROM yr
    """,
    survey_ref="§2.3/§2.4 extension: TPC-H Q8 shape (8-way join, "
    "share-of-total via exact_math.ratio_e4)",
)
def market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATION_5's share of ECONOMY-part revenue sold into ASIA by order
    year (TPC-H Q8 shape). The share is an exact e4 integer ratio of two
    exact BIGINT revenue sums — no float division anywhere, so the typed
    hash is stable by construction. Fixed-size dims (nation x2, region)
    broadcast; part/customer/supplier/orders joins AQE-planned."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).select(F.col("n_nationkey").alias("c_nk"))
    n2 = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    base = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev_e4().alias("rev_e4"),
            "supp_nation",
        )
    )
    yr = base.groupBy("o_year").agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_5", F.col("rev_e4")).otherwise(0)
        ).alias("nation_rev_e4"),
        F.sum("rev_e4").alias("total_rev_e4"),
    )
    return yr.select(
        "o_year", "nation_rev_e4", "total_rev_e4",
        ratio_e4("nation_rev_e4", "total_rev_e4").alias("mkt_share_e4"),
    )


# --- Q9 shape: product-line profit by nation and year ------------------------------------

@query(
    "product_profit",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum({_REV_E4_SQL}
                    - CAST(floor(p.p_retailprice * 100) AS BIGINT)
                      * CAST(floor(l.l_quantity) AS BIGINT) * 50) AS BIGINT)
             AS profit_e4
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
    survey_ref="§2.3/§2.4 extension: TPC-H Q9 shape (profit = revenue - "
    "cost over a 5-way join; cost proxied at 50% retail — no partsupp "
    "table in the trimmed schema)",
)
def product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit on '%gear%' parts by supplier nation and order year (TPC-H
    Q9 shape). Cost is proxied as 50% of retail price (the trimmed schema
    has no partsupp.ps_supplycost); profit_e4 = rev_e4 - retail_cents *
    qty * 50 is a SIGNED exact BIGINT — safe because it is only summed,
    never divided (signed integer division diverges across engines)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    o = load_table(spark, sf_dir, "orders")
    cost_e4 = (
        F.floor(F.col("p_retailprice") * 100).cast("long")
        * F.floor(F.col("l_quantity")).cast("long")
        * F.lit(50)
    )
    joined = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .join(s, l["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(o, l["l_orderkey"] == o["o_orderkey"])
    )
    return joined.groupBy(
        F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
    ).agg(F.sum(_rev_e4() - cost_e4).alias("profit_e4"))


# --- Q10 shape: returned-item reporting (top 20 customers) --------------------------------

@query(
    "returned_items_top",
    oracle=f"""
    SELECT c.c_custkey AS custkey, c.c_name AS c_name, n.n_name AS nation,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY revenue_e4 DESC, custkey
    LIMIT 20
    """,
    survey_ref="§2.3/§2.5 extension: TPC-H Q10 shape (returned-revenue "
    "top-k; exact-integer ordering so the top-20 cut is never a float "
    "coin-flip)",
)
def returned_items_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 20 customers by revenue lost to returns in 1996Q1 (TPC-H Q10
    shape). The ranking key is the exact BIGINT revenue (custkey
    tiebreak), so both engines cut the same top 20; Spark plans the LIMIT
    as TakeOrderedAndProject — no global sort materialization."""
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    joined = (
        l.join(o, l["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    )
    aggd = joined.groupBy(
        F.col("c_custkey").alias("custkey"),
        F.col("c_name").alias("c_name"),
        F.col("n_name").alias("nation"),
    ).agg(F.sum(_rev_e4()).alias("revenue_e4"))
    return aggd.orderBy(F.col("revenue_e4").desc(), "custkey").limit(20)


# --- Q19 shape: disjunctive-predicate revenue ---------------------------------------------

@query(
    "disjunctive_revenue",
    oracle=f"""
    SELECT CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4, count(*) AS n
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    survey_ref="§2.2/§2.3 extension: TPC-H Q19 shape (3-branch disjunctive "
    "join predicate; Catalyst extracts the common-column OR into "
    "per-side pre-filters)",
)
def disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under a 3-branch brand/size/quantity disjunction (TPC-H Q19
    shape). Written as one post-join OR filter: Catalyst's
    partial-predicate extraction derives the per-side implied filters
    (p_brand IN (...), p_size <= 15, l_quantity <= 30) and pushes them
    into the scans — `.explain` shows both PushedFilters — while the full
    disjunction is evaluated once after the equi-join."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = l.join(p, l["l_partkey"] == p["p_partkey"]).filter(
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#5")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return joined.agg(
        F.sum(_rev_e4()).alias("revenue_e4"), F.count(F.lit(1)).alias("n")
    )


# --- Q20 shape: suppliers with surplus stock of promotable parts --------------------------

@query(
    "promotion_suppliers",
    oracle="""
    WITH sp AS (
      SELECT l.l_suppkey, l.l_partkey,
             CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT) AS q
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE 'small%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 2
    ),
    pt AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS qt FROM sp GROUP BY 1)
    SELECT s.s_suppkey AS suppkey, s.s_name AS s_name,
           count(*) AS n_parts
    FROM sp
    JOIN pt ON pt.l_partkey = sp.l_partkey
    JOIN supplier s ON s.s_suppkey = sp.l_suppkey
    WHERE 10 * sp.q > 3 * pt.qt
    GROUP BY 1, 2
    """,
    survey_ref="§2.3 extension: TPC-H Q20 shape (correlated quantity "
    "threshold decorrelated into a per-part total re-join; exact integer "
    "10q > 3qt comparison)",
)
def promotion_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped >30% of a 'small%' part's 1996 volume (TPC-H
    Q20's correlated-subquery shape, decorrelated): per-(supplier, part)
    quantities reduce ONCE (checkpointed — the reduction feeds both the
    per-part total and the threshold re-join), the total joins back on
    partkey, and the 30% threshold is the exact integer
    cross-multiplication 10*q > 3*qt, never a float share."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = load_table(spark, sf_dir, "supplier")
    sp = (
        l.join(p, l["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.floor("l_quantity").cast("long")).alias("q"))
        # sp feeds TWO branches (the per-part total and the re-join);
        # without a checkpoint Spark re-derives the lineitem⋈part subtree
        # per branch — the CLAUDE.md many-branch rule (measured: halves
        # the fact-side work; sub-second either way at sf0.1 because the
        # 'small%' filter is selective, dominant at 100 TB)
        .transform(checkpoint)
    )
    pt = sp.groupBy("l_partkey").agg(F.sum("q").alias("qt"))
    qual = sp.join(pt, "l_partkey").filter(10 * F.col("q") > 3 * F.col("qt"))
    return (
        qual.join(s, qual["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_suppkey").alias("suppkey"), F.col("s_name").alias("s_name"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


# --- Q21 shape: suppliers solely responsible for returns ----------------------------------

@query(
    "sole_return_suppliers",
    oracle="""
    WITH l1 AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
    ),
    ost AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS n_r
      FROM lineitem GROUP BY 1
    )
    SELECT s.s_name AS s_name, count(*) AS numwait
    FROM l1
    JOIN ost ON ost.l_orderkey = l1.l_orderkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE ost.n_supp > 1 AND ost.n_r = 1
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
    survey_ref="§2.3 extension: TPC-H Q21 shape (EXISTS other-supplier + "
    "NOT EXISTS other-returning-supplier, decorrelated into one per-order "
    "distinct-count aggregate)",
)
def sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who were the ONLY returning supplier on multi-supplier
    finalized orders (TPC-H Q21's EXISTS/NOT-EXISTS shape). Instead of two
    correlated self-joins (3 lineitem shuffles), one per-order aggregate
    computes (distinct suppliers, distinct returning suppliers); the
    EXISTS pair becomes the filter n_supp > 1 AND n_r = 1 — a single
    orderkey shuffle that the l1⋈ost join then reuses. Counting is all
    integers; top-10 tiebreak on s_name.

    Measured alternative (rejected): folding l1 into the aggregate as
    collect_set(R-supplier) + element_at eliminates the second lineitem
    scan but mixes a distinct aggregate with a non-distinct one, which
    Catalyst plans via Expand — the shuffle doubles and the sf0.1 min-of-4
    went 1.22 s → 1.45 s. Two lean scans beat one expanded shuffle here;
    on scan-bound 100 TB storage the single-scan form is the swap to make,
    and it is one aggregate-expression change."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    l1 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    ost = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_r"),
    )
    qual = (
        l1.join(ost.filter((F.col("n_supp") > 1) & (F.col("n_r") == 1)), "l_orderkey")
        .join(o, F.col("l_orderkey") == o["o_orderkey"])
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
    )
    aggd = qual.groupBy(F.col("s_name").alias("s_name")).agg(
        F.count(F.lit(1)).alias("numwait")
    )
    return aggd.orderBy(F.col("numwait").desc(), "s_name").limit(10)


# --- runtime Bloom-filter join pruning (100 TB scan-reduction showcase) -------------------

@query(
    "runtime_filter_pruned_join",
    oracle=f"""
    SELECT o.o_orderpriority AS orderpriority,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum({_REV_E4_SQL}) AS BIGINT) AS revenue_e4,
           count(*) AS n
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY 1, 2
    """,
    survey_ref="§2.3/§4 extension: runtime Bloom-filter semi-join pruning "
    "(InjectRuntimeFilter) — fact rows discarded at the scan before the "
    "shuffle",
)
def runtime_filter_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Urgent-order revenue by ship year, with the lineitem scan pruned by
    a runtime Bloom filter built from the filtered orders' keys.

    The RESULT is identical to the plain join (the Bloom filter only
    discards rows the join would drop anyway — false positives pass
    through to the exact join); what changes is the 100 TB cost: the fact
    side sheds non-joining rows at the scan, before paying the shuffle
    write. Injection is plan-pinned in
    tests/test_plan_quality.py::test_runtime_bloom_filter_injected; see
    operators/runtime_filters.py for why the gates are scoped down at
    test scale.
    """
    def build() -> DataFrame:
        l = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        return (
            l.join(o, l["l_orderkey"] == o["o_orderkey"])
            .groupBy(
                F.col("o_orderpriority").alias("orderpriority"),
                F.year("l_shipdate").alias("l_year"),
            )
            .agg(
                F.sum(_rev_e4()).alias("revenue_e4"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    return with_runtime_bloom_filter(spark, build)


# --- per-group top-k with WindowGroupLimit pushdown ---------------------------------------

@query(
    "topk_per_group_limit",
    oracle="""
    SELECT orderpriority, rn, orderkey, totalprice_e2
    FROM (
      SELECT o_orderpriority AS orderpriority,
             o_orderkey AS orderkey,
             CAST(floor(o_totalprice * 100) AS BIGINT) AS totalprice_e2,
             row_number() OVER (
               PARTITION BY o_orderpriority
               ORDER BY CAST(floor(o_totalprice * 100) AS BIGINT) DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    survey_ref="§2.5 W3 extension: per-group top-k via rank window; Spark "
    "plans WindowGroupLimit (rank-limit pushdown into the sort) — "
    "plan-pinned",
)
def topk_per_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3 orders by value within every priority class (the per-group
    top-k kernel: retrieval shortlists, per-source best-document picks).

    Scale: Spark rewrites rank-predicate windows into WindowGroupLimit
    (SPARK-37099) — each partition keeps a running 3-element heap during
    the sort instead of materializing and ranking every group row, and the
    limit ALSO applies map-side before the exchange, so the shuffle
    carries at most 3 rows per (mapper, group). The ranking key is exact
    integer cents with an orderkey tiebreak — both engines cut identical
    top-3 sets. Plan-pinned by
    tests/test_plan_quality.py::test_topk_per_group_uses_window_group_limit.
    """
    o = load_table(spark, sf_dir, "orders")
    price_e2 = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select(
            F.col("o_orderpriority").alias("orderpriority"),
            F.col("o_orderkey").alias("orderkey"),
            price_e2.alias("totalprice_e2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("orderpriority").orderBy(
                    F.col("totalprice_e2").desc(), "orderkey"
                )
            ),
        )
        .filter(F.col("rn") <= 3)
        .select("orderpriority", "rn", "orderkey", "totalprice_e2")
    )


# --- join-size precomputation from key histograms ----------------------------


@query(
    "join_size_from_histograms",
    oracle="""
    WITH ca AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
    cb AS (SELECT user_id % 1500 AS k, count(*) AS c FROM events GROUP BY 1),
    j AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common_keys,
             CAST(sum(ca.c * cb.c) AS BIGINT) AS join_rows,
             CAST(max(ca.c * cb.c) AS BIGINT) AS max_key_rows
      FROM ca JOIN cb USING (k)
    )
    SELECT n_common_keys, join_rows, max_key_rows FROM j
    """,
    survey_ref="§2 extension: join-cardinality precomputation from key "
    "histograms — EXACT output size and worst-key contribution of a join "
    "computed from two per-key count aggs + a key-level join, WITHOUT "
    "materializing the join (the join-explosion / skew guard a 100 TB "
    "pipeline runs before committing to a plan)",
)
def join_size_from_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |orders ⋈ events-on-synthetic-key| exactly: Σ_k ca(k)·cb(k)
    over the per-key histograms. The histograms are map-side-combined aggs
    (tiny vs the fact tables), the key join carries |keys| rows, and
    max_key_rows flags the skew hot spot — all before a single fact-fact
    join row exists. Exact BIGINT, fully oracle-replayed."""
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    ca = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = ev.groupBy((F.col("user_id") % 1500).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    prod = F.col("ca") * F.col("cb")
    return ca.join(cb, "k").agg(
        F.count(F.lit(1)).cast("long").alias("n_common_keys"),
        F.sum(prod).cast("long").alias("join_rows"),
        F.max(prod).cast("long").alias("max_key_rows"),
    )


# --- multiset (ALL) set operations -------------------------------------------


@query(
    "multiset_except_views",
    oracle="""
    WITH diff AS (
      SELECT user_id FROM events WHERE event_type = 'view'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_unmatched_views
    FROM diff GROUP BY user_id
    """,
    survey_ref="§2.6 extension: MULTISET set algebra — EXCEPT ALL / "
    "exceptAll (per-occurrence difference: each purchase cancels ONE "
    "view), the bag semantics the DISTINCT-flavored set_except_users "
    "can't express",
)
def multiset_except_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views per user not matched 1:1 by a purchase: Spark's exceptAll
    (bag difference — keeps max(views−purchases, 0) copies per user)
    aggregated to per-user counts. exceptAll plans as a single
    count-compare generate over one shuffle, linear at 100 TB; this gate
    pins the occurrence arithmetic against DuckDB's EXCEPT ALL."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    return (
        views.exceptAll(buys)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unmatched_views"))
    )


@query(
    "multiset_intersect_views",
    oracle="""
    WITH paired AS (
      SELECT user_id FROM events WHERE event_type = 'view'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_paired
    FROM paired GROUP BY user_id
    """,
    survey_ref="§2.6 extension: MULTISET set algebra — INTERSECT ALL / "
    "intersectAll (min-occurrence pairing per user)",
)
def multiset_intersect_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min(views, clicks) copies per user via intersectAll, aggregated to
    counts — the bag intersection twin of multiset_except_views."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    return (
        views.intersectAll(clicks)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paired"))
    )


# --- dynamic-partition-pruned join -------------------------------------------


@query(
    "dpp_partition_pruned_join",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_v6
    FROM events
    WHERE substr(event_type, 1, 1) = 'c'
    GROUP BY event_type
    """,
    survey_ref="§2 scale optimization (plan-pinned): DYNAMIC PARTITION "
    "PRUNING — fact written partitioned by join key, dim filtered at "
    "runtime; Spark injects a dynamicpruning subquery into the fact "
    "scan's PartitionFilters so unprobed partition directories are never "
    "read (the third pruning lever beside runtime Bloom filters and "
    "static partition filters; asserted in test_plan_quality)",
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes a partitioned-by-event_type copy of events to pid-keyed
    scratch (through ``layouts.partitioned_writer``, one file per type
    dir), then joins it against a runtime-filtered type dim. The RESULT
    is partition-layout-invariant (oracle is a plain filtered agg); the
    PLAN is the deliverable — SubqueryAdaptiveBroadcast dynamicpruning on
    the fact scan. v6 sums are exact integers."""

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value").cast("double") * 1000000).cast("long").alias("v6"),
    )
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_dpp"), "events_"
    )
    partitioned_writer(ev, ["event_type"]).mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .where(F.substring("event_type", 1, 1) == "c")
    )
    return fact.join(dim, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v6").cast("long").alias("sum_v6"),
    )


# --- CBO-style column statistics (ANALYZE TABLE emulation) -------------------


@query(
    "cbo_column_stats",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
           CAST(min(o_custkey) AS BIGINT) AS min_v,
           CAST(max(o_custkey) AS BIGINT) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(count(*) AS BIGINT), CAST(count(o_orderkey) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents',
           CAST(count(*) AS BIGINT),
           CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT),
           CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
           CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders
    """,
    survey_ref="§2 extension (optimizer stats): ANALYZE TABLE-style "
    "per-column statistics — exact row/non-null/NDV/min/max per column, "
    "the inputs a cost-based optimizer (and join_size_from_histograms) "
    "consumes; money surfaced as exact cents",
)
def cbo_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan per column family (Spark plans the three aggregates over a
    shared cached scan; each is a global agg with map-side partials —
    count(DISTINCT) expands via Expand, the standard exact-NDV plan). At
    100 TB you'd swap exact NDV for the attested HLL sketch
    (hll_distinct_attest) — this gate is the exact contract the sketch is
    measured against."""
    orders = load_table(spark, sf_dir, "orders")

    def stats(col_name: str, expr_col, src=orders):
        return src.agg(
            F.lit(col_name).alias("col"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(expr_col).cast("long").alias("n_nonnull"),
            F.countDistinct(expr_col).cast("long").alias("ndv"),
            F.min(expr_col).cast("long").alias("min_v"),
            F.max(expr_col).cast("long").alias("max_v"),
        )

    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        stats("o_custkey", F.col("o_custkey"))
        .unionByName(stats("o_orderkey", F.col("o_orderkey")))
        .unionByName(
            orders.agg(
                F.lit("o_totalprice_cents").alias("col"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count("o_totalprice").cast("long").alias("n_nonnull"),
                F.countDistinct(cents).cast("long").alias("ndv"),
                F.min(cents).cast("long").alias("min_v"),
                F.max(cents).cast("long").alias("max_v"),
            )
        )
    )


# --- HHI market concentration ----------------------------------------------------


def _hhi_oracle() -> str:
    return f"""
    WITH os AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    cnt AS (
      SELECT s.s_nationkey, os.l_suppkey, CAST(count(*) AS BIGINT) AS c
      FROM os JOIN supplier s ON s.s_suppkey = os.l_suppkey
      GROUP BY 1, 2
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(c) AS BIGINT) AS total_orders,
           CAST(sum(c * c) AS BIGINT) AS hhi_num,
           CAST(sum(c) * sum(c) AS BIGINT) AS hhi_den,
           {ratio_scaled_sql('sum(c * c)', '(sum(c) * sum(c))', 6)}
             AS hhi_e6
    FROM cnt JOIN nation n ON n.n_nationkey = cnt.s_nationkey
    GROUP BY 1
    """


@query(
    "hhi_supplier_concentration",
    oracle=_hhi_oracle(),
    survey_ref="§2.3 extension: Herfindahl–Hirschman concentration index "
    "per supplier nation — HHI = Σ share² over suppliers' order-"
    "participation counts, kept exact as Σc²/(Σc)² BIGINT moments with "
    "the e6 scaled ratio (1e6/n_suppliers = perfectly competitive floor, "
    "1e6 = monopoly); the market-structure twin of gini_key_skew",
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is order flow within each nation's suppliers?
    One distinct (order, supplier) projection, a broadcast dim join,
    one count agg, one moment agg — HHI's Σc² and (Σc)² are exact
    mergeable integers (the dollar-revenue variant needs decimal128
    past ~sf1; counts stay int64-safe for ~3e9 participations/nation)."""
    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    os_ = li.select("l_orderkey", "l_suppkey").distinct()
    # supplier is sf-scaled — no broadcast hint; AQE picks broadcast from
    # its post-scan size while the plan stays valid at any sf.
    cnt = (
        os_.join(sup.select("s_suppkey", "s_nationkey"),
                 os_.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = cnt.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("c").cast("long").alias("total_orders"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("hhi_num"),
        (F.sum("c") * F.sum("c")).cast("long").alias("hhi_den"),
        ratio_scaled("sum(c * c)", "(sum(c) * sum(c))", 6).alias("hhi_e6"),
    )
    return per.join(
        F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("nation"))),
        per.s_nationkey == F.col("n_nationkey"),
    ).select(
        "nation", "n_suppliers", "total_orders", "hhi_num", "hhi_den", "hhi_e6"
    )


# --- Allen interval-algebra census ---------------------------------------------------

_ALLEN_CASE = """
    CASE WHEN ea < sb THEN 'precedes'
         WHEN ea = sb THEN 'meets'
         WHEN sa < sb AND sb < ea AND ea < eb THEN 'overlaps'
         WHEN sa = sb AND ea < eb THEN 'starts'
         WHEN sa > sb AND ea < eb THEN 'during'
         WHEN sa > sb AND ea = eb THEN 'finishes'
         WHEN sa = sb AND ea = eb THEN 'equals'
         WHEN sa < sb AND ea = eb THEN 'finished_by'
         WHEN sa < sb AND ea > eb THEN 'contains'
         WHEN sa = sb AND ea > eb THEN 'started_by'
         WHEN sa < eb AND sa > sb AND ea > eb THEN 'overlapped_by'
         WHEN sa = eb THEN 'met_by'
         ELSE 'preceded_by' END
"""


@query(
    "allen_relations_census",
    oracle=f"""
    {STEADY_SEG_CTES},
    a AS (SELECT user_id, start_us AS sa, end_us AS ea FROM seg
          WHERE event_type = 'click'),
    b AS (SELECT user_id, start_us AS sb, end_us AS eb FROM seg
          WHERE event_type = 'view'),
    pairs AS (
      SELECT {_ALLEN_CASE} AS rel
      FROM a JOIN b USING (user_id)
    )
    SELECT rel, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    survey_ref="§2.3/§2.4 extension: Allen interval-algebra census (Allen "
    "1983) — every (click-segment, view-segment) pair per user classified "
    "into the 13 temporal relations by exact-micros CASE comparisons over "
    "the shared steady-segment grain; the temporal-reasoning layer above "
    "plain overlap joins",
)
def allen_relations_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW do two channels' plateaus relate in time — not just 'do they
    overlap' (pairwise_coactivation) but which of Allen's 13 relations
    each pair realizes. The pair join is user-local (equi-join on
    user_id; segments per channel are few), classification is one
    branch-ordered CASE both engines evaluate identically on exact
    integer micros."""
    seg = _steady_segments(spark, sf_dir)
    a = seg.where(F.col("event_type") == "click").select(
        "user_id", F.col("start_us").alias("sa"), F.col("end_us").alias("ea")
    )
    b = seg.where(F.col("event_type") == "view").select(
        "user_id", F.col("start_us").alias("sb"), F.col("end_us").alias("eb")
    )
    pairs = a.join(b, "user_id").select(F.expr(_ALLEN_CASE).alias("rel"))
    return pairs.groupBy("rel").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# --- TPC-H Q16 shape: supplier census with NOT-IN exclusion -------------------


@query(
    "parts_supplier_census",
    oracle="""
    WITH ps AS (
      SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey FROM lineitem
    ),
    r AS (
      SELECT l_suppkey AS suppkey, CAST(count(*) AS BIGINT) AS cr
      FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(cr) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS ns
      FROM r
    ),
    bad AS (
      SELECT suppkey FROM r, tot WHERE cr * ns * 10 > t * 11
    )
    SELECT p.p_brand, CAST(p.p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT ps.suppkey) AS BIGINT) AS supplier_cnt
    FROM ps
    JOIN part p ON p.p_partkey = ps.partkey
    WHERE p.p_brand <> 'Brand#45' AND p.p_size <= 15
      AND ps.suppkey NOT IN (SELECT suppkey FROM bad)
    GROUP BY 1, 2
    """,
    survey_ref="§2.3/§2.4 extension: TPC-H Q16 shape — distinct-pair "
    "derived 'partsupp', NOT-IN exclusion of complaint suppliers "
    "(returned-line count >10% above the mean, exact integer "
    "cross-multiplication), count-distinct census per (brand, size)",
)
def parts_supplier_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape on the available tables: the (part, supplier) relation is
    the distinct (l_partkey, l_suppkey) projection; 'complaint' suppliers
    (returned-line count more than 10% above the supplier mean — the
    exact-integer inequality cr·ns·10 > total·11, no float ratio) are
    excluded via a left-anti join (the NOT-IN plan that scales — no
    correlated subquery per row). Both the distinct and the census
    aggregate keep map-side partials; nothing is hint-broadcast (part is
    sf-scaled — AQE decides; the 1-row total IS global-agg broadcast)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    ps = li.select(
        F.col("l_partkey").alias("partkey"), F.col("l_suppkey").alias("suppkey")
    ).distinct()
    r = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("cr"))
    )
    tot = r.agg(
        F.sum("cr").cast("long").alias("t"), F.count(F.lit(1)).cast("long").alias("ns")
    )
    bad = (
        r.crossJoin(F.broadcast(tot))
        .filter(F.col("cr") * F.col("ns") * 10 > F.col("t") * 11)
        .select("suppkey")
    )
    kept = ps.join(bad, "suppkey", "left_anti")
    j = kept.join(
        part.filter((F.col("p_brand") != "Brand#45") & (F.col("p_size") <= 15)),
        kept["partkey"] == part["p_partkey"],
    )
    return j.groupBy("p_brand", F.col("p_size").cast("long").alias("p_size")).agg(
        F.countDistinct("suppkey").cast("long").alias("supplier_cnt")
    )


# --- bitemporal point-in-time lookup ---------------------------------------------


@query(
    "bitemporal_pit_lookup",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             epoch_us(ts) AS tt_us,
             epoch_us(ts) - (event_id % 5) * 3600000000 AS vt_us,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    b AS (SELECT min(tt_us) AS t0, max(tt_us) AS t1 FROM ev),
    cut AS (SELECT t0 + ((t1 - t0) * 3) // 5 AS tx_cut, t0, t1 FROM b),
    probes AS (
      SELECT CAST(f AS INT) AS probe_idx,
             t0 + ((t1 - t0) * f) // 4 AS vt_probe_us
      FROM (SELECT unnest([1, 2, 3]) AS f) CROSS JOIN cut
    ),
    known AS (SELECT ev.* FROM ev CROSS JOIN cut WHERE ev.tt_us <= cut.tx_cut),
    cand AS (
      SELECT k.user_id, p.probe_idx, p.vt_probe_us,
             k.vt_us, k.tt_us, k.v6,
             row_number() OVER (PARTITION BY k.user_id, p.probe_idx
                                ORDER BY k.vt_us DESC, k.tt_us DESC,
                                         k.event_id DESC) AS rk
      FROM known k JOIN probes p ON k.vt_us <= p.vt_probe_us
    )
    SELECT user_id, probe_idx, CAST(vt_probe_us AS BIGINT) AS vt_probe_us,
           CAST(vt_us AS BIGINT) AS vt_us, CAST(tt_us AS BIGINT) AS tt_us,
           v6
    FROM cand WHERE rk = 1
    """,
    survey_ref="§2.5 J-ext completion: BITEMPORAL point-in-time lookup "
    "(valid time × transaction time, Snodgrass TSQL2) — 'what did we "
    "believe at transaction cut T_tx the state was at valid time T_v' — "
    "the two-axis generalization of pit_state_lookup's single-axis as-of; "
    "backdated corrections (vt = tt − (event_id mod 5)h) make later "
    "transactions revise earlier valid times, so the two axes genuinely "
    "disagree",
)
def bitemporal_pit_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of: facts carry BOTH a transaction time (when the
    row was recorded — here the event ts) and a valid time (when it
    applies — deterministically backdated by (event_id mod 5) hours, the
    correction pattern of late-arriving revisions). The lookup fixes one
    transaction-time cut (60% of the span: 'the state of knowledge then')
    and answers three valid-time probes (25/50/75% of the span): among
    rows with tt ≤ cut and vt ≤ probe, the (vt, tt, event_id)-max row —
    latest applicable version, latest recorded among revisions of it.

    Scale shape: the cut/probe dims are 1-row/3-row global aggs
    (broadcast); the fact scans once, filters on tt, joins the 3-row
    probe dim (explode-style fan-out ×3), and resolves per
    (user, probe) with ONE partitioned argmax window — the same
    partitioned-window shape as pit_state_lookup, two time axes instead
    of one. The pick's total order (vt DESC, tt DESC, event_id DESC) is
    unique by event_id — TIES.md row."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tt_us"),
        (
            F.unix_micros("ts")
            - (F.col("event_id") % 5) * F.lit(3_600_000_000)
        ).alias("vt_us"),
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    bounds = ev.agg(
        F.min("tt_us").alias("t0"), F.max("tt_us").alias("t1")
    ).select(
        "t0", "t1", F.expr("t0 + ((t1 - t0) * 3) div 5").alias("tx_cut")
    )
    probes = (
        bounds.select(
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3)])).alias("f"),
            "t0",
            "t1",
        )
        .select(
            F.col("f").cast("int").alias("probe_idx"),
            F.expr("t0 + ((t1 - t0) * f) div 4").alias("vt_probe_us"),
        )
    )
    known = ev.crossJoin(F.broadcast(bounds.select("tx_cut"))).where(
        F.col("tt_us") <= F.col("tx_cut")
    )
    cand = known.join(
        F.broadcast(probes), F.col("vt_us") <= F.col("vt_probe_us")
    )
    w = Window.partitionBy("user_id", "probe_idx").orderBy(
        F.col("vt_us").desc(), F.col("tt_us").desc(), F.col("event_id").desc()
    )
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            "probe_idx",
            F.col("vt_probe_us").cast("long").alias("vt_probe_us"),
            F.col("vt_us").cast("long").alias("vt_us"),
            F.col("tt_us").cast("long").alias("tt_us"),
            "v6",
        )
    )


# --- interval coalescing (union length) ---------------------------------------------


_INTERVAL_COALESCE_SQL = """
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS e
      FROM events
    ),
    marked AS (
      SELECT user_id, event_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (PARTITION BY user_id
                                   ORDER BY s, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS island
      FROM marked
    ),
    merged AS (
      SELECT user_id, island,
             CAST(min(s) AS BIGINT) AS island_s,
             CAST(max(e) AS BIGINT) AS island_e,
             CAST(count(*) AS BIGINT) AS n_raw_in
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(sum(n_raw_in) AS BIGINT) AS n_raw,
           CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(island_e - island_s) AS BIGINT) AS covered_us,
           CAST(max(island_e - island_s) AS BIGINT) AS max_island_us
    FROM merged GROUP BY user_id
    """


@query(
    "interval_coalesce_coverage",
    oracle=_INTERVAL_COALESCE_SQL,
    survey_ref="§2.6 W-ext completion: interval COALESCING (gaps-and-"
    "islands union) — merge overlapping-or-touching per-user activity "
    "intervals and report exact union length; the third classic interval "
    "kernel beside sweep-line counting (concurrency_peaks) and value-run "
    "segmentation (steady_state_segments)",
)
def interval_coalesce_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union length of overlapping intervals per user: each event opens a
    deterministic (event_id mod 7 + 1)-minute window; overlapping or
    touching windows merge into islands (new island ⇔ start > running max
    of PRIOR ends), and the per-user coverage report is exact micros —
    device-usage duty cycle, PII-exposure windows, SLA-covered time: the
    same question everywhere. Dual of coverage_gaps (which reports the
    holes between POINTS; this reports the covered union of SPANS).

    Shape: ONE exchange on user_id serves the running-max window, the
    island-id running sum, and both aggregations (Catalyst reuses the
    sort). Both windows order by the SAME total key (s, event_id) — an
    authoring-time near-miss worth recording: ordering the island-id sum
    by (s, e, new_island) instead sorts the marked row AFTER its
    equal-(s, e) peers, assigning those peers to the PREVIOUS island and
    silently inflating its span (pinned by
    tests/test_extra_ops_r8c.py::test_interval_coalesce_equal_start_tie).
    All arithmetic is exact BIGINT micros."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + (F.col("event_id") % 7 + 1) * F.lit(60_000_000)
        ).alias("e"),
    )
    merged = interval_coalesce(ev, ["user_id"])
    return merged.groupBy("user_id").agg(
        F.sum("n_raw_in").cast("long").alias("n_raw"),
        F.count(F.lit(1)).cast("long").alias("n_islands"),
        F.sum(F.col("island_e") - F.col("island_s"))
        .cast("long")
        .alias("covered_us"),
        F.max(F.col("island_e") - F.col("island_s"))
        .cast("long")
        .alias("max_island_us"),
    )


# --- grid-blocked spatial radius self-join ---------------------------------------

_RADIUS = 3800


@query(
    "spatial_radius_pairs",
    oracle=f"""
    WITH p AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1000000 AS px,
             CAST(('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1000000 AS py
      FROM customer
    )
    SELECT a.id AS id_a, b.id AS id_b,
           CAST((a.px - b.px) * (a.px - b.px)
                + (a.py - b.py) * (a.py - b.py) AS BIGINT) AS dist2
    FROM p a JOIN p b ON b.id > a.id
    WHERE (a.px - b.px) * (a.px - b.px)
          + (a.py - b.py) * (a.py - b.py) <= {_RADIUS * _RADIUS}
    """,
    survey_ref="§2.5 J-ext: spatial RADIUS self-join with grid-cell "
    "blocking (the grid-file / DJ spatial-join classic) — all point "
    "pairs within L2 distance r, candidates only from the 3×3 neighbor "
    "cells of an r-sized grid; the brute-force all-pairs oracle makes "
    "the gate a LOSSLESSNESS proof (cell size ≥ r ⇒ every "
    "within-radius pair lands in adjacent cells), the prefix-filter "
    "discipline applied to geometry",
)
def spatial_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius self-join over md5-derived synthetic coordinates (1M×1M
    integer plane; deterministic in both engines — a multiplicative-hash
    layout was tried first and produced a LATTICE with zero close pairs,
    the classic pseudo-randomness trap). Blocking: each point lands in
    its own r-sized grid cell on the build side and fans out to the 3×3
    neighborhood on the probe side, so every candidate pair meets in
    EXACTLY one cell (the build point's own) and within-radius pairs can
    never escape — candidates are cell-local, never all-pairs; the
    quadratic form exists only in the oracle, whose hash equality proves
    the blocking drops nothing. Verification is the exact integer
    squared distance (no sqrt, no float).

    Scale: one narrow projection per side (probe side ×9), one equi-join
    on the cell key, map-side-combinable everywhere; skewed cells (dense
    regions) are AQE-splittable. The JOIN SHAPE is the standard 100 TB
    geo-dedup / store-proximity / co-location form — but THIS FIXTURE's
    output is density-quadratic (advice r8): the plane is a fixed 1M×1M,
    so doubling the rows doubles density and the within-radius pair
    count (and per-cell candidate volume) grows ~Θ(n²) — the
    measures-the-answer caveat STRESS.md applies to the winnowing pair
    stage holds here too; don't read a pair-count sweep on this fixture
    as the operator's slope. Real deployments keep density roughly
    constant (more data covers more territory); to sweep the OPERATOR,
    scale the plane side with sqrt(n) (constant density) or bound the
    output (per-point k-nearest within r via a top-k by dist2)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return _radius_pairs_frame(_hash_points(cust), _RADIUS)


def _hash_points(cust: DataFrame) -> DataFrame:
    """(c_custkey) → (id, px, py) md5-derived points on the 1M×1M integer
    plane (shared by the radius join and the DBSCAN composition)."""

    def _coord(prefix: str):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(prefix), F.col("c_custkey").cast("string")
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % 1000000
        )

    return cust.select(
        F.col("c_custkey").alias("id"),
        _coord("x").alias("px"),
        _coord("y").alias("py"),
    )


def _radius_pairs_frame(p: DataFrame, radius: int, r2: int | None = None) -> DataFrame:
    """Grid-blocked radius self-join over (id, px, py) — the kernel the
    spatial_radius_pairs docstring describes, frame-level so compositions
    (DBSCAN) reuse it at their own radius. ``r2`` overrides the squared
    threshold when the TRUE radius is irrational (density-constant R² =
    A/n): blocking stays lossless for any cell size ``radius`` ≥ √r2."""
    if r2 is None:
        r2 = radius * radius
    assert radius * radius >= r2, "grid cell must be at least the radius"
    a = p.select(
        F.col("id").alias("id_a"),
        F.col("px").alias("ax"),
        F.col("py").alias("ay"),
        F.expr(f"px div {radius}").alias("cx"),
        F.expr(f"py div {radius}").alias("cy"),
    )
    b = p.select(
        F.col("id").alias("id_b"),
        F.col("px").alias("bx"),
        F.col("py").alias("by"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(-1, 1), dx -> "
                f"transform(sequence(-1, 1), dy -> "
                f"struct(px div {radius} + dx AS cx, "
                f"py div {radius} + dy AS cy))))"
            )
        ).alias("c"),
    ).select("id_b", "bx", "by", "c.cx", "c.cy")
    dist2 = (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx")) + (
        F.col("ay") - F.col("by")
    ) * (F.col("ay") - F.col("by"))
    return (
        a.join(b, ["cx", "cy"])
        .where(F.col("id_b") > F.col("id_a"))
        .where(dist2 <= r2)
        .select("id_a", "id_b", dist2.cast("long").alias("dist2"))
    )


# --- grid-DBSCAN (density clustering composed from audited kernels) -------------

# density-CONSTANT squared radius: R^2 = 20000^2 * 1500 / n, so the expected
# neighbor count per point (n * pi * R^2 / plane_area) is the SAME at every
# sf — the fix for the fixed-plane density trap (advice r8: at fixed R the
# sf0.1 core graph PERCOLATES into one giant plane-spanning cluster; measured
# before bench-listing). Exact integer in both engines: (4e8 * 1500) div n.
_DB_R2_NUM = 400_000_000 * 1500


_DB_R2_SQL = f"(SELECT {_DB_R2_NUM} // count(*) FROM customer)"


_DB_MINNBRS = 3  # core = at least 3 neighbors within R (minPts = 4)


_DB_PTS_SQL = """
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1000000 AS px,
             CAST(('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)),
                   1, 15)) AS BIGINT) % 1000000 AS py
      FROM customer
"""


@query(
    "dbscan_grid_clusters",
    oracle=f"""
    WITH RECURSIVE p AS ({_DB_PTS_SQL}),
    pr AS (
      SELECT a.id AS ia, b.id AS ib
      FROM p a JOIN p b ON b.id > a.id
      WHERE (a.px - b.px) * (a.px - b.px)
            + (a.py - b.py) * (a.py - b.py) <= {_DB_R2_SQL}
    ),
    sym AS (SELECT ia AS s, ib AS t FROM pr UNION ALL SELECT ib, ia FROM pr),
    deg AS (SELECT s AS id, count(*) AS c FROM sym GROUP BY 1),
    core AS (SELECT id FROM deg WHERE c >= {_DB_MINNBRS}),
    ce AS (
      SELECT s, t FROM sym
      WHERE s IN (SELECT id FROM core) AND t IN (SELECT id FROM core)
    ),
    reach AS (
      SELECT id AS s, id AS t FROM core
      UNION
      SELECT r.s, e.t FROM reach r JOIN ce e ON e.s = r.t
    ),
    comp AS (SELECT s AS id, min(t) AS cluster_id FROM reach GROUP BY 1),
    brd AS (
      SELECT x.s AS id, min(c.cluster_id) AS cluster_id
      FROM sym x JOIN comp c ON c.id = x.t
      WHERE x.s NOT IN (SELECT id FROM core)
      GROUP BY 1
    ),
    ccounts AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_core
                FROM comp GROUP BY 1),
    bcounts AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_border
                FROM brd GROUP BY 1)
    SELECT c.cluster_id, c.n_core, COALESCE(b.n_border, 0) AS n_border
    FROM ccounts c LEFT JOIN bcounts b USING (cluster_id)
    """,
    survey_ref="§2.10 clustering extension: DBSCAN (Ester et al. KDD'96) "
    "composed from the audited grid radius join + hash-min connected "
    "components — core points by neighbor count, clusters = CC over the "
    "core-core within-radius graph, border points attach to their min "
    "core cluster; oracle = brute-force pairs + recursive-CTE closure",
)
def dbscan_grid_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering as a three-stage composition of kernels this
    repo already gates: (1) within-radius pairs from the grid-blocked
    self-join (_radius_pairs_frame — cell-local candidates,
    never all-pairs), (2) core test = one degree agg (deg ≥ 3, i.e.
    minPts=4 counting the point itself), (3) clusters = large-star/small-star CC over
    the CORE-CORE subgraph (operators/dedup.py::connected_components_star
    — DIAMETER-SAFE: the percolating sf0.1 core graph spans the plane,
    ~70+ propagation hops, which aborts the one-hop hash-min kernel at
    max_iter=25; star contraction converges in O(log² n) rounds — found
    by running this query at sf0.1 before bench-listing it, the r8c
    sweep-before-bench rule), then border points attach to
    the MINIMUM cluster id among their core neighbors (standard DBSCAN
    leaves border assignment order-dependent; the min rule makes it a
    deterministic function — TIES.md row). Output = per-cluster
    (n_core, n_border) census; noise = everything else, derivable as
    n_points − Σ(core+border). The pair frame feeds THREE branches
    (degrees, core edges, border attach) — checkpointed once per
    the fan-out rule. Scale: every stage is the audited kernel's shape;
    the quadratic closure exists only in the oracle."""

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    # density-constant threshold: the 1-row count collect is the documented
    # driver-side stats read; cell size = ceil(sqrt(r2)) keeps the blocking
    # lossless (cell >= true radius)
    n = cust.count()
    r2 = _DB_R2_NUM // n
    cell = math.isqrt(r2) + 1
    pairs = (
        _radius_pairs_frame(_hash_points(cust), cell, r2=r2)
        .select("id_a", "id_b")
        .transform(checkpoint)
    )
    sym = pairs.select(
        F.col("id_a").alias("s"), F.col("id_b").alias("t")
    ).unionByName(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("t")))
    deg = sym.groupBy(F.col("s").alias("id")).agg(F.count(F.lit(1)).alias("c"))
    core = deg.filter(F.col("c") >= _DB_MINNBRS).select("id")
    core_edges = pairs.join(
        core.select(F.col("id").alias("id_a")), "id_a", "left_semi"
    ).join(core.select(F.col("id").alias("id_b")), "id_b", "left_semi")
    labels = D.connected_components_star(core, core_edges)
    border = (
        sym.join(core.select(F.col("id").alias("s")), "s", "left_anti")
        .join(
            labels.select(F.col("node").alias("t"), "cluster_id"), "t"
        )
        .groupBy("s")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
    ccounts = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_core")
    )
    bcounts = border.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_border")
    )
    return ccounts.join(bcounts, "cluster_id", "left").select(
        "cluster_id",
        "n_core",
        F.coalesce(F.col("n_border"), F.lit(0)).cast("long").alias("n_border"),
    )


# --- spatial nearest-neighbor join (k=1 within radius) --------------------------


@query(
    "spatial_nn_join",
    oracle=f"""
    WITH p AS ({_DB_PTS_SQL}),
    pr AS (
      SELECT a.id AS ia, b.id AS ib,
             (a.px - b.px) * (a.px - b.px)
             + (a.py - b.py) * (a.py - b.py) AS d2
      FROM p a JOIN p b ON b.id > a.id
      WHERE (a.px - b.px) * (a.px - b.px)
            + (a.py - b.py) * (a.py - b.py) <= {_DB_R2_SQL}
    ),
    sym AS (
      SELECT ia AS id, ib AS nbr, d2 FROM pr
      UNION ALL SELECT ib, ia, d2 FROM pr
    ),
    best AS (
      SELECT id, nbr, d2, row_number() OVER (
        PARTITION BY id ORDER BY d2, nbr) AS rn
      FROM sym
    )
    SELECT id, nbr AS nn_id, CAST(d2 AS BIGINT) AS dist2
    FROM best WHERE rn = 1
    """,
    survey_ref="§2.5 J-ext: spatial NEAREST-NEIGHBOR join (k=1 within "
    "radius) over the same grid-blocked kernel — the store-to-nearest-"
    "depot / record-to-nearest-centroid geometric join; oracle = "
    "brute-force all-pairs argmin",
)
def spatial_nn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every point with at least one within-R neighbor, its NEAREST
    one (exact integer squared distance; ties by neighbor id — TIES.md).
    Composition: the density-constant grid radius join (candidates
    cell-local, R² = A/n exact in both engines) symmetrized, then ONE
    grouped integer argmin via min(struct(d2, nbr)) — no window over
    row-scaled rows, no sort. Points whose R-ball is empty are absent
    (the within-radius contract; an unbounded NN needs expanding-ring
    probes — documented, not implemented). At 100 TB this is the
    standard blocked kNN-join shape with k=1: one cell-keyed join, one
    hash agg."""

    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    n = cust.count()
    r2 = _DB_R2_NUM // n
    cell = math.isqrt(r2) + 1
    pairs = _radius_pairs_frame(_hash_points(cust), cell, r2=r2)
    sym = pairs.select(
        F.col("id_a").alias("id"), F.col("id_b").alias("nbr"), "dist2"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("id"), F.col("id_a").alias("nbr"), "dist2"
        )
    )
    return (
        sym.groupBy("id")
        .agg(F.min(F.struct("dist2", "nbr")).alias("b"))
        .select("id", F.col("b.nbr").alias("nn_id"), F.col("b.dist2").alias("dist2"))
    )
