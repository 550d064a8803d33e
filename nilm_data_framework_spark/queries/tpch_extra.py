"""Deep multi-way-join relational queries (TPC-H Q7/Q8/Q9/Q10/Q19/Q20/Q21
shapes, adapted to the trimmed star schema: no partsupp, no
shipmode/commitdate columns).

These widen the §2.3 join-family evidence beyond queries/relational.py:
nation-pair volume flows, global market share, profit decomposition,
returned-item top-k, disjunctive predicate pushdown, and two decorrelated
EXISTS/NOT-EXISTS shapes. Reference analog: the cross-dataset join +
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


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
    from nilm_data_framework_spark.operators.runtime_filters import (
        with_runtime_bloom_filter,
    )

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
    from pyspark.sql import Window

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
