"""Exact statistics queries (§2.4 / §2.10 extensions): robust location and
spread (MAD, Tukey fences, winsorized mean, Theil-Sen), rank statistics
(Spearman, Kendall, runs test), resampling and survival estimators (Poisson
bootstrap, Kaplan-Meier, CUPED moments), and distribution audits (Gini,
Lorenz deciles, Benford first digits, Simpson diversity).

Every statistic is carried as exact integers or exact scaled integers
(operators/exact_math.py) with order statistics rank-picked, never
interpolated, so each DuckDB oracle replays it bit for bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4,
    ratio_e4_sql,
    ratio_scaled,
    ratio_scaled_sql,
)
from nilm_data_framework_spark.operators.robust import (
    POISSON1_CDF_E60,
    mad_outliers,
    poisson_bootstrap_sums,
)
from nilm_data_framework_spark.operators.scale_windows import (
    bucketed_global_rank,
    bucketed_ntile,
)
from nilm_data_framework_spark.operators.text import tokens
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


# --- Poisson bootstrap confidence intervals ----------------------------------


def _bootstrap_oracle() -> str:
    t0, t1, t2, t3 = POISSON1_CDF_E60
    return f"""
    WITH reps AS (SELECT CAST(r.range AS BIGINT) AS b FROM range(0, 20) r),
    drawn AS (
      SELECT reps.b,
             CASE WHEN h < {t0} THEN 0
                  WHEN h < {t1} THEN 1
                  WHEN h < {t2} THEN 2
                  WHEN h < {t3} THEN 3
                  ELSE 4 END AS w,
             cents
      FROM (
        SELECT CAST(o_orderkey AS VARCHAR) AS k,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
      ) o
      CROSS JOIN reps,
      LATERAL (SELECT CAST(('0x' || substr(
                 md5('boot' || CAST(reps.b AS VARCHAR) || ':' || o.k),
                 1, 15)) AS BIGINT) AS h) hh
    ),
    agg AS (
      SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
             CAST(sum(w * cents) AS BIGINT) AS total_c
      FROM drawn GROUP BY b
    )
    SELECT b, n_eff, total_c,
           {ratio_e4_sql('total_c', 'n_eff')} AS mean_c_e4
    FROM agg
    """


@query(
    "poisson_bootstrap_ci",
    oracle=_bootstrap_oracle(),
    survey_ref="§2.4 extension: ONE-PASS Poisson bootstrap (B=20 "
    "deterministic replicates of the mean order value) — the cluster-"
    "scale uncertainty-quantification technique; all B resample sums in "
    "one linear scan, exact integer weights from md5-inverse-CDF draws",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/robust.py::poisson_bootstrap_sums over order totals
    (exact cents): 20 replicate (n_eff, total, exact e4 mean) rows — the
    replicate-mean spread IS the sampling distribution of the mean (the
    caller reads percentile CIs off it). Every weight is a deterministic
    integer-threshold draw, so DuckDB replays the full resampling
    bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = poisson_bootstrap_sums(orders, "o_orderkey", "cents", replicates=20)
    return out.select(
        "b",
        "n_eff",
        F.col("total").alias("total_c"),
        ratio_e4("total", "n_eff").alias("mean_c_e4"),
    )


# --- Benford first-digit audit -----------------------------------------------

# Expected Benford share log10(1 + 1/d) in e4 units, computed ONCE in Python
# and injected into BOTH engines as literals — zero cross-engine float risk.
_BENFORD_E4 = {
    d: int(__import__("math").floor(__import__("math").log10(1 + 1 / d) * 10000 + 0.5))
    for d in range(1, 10)
}


def _benford_oracle() -> str:
    expect = " ".join(
        f"WHEN {d} THEN {v}" for d, v in _BENFORD_E4.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS first_digit
      FROM orders
    ),
    counts AS (
      SELECT first_digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT first_digit, n,
           {ratio_e4_sql('n', 'total')} AS share_e4,
           CAST(CASE first_digit {expect} END AS BIGINT) AS benford_e4
    FROM counts, tot
    """


@query(
    "benford_digit_audit",
    oracle=_benford_oracle(),
    survey_ref="§2.10 quality/fraud audit: Benford first-digit "
    "distribution of money amounts vs the log10(1+1/d) law — the classic "
    "fabricated-data detector (Nigrini); counts exact, shares exact e4, "
    "expected shares injected as Python-computed literals in both engines",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First digit via string head of exact cents (positive BIGINTs render
    identically in both engines — no float log10 in the digit extraction).
    One groupBy(9 keys) + broadcast total; a map-side-combined linear scan
    at any scale. Expected shares are plan literals."""
    orders = load_table(spark, sf_dir, "orders")
    expect = F.create_map(
        *[F.lit(x) for kv in _BENFORD_E4.items() for x in kv]
    )
    digits = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n",
        ratio_e4("n", "total").alias("share_e4"),
        expect[F.col("first_digit")].cast("long").alias("benford_e4"),
    )


# --- Gini key-skew (Lorenz inequality of key ownership) ----------------------


def _gini_oracle() -> str:
    return f"""
    WITH cnt AS (
      SELECT o_orderpriority AS priority, o_custkey,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT priority, x,
             CAST(row_number() OVER (PARTITION BY priority
                                     ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM cnt
    ),
    agg AS (
      SELECT priority,
             CAST(max(i) AS BIGINT) AS n_keys,
             CAST(sum(x) AS BIGINT) AS total_rows,
             CAST(2 * sum(i * x) - (max(i) + 1) * sum(x) AS BIGINT) AS gnum
      FROM ranked GROUP BY 1
    )
    SELECT priority, n_keys, total_rows,
           {ratio_e4_sql('gnum', 'n_keys * total_rows')} AS gini_e4
    FROM agg
    """


@query(
    "gini_key_skew",
    oracle=_gini_oracle(),
    survey_ref="§2.10 skew diagnostics: exact Gini coefficient of per-key "
    "row ownership (Lorenz form G = (2Σi·x_i − (n+1)Σx_i)/(nΣx_i) over "
    "ascending-sorted counts) — the single-number partition-skew monitor "
    "feeding the salting decision that key_skew_audit samples; all "
    "integer arithmetic",
)
def gini_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-priority: Gini of orders-per-customer. One groupBy for
    counts, one per-group ranked window (ascending, key-tiebroken), one
    agg. gnum is provably ≥ 0 for ascending-sorted x, so ratio_e4's
    nonnegative contract holds. At 100 TB the window becomes the
    equi-depth-histogram approximation (rank from cumulative bucket
    counts) — this gate is the exact form at per-group cardinality that
    one reducer comfortably owns (documented in SCALE.md)."""
    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy(
        F.col("o_orderpriority").alias("priority"), "o_custkey"
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("priority").orderBy("x", "o_custkey")
    ranked = cnt.select(
        "priority", "x", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy("priority").agg(
        F.max("i").cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total_rows"),
        (
            F.lit(2) * F.sum(F.col("i") * F.col("x"))
            - (F.max("i") + F.lit(1)) * F.sum("x")
        )
        .cast("long")
        .alias("gnum"),
    )
    return agg.select(
        "priority",
        "n_keys",
        "total_rows",
        ratio_e4("gnum", "n_keys * total_rows").alias("gini_e4"),
    )


# --- MAD robust outlier audit ------------------------------------------------


@query(
    "mad_outlier_audit",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v6,
             event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6, event_id,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY v6, event_id) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM v
    ),
    med AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rk = (n + 1) // 2 THEN v6 ELSE 0 END)
                  + sum(CASE WHEN rk = n // 2 + 1 THEN v6 ELSE 0 END)
                  AS BIGINT) AS median2
      FROM ranked GROUP BY event_type
    ),
    dev AS (
      SELECT r.event_type, m.n, m.median2, r.event_id,
             CAST(abs(2 * r.v6 - m.median2) AS BIGINT) AS d2
      FROM ranked r JOIN med m ON m.event_type = r.event_type
    ),
    dranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                                        ORDER BY d2, event_id) AS BIGINT) AS rk2
      FROM dev
    ),
    mad AS (
      SELECT event_type,
             CAST(sum(CASE WHEN rk2 = (n + 1) // 2 THEN d2 ELSE 0 END)
                  + sum(CASE WHEN rk2 = n // 2 + 1 THEN d2 ELSE 0 END)
                  AS BIGINT) AS mad4
      FROM dranked GROUP BY event_type
    )
    SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
           CAST(max(d.median2) AS BIGINT) AS median2,
           CAST(max(m.mad4) AS BIGINT) AS mad4,
           CAST(sum(CASE WHEN 2 * d.d2 > 3 * m.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(max(d.d2) AS BIGINT) AS max_dev2
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    """,
    survey_ref="§2.10 robust statistics: per-group median-absolute-"
    "deviation outlier audit (Hampel / Iglewicz-Hoaglin) in EXACT integer "
    "arithmetic via the doubled-median trick (m2 = lo+hi, d2 = |2v−m2|, "
    "mad4 = lo'+hi'; outlier ⇔ 2·d2 > z·mad4) — the robust twin of the "
    "variance-based channel_stats z-score, immune to the outliers it hunts",
)
def mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/robust.py::mad_outliers over 1e-6-floored event values,
    keyed by event_type with event_id tiebreaks. One exchange (event_type)
    serves both rank windows and all three aggregates; medians are picked
    by conditional aggregation against the window count, never a self-join
    or a percentile UDF."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") * 1000000)
        .cast("long")
        .alias("v6"),
        "event_id",
    )
    out = mad_outliers(ev, ["event_type"], "v6", "event_id", z=3)
    return out.select(
        "event_type", "n", "median2", "mad4", "n_outliers", "max_dev2"
    )


# --- Simpson diversity index -------------------------------------------------


def _simpson_oracle() -> str:
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    return f"""
    WITH t AS (
      SELECT source, unnest({toks}) AS tok FROM documents
    ),
    cnt AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS n_i
      FROM t GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(n_i) AS BIGINT) AS n_tokens,
             CAST(sum(n_i * (n_i - 1)) AS BIGINT) AS ssum
      FROM cnt GROUP BY 1
    )
    SELECT source, n_types, n_tokens,
           {ratio_scaled_sql('ssum', 'n_tokens * (n_tokens - 1)', 6)}
             AS simpson_e6
    FROM agg
    """


@query(
    "simpson_diversity",
    oracle=_simpson_oracle(),
    survey_ref="§2.10 corpus diversity: Simpson concentration index "
    "λ = Σ nᵢ(nᵢ−1) / (N(N−1)) per source — the EXACT-rational companion "
    "to the float Shannon entropy audit (entropy_by_source): λ is a "
    "ratio of integer pair counts, so the diversity monitor carries no "
    "float at all (1/λ = effective vocabulary size)",
)
def simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token Simpson index: one explode → (source, tok) hash
    agg (map-side combined) → per-source agg of pair counts → exact e6
    ratio. Two shuffles, both on small key spaces; the pair-count form
    is mergeable (Σ nᵢ(nᵢ−1) from per-shard partials via the same
    algebra as partial_agg_merge), so 100 TB is a linear pass."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    cnt = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    agg = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("n_i").cast("long").alias("n_tokens"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("long").alias("ssum"),
    )
    return agg.select(
        "source",
        "n_types",
        "n_tokens",
        ratio_scaled("ssum", "n_tokens * (n_tokens - 1)", 6).alias("simpson_e6"),
    )


# --- Kaplan-Meier survival ---------------------------------------------------


@query(
    "kaplan_meier_survival",
    oracle="""
    WITH per AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id
    ),
    bound AS (SELECT max(last_us) AS end_us FROM per),
    life AS (
      SELECT user_id, (last_us - first_us) // 3600000000 AS t_h,
             CASE WHEN end_us - last_us < 86400000000 THEN 1 ELSE 0 END AS censored
      FROM per, bound
    ),
    support AS (
      SELECT t_h, CAST(count(*) AS BIGINT) AS cnt_all,
             CAST(sum(1 - censored) AS BIGINT) AS d
      FROM life GROUP BY t_h
    ),
    risk AS (
      SELECT t_h, d,
             CAST(sum(cnt_all) OVER (ORDER BY t_h DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk
      FROM support
    ),
    steps AS (SELECT t_h, d, n_risk FROM risk WHERE d > 0)
    SELECT CAST(t_h AS BIGINT) AS t_h, d, n_risk,
           round(product(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                 OVER (ORDER BY t_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS survival
    FROM steps
    """,
    survey_ref="§2.4 extension (survival analysis): Kaplan-Meier estimator "
    "of user lifetime with 24h-tail censoring — d/n at-risk counts exact "
    "integers from value-support cumulative sums (no per-user scan per "
    "step); the survival product multiplies identical IEEE factors in "
    "identical ascending order in both engines",
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KM: per-user lifetimes (one groupBy), corpus end bound
    (1-row broadcast), then the at-risk counts come from ONE descending
    cumulative window over the lifetime SUPPORT (|distinct hours| rows —
    the ks_statistic trick), never by rescanning users per step. Output
    per death-time: t_h, d, n_risk exact; survival = Π(1 − d/n) 4dp."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    bound = per.agg(F.max("last_us").alias("end_us"))
    life = per.crossJoin(F.broadcast(bound)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("t_h"),
        F.when(F.col("end_us") - F.col("last_us") < 86_400_000_000, 1)
        .otherwise(0)
        .alias("censored"),
    )
    support = life.groupBy("t_h").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
    )
    w_desc = (
        Window.orderBy(F.col("t_h").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = support.select(
        "t_h", "d", F.sum("cnt_all").over(w_desc).cast("long").alias("n_risk")
    )
    steps = risk.where(F.col("d") > 0)
    w_asc = Window.orderBy("t_h").rowsBetween(Window.unboundedPreceding, 0)
    surv = F.product(
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double")
    ).over(w_asc)
    return steps.select(
        F.col("t_h").cast("long").alias("t_h"),
        "d",
        "n_risk",
        F.round(surv, 4).alias("survival"),
    )


# --- Lorenz curve ------------------------------------------------------------------------


def _lorenz_oracle() -> str:
    return f"""
    WITH ranked AS (
      SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_docs, chars,
             CAST(sum(chars) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_chars,
             CAST(sum(chars) OVER () AS BIGINT) AS total_chars
      FROM per
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, chars, cum_chars,
           {ratio_e4_sql('cum_chars', 'total_chars')} AS cum_share_e4
    FROM cum
    """


@query(
    "lorenz_curve_deciles",
    oracle=_lorenz_oracle(),
    survey_ref="§2.4 extension: Lorenz curve of content mass — cumulative "
    "character share per doc-count decile (fully tiebroken ntile), the "
    "curve behind gini_key_skew's single number; exact e4 shares",
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is corpus mass in the longest documents? The
    10-point Lorenz curve: equal-count deciles by length (deterministic
    ntile with doc_id tiebreak), cumulative exact character sums, e4
    shares. The decile assignment is the scale-safe bucketed-ntile build
    (operators/scale_windows.py): per-value counts + one cumulative window
    over the n_chars SUPPORT + a value-partitioned row_number — no
    single-partition sort of the corpus (r5 verdict item 3); the oracle
    keeps the native global-ntile construction, so hash equality proves
    the swap exact. The only remaining unpartitioned windows run over 10
    decile rows."""

    docs = load_table(spark, sf_dir, "documents")
    ranked = bucketed_ntile(
        docs.select("n_chars", "doc_id"),
        F.col("n_chars"),
        [F.col("doc_id")],
        10,
        out="decile",
    ).select("n_chars", "decile")
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy()
    cum = per.select(
        F.col("decile").cast("long").alias("decile"),
        "n_docs",
        "chars",
        F.sum("chars").over(w_cum).cast("long").alias("cum_chars"),
        F.sum("chars").over(w_tot).cast("long").alias("total_chars"),
    )
    return cum.select(
        "decile",
        "n_docs",
        "chars",
        "cum_chars",
        ratio_e4("cum_chars", "total_chars").alias("cum_share_e4"),
    )


# --- Tukey fences (boxplot outliers, exact) --------------------------------------------


@query(
    "tukey_fences_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v6,
             event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v6, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    q AS (
      SELECT event_type, v6, rk, n,
             max(CASE WHEN rk = (n + 3) // 4 THEN v6 END)
               OVER (PARTITION BY event_type) AS q1,
             max(CASE WHEN rk = (3 * n + 3) // 4 THEN v6 END)
               OVER (PARTITION BY event_type) AS q3
      FROM ranked
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(q1) AS BIGINT) AS q1_v6,
           CAST(max(q3) AS BIGINT) AS q3_v6,
           CAST(sum(CASE WHEN 2 * v6 < 2 * q1 - 3 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 2 * v6 > 2 * q3 + 3 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM q GROUP BY 1
    """,
    survey_ref="§2.4 robust stats: Tukey boxplot fences — type-1 "
    "quartiles rank-picked exactly (fully tiebroken), 1.5·IQR fences "
    "evaluated as the DOUBLED integer inequality 2v < 2Q1 − 3·IQR (no "
    "halves, no floats); the boxplot companion of the MAD and 3σ "
    "detectors",
)
def tukey_fences_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic boxplot screen, typed-hash-exact: one exchange on
    event_type carries the rank window, the two conditional-max
    quartile broadcasts (window form — no self-join back), and the
    fence counts. Doubling both sides of the 1.5·IQR comparison keeps
    every operand BIGINT."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
        "event_id",
    )
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_all = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "v6",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    q = ranked.select(
        "event_type",
        "v6",
        "n",
        F.max(F.when(F.col("rk") == F.expr("(n + 3) div 4"), F.col("v6")))
        .over(w_all)
        .alias("q1"),
        F.max(F.when(F.col("rk") == F.expr("(3 * n + 3) div 4"), F.col("v6")))
        .over(w_all)
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return q.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("q1").cast("long").alias("q1_v6"),
        F.max("q3").cast("long").alias("q3_v6"),
        F.sum((2 * F.col("v6") < 2 * F.col("q1") - 3 * iqr).cast("long"))
        .cast("long")
        .alias("n_low"),
        F.sum((2 * F.col("v6") > 2 * F.col("q3") + 3 * iqr).cast("long"))
        .cast("long")
        .alias("n_high"),
    )


# --- Theil–Sen robust trend ------------------------------------------------------------


@query(
    "theil_sen_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             (epoch_us(o_orderdate) // 86400000000) // 365 AS yr,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.yr, a.d AS di, b.d AS dj,
             CAST(b.c - a.c AS BIGINT) AS num,
             CAST(b.d - a.d AS BIGINT) AS den,
             CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.yr = a.yr AND b.d > a.d
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY yr
                                   ORDER BY slope, di, dj) AS rk,
             count(*) OVER (PARTITION BY yr) AS n
      FROM slopes
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(num AS BIGINT) AS med_num, CAST(den AS BIGINT) AS med_den,
           CAST(di AS BIGINT) AS day_i, CAST(dj AS BIGINT) AS day_j,
           CAST(n AS BIGINT) AS n_pairs
    FROM ranked WHERE rk = (n + 1) // 2
    """,
    survey_ref="§2.4 robust stats: Theil–Sen estimator per 365-day "
    "bucket — the median of all within-bucket pairwise day-count slopes "
    "(lower median, deterministic (value, di, dj) order; each slope is "
    "ONE double division of exact integers, identical in both engines); "
    "the breakdown-point-29% trend line beside least-squares "
    "ols_trend_daily",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust order-volume trend per 365-day bucket: the daily-count
    table is tiny after the one fact agg (~2.4 k days) and the pair join
    is bucket-local, so the per-bucket sort is ~365²/2 ≈ 67 k rows and
    every bucket sorts IN PARALLEL (the global-median form was a
    single-reducer sort of days²/2 ≈ 2.9 M rows — measured 6.5 s vs
    ~1.5 s for this form, and days² is time-span-bounded, not
    sf-bounded, so the bucketed shape is also what a longer deployment
    needs). Theil–Sen IS pairwise; the median slope ships as the chosen
    pair's EXACT num/den (the float is only the sort key, ordered
    identically in both engines with an id tiebreak)."""
    orders = load_table(spark, sf_dir, "orders")
    # parquet date columns land as TIMESTAMP_NTZ; unix_micros needs a cast
    # (UTC session makes it a pure relabel — the r5 lesson)
    daily = orders.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).withColumn(
        "yr", F.expr("d div 365")
    )
    a = daily.select("yr", F.col("d").alias("di"), F.col("c").alias("ci"))
    b = daily.select(
        F.col("yr").alias("_yr"), F.col("d").alias("dj"), F.col("c").alias("cj")
    )
    slopes = a.join(
        b, (F.col("_yr") == F.col("yr")) & (F.col("dj") > F.col("di"))
    ).select(
        "yr",
        "di",
        "dj",
        (F.col("cj") - F.col("ci")).cast("long").alias("num"),
        (F.col("dj") - F.col("di")).cast("long").alias("den"),
        (
            (F.col("cj") - F.col("ci")).cast("double")
            / (F.col("dj") - F.col("di")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("yr").orderBy("slope", "di", "dj")
    ranked = slopes.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("yr")).alias("n"),
    )
    return ranked.where(F.col("rk") == F.expr("(n + 1) div 2")).select(
        F.col("yr").cast("long").alias("yr"),
        F.col("num").alias("med_num"),
        F.col("den").alias("med_den"),
        F.col("di").alias("day_i"),
        F.col("dj").alias("day_j"),
        F.col("n").cast("long").alias("n_pairs"),
    )


# --- Wald–Wolfowitz runs test -------------------------------------------------------------


@query(
    "runs_test_randomness",
    oracle="""
    WITH v AS (
      SELECT event_type, epoch_us(ts) AS us, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    med AS (
      SELECT event_type, v6, us, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v6, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    tagged AS (
      SELECT event_type, us, event_id,
             CASE WHEN 2 * rk <= n THEN 0 ELSE 1 END AS hi
      FROM med
    ),
    runs AS (
      SELECT event_type, hi,
             CASE WHEN lag(hi) OVER w IS NULL OR lag(hi) OVER w <> hi
                  THEN 1 ELSE 0 END AS new_run
      FROM tagged
      WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
    )
    SELECT event_type,
           CAST(sum(new_run) AS BIGINT) AS n_runs,
           CAST(sum(1 - hi) AS BIGINT) AS n_below,
           CAST(sum(hi) AS BIGINT) AS n_above
    FROM runs GROUP BY 1
    """,
    survey_ref="§2.4 robust stats: Wald–Wolfowitz runs test inputs — "
    "each value tagged above/below its type's exact rank-median (lower "
    "half by 2·rk ≤ n, integer), runs counted by one lag window in TIME "
    "order; R, n₁, n₂ exact (the z-score is consumer-side float) — the "
    "serial-independence screen beside ACF",
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the series random around its median, or does it cluster? Two
    windows on the SAME type key (one exchange: rank-by-value, then
    run-boundaries by time) + one agg. Median split via 2·rk ≤ n keeps
    the tag integer-exact; expected runs 1 + 2n₁n₂/n is left to the
    reader because R, n₁, n₂ ARE the sufficient statistics."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_n = Window.partitionBy("event_type")
    tagged = ev.select(
        "event_type",
        "us",
        "event_id",
        F.when(
            2 * F.row_number().over(w_rk) <= F.count(F.lit(1)).over(w_n), 0
        )
        .otherwise(1)
        .alias("hi"),
    )
    w_t = Window.partitionBy("event_type").orderBy("us", "event_id")
    prev = F.lag("hi").over(w_t)
    runs = tagged.select(
        "event_type",
        "hi",
        F.when(prev.isNull() | (prev != F.col("hi")), 1).otherwise(0).alias("new_run"),
    )
    return runs.groupBy("event_type").agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum(F.lit(1) - F.col("hi")).cast("long").alias("n_below"),
        F.sum("hi").cast("long").alias("n_above"),
    )


# --- winsorized mean (robust stats) -------------------------------------------


@query(
    "winsorized_mean_value",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v6, event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6,
             row_number() OVER (PARTITION BY event_type ORDER BY v6, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    q AS (
      SELECT event_type, v6, rk, n,
             max(CASE WHEN rk = (5 * n + 99) // 100 THEN v6 END)
               OVER (PARTITION BY event_type) AS p05,
             max(CASE WHEN rk = (95 * n + 99) // 100 THEN v6 END)
               OVER (PARTITION BY event_type) AS p95
      FROM ranked
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(p05) AS BIGINT) AS p05_v6,
           CAST(max(p95) AS BIGINT) AS p95_v6,
           CAST(sum(least(greatest(v6, p05), p95)) AS BIGINT)
             AS sum_winsorized_v6,
           CAST(sum(CASE WHEN v6 < p05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(sum(CASE WHEN v6 > p95 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high
    FROM q GROUP BY 1
    """,
    survey_ref="§2.4 robust stats: winsorized mean — type-1 exact "
    "rank-picked p05/p95 per key, values clamped into [p05, p95], all "
    "sums exact BIGINT (the trimming companion of tukey_fences / MAD; "
    "Tukey 1962)",
)
def winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: clamp values into their exact [p05, p95] and report
    the winsorized sum + clip counts (mean = sum/n left as exact num/den —
    signed integer division diverges cross-engine). Percentiles are
    rank-picked exactly on the u6 integer scale, fully tiebroken by
    event_id (the tukey_fences pattern); one keyed exchange carries the
    rank window, both conditional-max windows, and the final aggregate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") * 1000000).cast("long").alias("v6"),
        "event_id",
    )
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_all = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "v6",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    q = ranked.select(
        "event_type",
        "v6",
        "n",
        F.max(
            F.when(F.col("rk") == F.expr("(5 * n + 99) div 100"), F.col("v6"))
        ).over(w_all).alias("p05"),
        F.max(
            F.when(F.col("rk") == F.expr("(95 * n + 99) div 100"), F.col("v6"))
        ).over(w_all).alias("p95"),
    )
    return q.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("p05").cast("long").alias("p05_v6"),
        F.max("p95").cast("long").alias("p95_v6"),
        F.sum(F.least(F.greatest(F.col("v6"), F.col("p05")), F.col("p95")))
        .cast("long")
        .alias("sum_winsorized_v6"),
        F.sum((F.col("v6") < F.col("p05")).cast("long"))
        .cast("long")
        .alias("n_clipped_low"),
        F.sum((F.col("v6") > F.col("p95")).cast("long"))
        .cast("long")
        .alias("n_clipped_high"),
    )


# --- Spearman rank correlation (scale-safe global ranks) -----------------------


@query(
    "spearman_rho_corr",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT c.c_custkey, c.c_acctbal, s.spend
      FROM customer c JOIN spend s ON s.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT c_custkey,
             row_number() OVER (ORDER BY c_acctbal, c_custkey) AS rx,
             row_number() OVER (ORDER BY spend, c_custkey) AS ry
      FROM b
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      FROM r
    )
    SELECT n, sum_d2,
           CAST(n * n * n - n - 6 * sum_d2 AS BIGINT) AS rho_num,
           CAST(n * n * n - n AS BIGINT) AS rho_den
    FROM agg
    """,
    survey_ref="§2.4 extension: Spearman rank correlation (account balance "
    "vs lifetime spend) — monotone-association screen beside Pearson "
    "pairwise_corr; ranks are unique by construction ((value, custkey) "
    "total order), rho is the exact rational (n³−n−6Σd²)/(n³−n), and both "
    "global ranks come from the bucketed scale-safe build, never a "
    "single-partition sort",
)
def spearman_rho_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman's rho between customer account balance and lifetime spend
    (cents), over customers with at least one order. The monotone twin of
    pairwise_corr's Pearson: outliers in either tail can't dominate
    because only ranks enter.

    Ranks: row_number over (value, c_custkey) — UNIQUE by construction, so
    the d²-form of rho is exact (no tie-averaged ranks needed; the
    tiebreak is part of the declared statistic). Both rank vectors are
    built with operators/scale_windows.py::bucketed_global_rank (acctbal
    bucketed by floor(dollar), spend by $1,000 bands — both bounded
    supports), so no stage sorts the sf-scaled customer table in one
    task. The joined base is checkpointed once: each bucketed rank
    references its input twice, and the two ranks + final join would
    otherwise re-run the spend agg four times (the r6 rfm lesson).

    rho ships as the exact rational rho_num/rho_den (n³−n−6Σd² over
    n³−n): no division, hence no signed-div cross-engine trap, and
    int64-exact while n < ~2M customers-with-orders (n³ < 9.2e18);
    past that, decompose per the exact_math overflow note."""
    spend = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend")
        )
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    base = cust.join(
        spend, cust["c_custkey"] == spend["o_custkey"]
    ).select("c_custkey", "c_acctbal", "spend")
    # feeds two bucketed ranks (2 references each) — materialize once
    base = checkpoint(base)
    rx = bucketed_global_rank(
        base,
        bucket=F.floor("c_acctbal").cast("long"),
        within_order=[F.col("c_acctbal"), F.col("c_custkey")],
        out="rx",
    ).select("c_custkey", "rx")
    ry = bucketed_global_rank(
        base,
        bucket=F.expr("spend div 100000"),
        within_order=[F.col("spend"), F.col("c_custkey")],
        out="ry",
    ).select(F.col("c_custkey").alias("_ck"), "ry")
    d = rx.join(ry, rx["c_custkey"] == ry["_ck"]).select(
        (F.col("rx") - F.col("ry")).alias("d")
    )
    agg = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sum_d2"),
    )
    n, d2 = F.col("n"), F.col("sum_d2")
    return agg.select(
        "n",
        "sum_d2",
        (n * n * n - n - 6 * d2).cast("long").alias("rho_num"),
        (n * n * n - n).cast("long").alias("rho_den"),
    )


# --- Kendall concordance between two daily series -------------------------------


@query(
    "kendall_tau_daily",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             (epoch_us(o_orderdate) // 86400000000) // 365 AS yr,
             CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS v
      FROM orders GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.yr,
             CAST(b.c - a.c AS BIGINT) AS dx,
             CAST(b.v - a.v AS BIGINT) AS dy
      FROM daily a JOIN daily b ON b.yr = a.yr AND b.d > a.d
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS concordant,
           CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS discordant,
           CAST(sum(CASE WHEN dx = 0 AND dy <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties_x,
           CAST(sum(CASE WHEN dy = 0 AND dx <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties_y,
           CAST(sum(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS ties_xy,
           CAST(sum(CASE WHEN dx * dy > 0 THEN 1
                         WHEN dx * dy < 0 THEN -1 ELSE 0 END) AS BIGINT) AS s
    FROM pairs GROUP BY yr
    """,
    survey_ref="§2.4 extension: Kendall concordance per 365-day bucket "
    "between daily order count and daily revenue — rank-based association "
    "with exact concordant/discordant/tie counts and the signed S "
    "statistic (τ_b's ingredients as exact integers; no division, no "
    "float)",
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall concordance between two daily series (order count vs
    revenue cents) per 365-day bucket: every within-bucket day pair
    classified as concordant / discordant / x-tie / y-tie / both-tie by
    exact integer sign products. S = C − D ships signed but undivided
    (τ_a = S / n_pairs, τ_b = S / sqrt((n_pairs−ties_x−ties_xy)(n_pairs−
    ties_y−ties_xy)) are one float op away for a consumer; the gate keeps
    the exact integers).

    Scale shape: theil_sen_daily_trend's grain — one fact agg to the
    daily table (calendar-bounded, not sf-scaled: more data fills the
    same days), then a YEAR-bucketed equi pair join, so pairs are
    bucket-local (~365²/2 per bucket) and every bucket proceeds in
    parallel; no cartesian node, no global sort, no window at all."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.expr(
                "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
            ).alias("d")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v"),
        )
        .withColumn("yr", F.expr("d div 365"))
    )
    a = daily.select("yr", F.col("d").alias("di"), F.col("c").alias("ci"), F.col("v").alias("vi"))
    b = daily.select(
        F.col("yr").alias("_yr"),
        F.col("d").alias("dj"),
        F.col("c").alias("cj"),
        F.col("v").alias("vj"),
    )
    pairs = a.join(
        b, (F.col("_yr") == F.col("yr")) & (F.col("dj") > F.col("di"))
    ).select(
        "yr",
        (F.col("cj") - F.col("ci")).cast("long").alias("dx"),
        (F.col("vj") - F.col("vi")).cast("long").alias("dy"),
    )
    prod = F.col("dx") * F.col("dy")
    return pairs.groupBy("yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(prod > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(prod < 0, 1).otherwise(0)).cast("long").alias("discordant"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") != 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("ties_x"),
        F.sum(
            F.when((F.col("dy") == 0) & (F.col("dx") != 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("ties_y"),
        F.sum(
            F.when((F.col("dx") == 0) & (F.col("dy") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("ties_xy"),
        F.sum(
            F.when(prod > 0, 1).when(prod < 0, -1).otherwise(0)
        )
        .cast("long")
        .alias("s"),
    ).select(
        F.col("yr").cast("long").alias("yr"),
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        "ties_xy",
        "s",
    )


# --- CUPED variance-reduction moments ------------------------------------------------


@query(
    "cuped_moments",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us,
             CAST(floor(value * 100) AS BIGINT) AS v2
      FROM events
    ),
    b AS (SELECT min(us) AS t0, max(us) AS t1 FROM ev),
    cut AS (SELECT t0 + ((t1 - t0) * 3) // 5 AS c FROM b),
    u AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
             CAST(sum(CASE WHEN us <  (SELECT c FROM cut) THEN v2 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(sum(CASE WHEN us >= (SELECT c FROM cut) THEN v2 ELSE 0 END)
                  AS BIGINT) AS y
      FROM ev GROUP BY 1
    )
    SELECT CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN variant = 0 THEN x ELSE 0 END) AS BIGINT) AS sx0,
           CAST(sum(CASE WHEN variant = 1 THEN x ELSE 0 END) AS BIGINT) AS sx1,
           CAST(sum(CASE WHEN variant = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0,
           CAST(sum(CASE WHEN variant = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
           CAST(count(*) * sum(x * y) - sum(x) * sum(y) AS BIGINT)
             AS theta_num,
           CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)
             AS theta_den
    FROM u
    """,
    survey_ref="§2.4 extension: CUPED variance reduction (Deng et al. "
    "WSDM'13) — pre-period covariate moments for the A/B family: per-user "
    "pre/post integer-cents sums, per-variant totals, and the pooled "
    "θ = cov(pre,post)/var(pre) as the exact rational nΣxy−ΣxΣy over "
    "nΣx²−(Σx)² (the ols_trend num/den discipline, sign-safe undivided)",
)
def cuped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation-platform companion to ab_test_zstat: CUPED
    adjusts each user's post-period metric by θ·(pre-period metric),
    removing pre-existing between-user variance from the treatment-effect
    estimate. Everything the adjustment needs ships as exact BIGINTs —
    per-variant counts and pre/post sums plus the pooled θ numerator /
    denominator; the one float composition Δ_adj = Δy − θ·Δx happens
    consumer-side (composing it exactly would overflow int64, per the
    exact_math decomposition note).

    Shape: one fact scan → per-user conditional pre/post sums (hash agg
    on user), → ONE global agg with conditional per-variant sums and the
    pooled moments (map-side combined). The split cut is a 1-row global
    min/max agg. Deterministic variant = user_id % 2 (the hash_split
    convention).

    int64 bound (advice r8): theta_num/theta_den need n·Σ(x·y) and
    n·Σ(x²) < 2^63 — with per-user cent sums ~1e6 that holds to ~1e5
    users × 1e6 events/user (n·x·y ≈ 1e5·1e12 = 1e17 ≪ 9.2e18); at
    sf0.1 the headroom is ~600×. Past the bound the engines FAIL LOUDLY
    rather than diverge: Spark 4 runs ANSI mode (long-sum overflow
    raises ARITHMETIC_OVERFLOW; verified div-0 raises too, r9) and the
    oracle's CAST(HUGEINT AS BIGINT) errors in DuckDB. For larger
    scales decompose per operators/exact_math.py (spearman_rho_corr's
    documented escape hatch): center by the integer mean first, or
    emit per-variant Σx/Σy/Σxy/Σx² and compose driver-side in Python
    arbitrary-precision ints."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        F.floor(F.col("value") * 100).cast("long").alias("v2"),
    )
    bounds = ev.agg(F.min("us").alias("t0"), F.max("us").alias("t1")).select(
        F.expr("t0 + ((t1 - t0) * 3) div 5").alias("c")
    )
    u = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("c"), F.col("v2")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("us") >= F.col("c"), F.col("v2")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .select(
            (F.col("user_id") % 2).cast("int").alias("variant"), "x", "y"
        )
    )
    n = F.count(F.lit(1))
    return u.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("variant") == 0, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx0"),
        F.sum(F.when(F.col("variant") == 1, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx1"),
        F.sum(F.when(F.col("variant") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy0"),
        F.sum(F.when(F.col("variant") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy1"),
        (n * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y"))
        .cast("long")
        .alias("theta_num"),
        (n * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x"))
        .cast("long")
        .alias("theta_den"),
    )
