"""Round-4 surface: pipeline quality & governance operators (§2 extensions).

Data-side selection (DSIR importance weighting, curriculum stages,
leakage-safe group splits), sketch-accelerated decontamination (a
deterministic Bloom filter with measured false positives), declarative
data-quality validation (Deequ-style constraint suite), graph score
propagation (PageRank step), binary-quantized ANN (sign bits + Hamming
re-rank), and three time-series service ops (cohort retention, sweep-line
peak concurrency, M4 downsampling, seasonal-naive forecastability).

Float discipline follows the repo convention (module docstring of
nilm_analysis.py): grouped float sums/avgs rounded, log-based scores
rounded 4dp (the surprisal rule), orderings only over
cross-engine-deterministic values, counts and integer/bit math exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4,
    ratio_e4_sql,
    ratio_scaled_sql,
)
from nilm_data_framework_spark.operators import aggregates as AG
from nilm_data_framework_spark.operators import graph as G
from nilm_data_framework_spark.operators import joins as J
from nilm_data_framework_spark.operators import lm as LM
from nilm_data_framework_spark.operators import robust as RB
from nilm_data_framework_spark.operators import quality_checks as QC
from nilm_data_framework_spark.operators import resample as RS
from nilm_data_framework_spark.operators import sampling as SM
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators import sketches as SK
from nilm_data_framework_spark.operators import splits as SP
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators import windows as W
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents", parallelize=True)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# Shared DuckDB fragments (identical token definitions to operators/text.py).
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


# --- DSIR importance weights --------------------------------------------------

_DSIR_B = LM.DSIR_BUCKETS


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    bi AS (
      SELECT doc_id, source,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i+1])) AS g
      FROM toks WHERE len(toks) >= 2
    ),
    db AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % {_DSIR_B} AS b,
             count(*) AS c
      FROM bi GROUP BY 1, 2, 3
    ),
    raw AS (SELECT b, sum(c) AS n_r FROM db GROUP BY b),
    tgt AS (SELECT b, sum(c) AS n_t FROM db WHERE source = 'src0' GROUP BY b),
    tot AS (SELECT (SELECT sum(n_r) FROM raw) AS nr,
                   (SELECT sum(n_t) FROM tgt) AS nt),
    s AS (
      SELECT d.doc_id, d.c,
             ln((coalesce(t.n_t, 0) + 1) / (tot.nt + {_DSIR_B}.0))
               - ln((r.n_r + 1) / (tot.nr + {_DSIR_B}.0)) AS lr
      FROM db d JOIN raw r USING (b) LEFT JOIN tgt t USING (b) CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           round(sum(c * lr), 4) AS log_w
    FROM s GROUP BY doc_id
    """,
    survey_ref="§2.10 data selection: DSIR hashed-bigram importance weights (arXiv:2302.03169)",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every document's hashed-bigram profile against the target
    domain (source 'src0' — the trusted-source stand-in): log w > 0 means
    "looks more like the target than like the average of the corpus".
    Sampling ∝ w is the DSIR data-selection recipe; the score itself is the
    driver-checkable part. Operator: operators/lm.py::dsir_importance."""
    d = _docs(spark, sf_dir)
    return LM.dsir_importance(d, F.col("source") == "src0")


# --- Bloom-filter decontamination ---------------------------------------------

_BLOOM_M = 4096
_BLOOM_K = 3


@query(
    "bloom_decontamination",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, {_TOKS} AS toks FROM documents
    ),
    g3 AS (
      SELECT doc_id, lang,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' ')))) AS g
      FROM toks WHERE len(toks) >= 3
    ),
    eg AS (SELECT DISTINCT g FROM g3 WHERE doc_id % 40 = 0),
    bits AS (
      SELECT DISTINCT unnest({SK.bloom_positions_sql('g', _BLOOM_M, _BLOOM_K)})
        AS pos
      FROM eg
    ),
    tg AS (SELECT doc_id, lang, g FROM g3 WHERE doc_id % 40 <> 0),
    pp AS (
      SELECT doc_id, lang, g,
             unnest({SK.bloom_positions_sql('g', _BLOOM_M, _BLOOM_K)}) AS pos
      FROM tg
    ),
    need AS (SELECT doc_id, g, count(DISTINCT pos) AS need
             FROM pp GROUP BY doc_id, g),
    have AS (SELECT p.doc_id, p.g, count(DISTINCT p.pos) AS have
             FROM pp p JOIN bits b USING (pos) GROUP BY p.doc_id, p.g),
    bloom_docs AS (
      SELECT DISTINCT n.doc_id
      FROM need n JOIN have h ON n.doc_id = h.doc_id AND n.g = h.g
                            AND h.have = n.need
    ),
    exact_docs AS (
      SELECT DISTINCT t.doc_id FROM tg t JOIN eg e ON t.g = e.g
    ),
    train_docs AS (
      SELECT DISTINCT doc_id, lang FROM documents WHERE doc_id % 40 <> 0
    )
    SELECT d.lang, count(*) AS n_train_docs,
           CAST(sum(CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_bloom_flagged,
           CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_exact_flagged,
           CAST(sum(CASE WHEN b.doc_id IS NOT NULL AND e.doc_id IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos
    FROM train_docs d
    LEFT JOIN bloom_docs b ON d.doc_id = b.doc_id
    LEFT JOIN exact_docs e ON d.doc_id = e.doc_id
    GROUP BY d.lang
    """,
    survey_ref="§2.10 decontamination at scale: Bloom-filter screen (build on eval grams, probe train; measured FPs next to the exact answer)",
)
def bloom_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval set = every 40th doc (the repo's decontamination convention);
    its word-3-grams build a deterministic m=4096/k=3 Bloom filter, train
    docs are flagged if ANY gram fully hits. Reported per language next to
    the exact-join answer, so the gate measures the filter's false-positive
    count every round (the exact set is provably a subset — bloom never
    misses). Operators: operators/sketches.py."""
    d = _docs(spark, sf_dir)
    # ONE corpus scan + tokenize: the audit reads the doc set from three
    # branches (train grams for both probes, eval grams, the train census)
    # — the old form re-scanned and re-tokenized per branch. Checkpoint the
    # COMPACT per-doc gram-array frame (the prefix-filter discipline, r10:
    # one tokenize pass' output, not the exploded rows) and derive every
    # branch from it.
    base = d.select(
        "doc_id", "lang", T.word_ngrams(F.col("text"), 3).alias("_gs")
    ).transform(checkpoint)
    grams = base.filter(F.col("doc_id") % 40 != 0).select(
        "doc_id", "lang", F.explode("_gs").alias("g")
    )
    eval_grams = (
        base.filter(F.col("doc_id") % 40 == 0)
        .select(F.explode("_gs").alias("g"))
        .distinct()
    )
    bits = SK.bloom_build(eval_grams, "g", _BLOOM_M, _BLOOM_K)
    bloom_docs = SK.bloom_probe_docs(
        grams, bits, ["doc_id"], "g", _BLOOM_M, _BLOOM_K,
        # word_ngrams applies array_distinct per doc, so (doc_id, g) rows
        # are unique — the fast plain-count path is sound here
        distinct_grams=True,
    ).withColumn("_bloom", F.lit(1))
    exact_docs = (
        grams.join(eval_grams, "g").select("doc_id").distinct()
        .withColumn("_exact", F.lit(1))
    )
    train = (
        base.filter(F.col("doc_id") % 40 != 0).select("doc_id", "lang").distinct()
    )
    flagged = (
        train.join(bloom_docs, "doc_id", "left")
        .join(exact_docs, "doc_id", "left")
    )
    return flagged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train_docs"),
        F.sum(F.when(F.col("_bloom").isNotNull(), 1).otherwise(0)).alias(
            "n_bloom_flagged"
        ),
        F.sum(F.when(F.col("_exact").isNotNull(), 1).otherwise(0)).alias(
            "n_exact_flagged"
        ),
        F.sum(
            F.when(F.col("_bloom").isNotNull() & F.col("_exact").isNull(), 1)
            .otherwise(0)
        ).alias("n_false_pos"),
    )


# --- Deequ-style constraint suite ---------------------------------------------


@query(
    "constraint_suite_report",
    oracle=f"""
    SELECT 'completeness_o_custkey' AS check_name,
           round({ratio_scaled_sql('count(o_custkey)', 'count(*)', 6)}
                 / 1000000.0, 6) AS metric,
           {ratio_scaled_sql('count(o_custkey)', 'count(*)', 6)}
                 >= 1000000 AS passed
    FROM orders
    UNION ALL
    SELECT 'unique_o_orderkey',
           round({ratio_scaled_sql('count(DISTINCT o_orderkey)', 'count(*)', 6)}
                 / 1000000.0, 6),
           {ratio_scaled_sql('count(DISTINCT o_orderkey)', 'count(*)', 6)}
                 >= 1000000
    FROM orders
    UNION ALL
    SELECT 'min_o_totalprice_positive',
           round(min(o_totalprice), 6),
           round(min(o_totalprice), 6) >= 0.01
    FROM orders
    UNION ALL
    SELECT 'max_o_totalprice_bounded',
           round(max(o_totalprice), 6),
           round(max(o_totalprice), 6) <= 1000000.0
    FROM orders
    UNION ALL
    SELECT 'status_in_set',
           round({ratio_scaled_sql("sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)", 'count(*)', 6)}
                 / 1000000.0, 6),
           {ratio_scaled_sql("sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1 ELSE 0 END)", 'count(*)', 6)} >= 1000000
    FROM orders
    UNION ALL
    SELECT 'fk_orders_customer', CAST(count(*) AS DOUBLE), count(*) = 0
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_custkey IS NOT NULL AND c.c_custkey IS NULL
    """,
    survey_ref="§2 extension: declarative data-quality constraint suite (Deequ/Great Expectations shape; one-pass metrics + FK orphan join)",
)
def constraint_suite_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validation report over ``orders``: five single-pass metrics (one
    scan, unpivoted via stack) + one referential-integrity orphan count
    against ``customer``. Operator: operators/quality_checks.py."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    checks = [
        QC.AggCheck("completeness_o_custkey", QC.completeness("o_custkey"), lo=1.0),
        QC.AggCheck("unique_o_orderkey", QC.uniqueness("o_orderkey"), lo=1.0),
        QC.AggCheck(
            "min_o_totalprice_positive", F.min("o_totalprice"), lo=0.01
        ),
        QC.AggCheck(
            "max_o_totalprice_bounded", F.max("o_totalprice"), hi=1000000.0
        ),
        QC.AggCheck(
            "status_in_set",
            QC.in_set_ratio("o_orderstatus", ["O", "F", "P"]),
            lo=1.0,
        ),
    ]
    return QC.check_report(
        orders, checks,
        ref_checks=[("fk_orders_customer", "o_custkey", customer, "c_custkey")],
    )


# --- cohort retention ---------------------------------------------------------

_WEEK_S = 7 * 86400


@query(
    "cohort_retention",
    oracle=f"""
    WITH act AS (
      SELECT DISTINCT user_id,
             (epoch_us(ts) // 1000000) // {_WEEK_S} AS p
      FROM events
    ),
    first AS (SELECT user_id, min(p) AS cohort FROM act GROUP BY user_id)
    SELECT f.cohort AS cohort_period, a.p - f.cohort AS period_offset,
           count(DISTINCT a.user_id) AS n_active
    FROM act a JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
    survey_ref="§2.4 extension: cohort retention matrix (first-touch cohorts × period offsets, distinct-entity counts)",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the events stream (fixed 7-day epoch
    periods — no week-start/timezone semantics to disagree on). Offset-0
    rows double as cohort sizes. Operator:
    operators/aggregates.py::cohort_retention."""
    return AG.cohort_retention(_events(spark, sf_dir), "user_id", period_s=_WEEK_S)


# --- sweep-line peak concurrency ----------------------------------------------


@query(
    "concurrency_peaks",
    oracle="""
    WITH iv AS (
      SELECT o_orderpriority,
             CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS s,
             CAST(epoch(o_orderdate) AS BIGINT) // 86400
               + (o_orderkey % 28) + 1 AS e
      FROM orders
    ),
    deltas AS (
      SELECT o_orderpriority, t, CAST(sum(d) AS BIGINT) AS delta FROM (
        SELECT o_orderpriority, s AS t, 1 AS d FROM iv
        UNION ALL
        SELECT o_orderpriority, e AS t, -1 AS d FROM iv
      ) GROUP BY 1, 2
    ),
    run AS (
      SELECT o_orderpriority,
             CAST(sum(delta) OVER (PARTITION BY o_orderpriority ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS open
      FROM deltas
    ),
    peaks AS (
      SELECT o_orderpriority, CAST(max(open) AS BIGINT) AS peak_concurrency
      FROM run GROUP BY o_orderpriority
    )
    SELECT p.o_orderpriority, p.peak_concurrency, c.n_intervals
    FROM peaks p JOIN (
      SELECT o_orderpriority, count(*) AS n_intervals FROM iv GROUP BY 1
    ) c USING (o_orderpriority)
    """,
    survey_ref="§2.5 extension: sweep-line interval-overlap aggregate (peak concurrency without a range join)",
)
def concurrency_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-open orders per priority class, each
    order held open for a deterministic (o_orderkey % 28 + 1)-day window —
    the interval-overlap question answered by the sweep line instead of an
    interval × day range join. Operator:
    operators/windows.py::sweepline_concurrency."""
    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        "o_orderpriority",
        F.expr("unix_timestamp(o_orderdate) div 86400").alias("s"),
        (
            F.expr("unix_timestamp(o_orderdate) div 86400")
            + (F.col("o_orderkey") % 28) + 1
        ).alias("e"),
    )
    return W.sweepline_concurrency(iv, ["o_orderpriority"], start="s", end="e")


# --- binary-quantization ANN --------------------------------------------------

_N_QUERIES = 8
_TOP_K = 5
_RERANK = 48
_DIM = 64


def _sign_words_sql(vec: str) -> str:
    """DuckDB twin of operators/similarity.py::sign_words (dim 64 → two
    32-bit words, MSB-first)."""
    words = []
    for w in range(2):
        words.append(
            "list_aggregate(list_transform(range(1, 33), "
            f"j -> CASE WHEN {vec}[{w * 32} + j] >= 0 "
            "THEN (1::BIGINT << (32 - j)) ELSE 0::BIGINT END), 'sum')"
        )
    return "[" + ", ".join(words) + "]"


@query(
    "hamming_topk_rerank",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             {_sign_words_sql('(embedding::DOUBLE[])')} AS w
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, v AS qv, w AS qw FROM e
          WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id, q.qv, c.v AS cv,
             bit_count(xor(q.qw[1], c.w[1])) + bit_count(xor(q.qw[2], c.w[2]))
               AS hamming
      FROM e c, q WHERE c.vec_id <> q.query_id
    ),
    short AS (
      SELECT query_id, match_id, qv, cv, hamming FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY hamming, match_id) AS rk_h
        FROM scored
      ) WHERE rk_h <= {_RERANK}
    ),
    rer AS (
      SELECT query_id, match_id, hamming,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cos
      FROM short
    )
    SELECT query_id, match_id, CAST(hamming AS BIGINT) AS hamming,
           round(cos, 4) AS cosine, rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, match_id) AS rk
      FROM rer
    ) WHERE rk <= {_TOP_K}
    """,
    survey_ref="§2.10 similarity search: binary (sign-bit) quantization + Hamming shortlist + exact re-rank",
)
def hamming_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit-quantized ANN: Hamming distance over packed sign words (32×
    smaller scan than float32) shortlists 48 candidates, exact cosine
    re-ranks to top-5. Operator:
    operators/similarity.py::hamming_rerank_topk."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries_df = emb.filter(F.col("vec_id") < _N_QUERIES)
    out = S.hamming_rerank_topk(
        emb, queries_df, k=_TOP_K, dim=_DIM, rerank=_RERANK
    )
    return out.select(
        "query_id", "match_id", F.col("hamming").cast("long").alias("hamming"),
        F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("long").alias("rk"),
    )


# --- leakage-safe group split -------------------------------------------------

_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@query(
    "leakage_safe_split",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             CASE WHEN CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT)
                       % 100 < 80 THEN 'train'
                  WHEN CAST(('0x' || substr(md5(source), 1, 8)) AS BIGINT)
                       % 100 < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_sources
    FROM s GROUP BY split
    """,
    survey_ref="§6 extension: leakage-safe GROUP split (hash the source, not the row — group-k-fold contamination guard)",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split hashed on the SOURCE key so every document of
    one source lands in one split (row-level hashing leaks near-duplicate
    rows of a source across splits). The structural no-straddle property is
    additionally pinned in tests/test_pipeline_quality.py. Operator:
    operators/splits.py::group_hash_split."""
    d = _docs(spark, sf_dir)
    s = SP.group_hash_split(d, "source", _SPLITS)
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
    )


# --- curriculum stages --------------------------------------------------------

_N_STAGES = 4


@query(
    "curriculum_stages",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({_TOKS}) AS n_tok FROM documents
    ),
    staged AS (
      SELECT lang, n_tok,
             ntile({_N_STAGES}) OVER (PARTITION BY lang
                                      ORDER BY n_tok, doc_id) AS stage
      FROM t
    )
    SELECT lang, stage, count(*) AS n_docs,
           CAST(min(n_tok) AS BIGINT) AS min_tokens,
           CAST(max(n_tok) AS BIGINT) AS max_tokens
    FROM staged GROUP BY lang, stage
    """,
    survey_ref="§2.10 curation: curriculum-stage assignment (easiest-first ntile layout per stratum)",
)
def curriculum_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Short-to-long curriculum: per language, rank documents by token
    count (doc_id tie-break → total order, deterministic ntile boundaries)
    into 4 equal-count stages; the audit reports each stage's size and
    difficulty span — monotone non-overlapping ranges by construction.
    Operator: operators/sampling.py::curriculum_stages."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("n_tok")
    )
    staged = SM.curriculum_stages(
        t, "lang", F.col("n_tok").asc(), _N_STAGES, [F.col("doc_id").asc()]
    )
    return staged.groupBy("lang", "stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


# --- M4 downsampling ----------------------------------------------------------

_M4_BUCKET = 86400


@query(
    "m4_downsample",
    oracle=f"""
    WITH d AS (
      SELECT event_type, event_id, ts, value,
             (epoch_us(ts) // 1000000) // {_M4_BUCKET} AS bkt
      FROM events
    ),
    ranked AS (
      SELECT event_type, bkt, ts, value,
        row_number() OVER (PARTITION BY event_type, bkt
                           ORDER BY ts, event_id) AS rk_first,
        row_number() OVER (PARTITION BY event_type, bkt
                           ORDER BY ts DESC, event_id DESC) AS rk_last,
        row_number() OVER (PARTITION BY event_type, bkt
                           ORDER BY value, ts, event_id) AS rk_min,
        row_number() OVER (PARTITION BY event_type, bkt
                           ORDER BY value DESC, ts, event_id) AS rk_max
      FROM d
    )
    SELECT event_type, bkt AS bucket, 'first' AS point_role,
           ts AS point_ts, value AS point_value
    FROM ranked WHERE rk_first = 1
    UNION ALL
    SELECT event_type, bkt, 'last', ts, value FROM ranked WHERE rk_last = 1
    UNION ALL
    SELECT event_type, bkt, 'min', ts, value FROM ranked WHERE rk_min = 1
    UNION ALL
    SELECT event_type, bkt, 'max', ts, value FROM ranked WHERE rk_max = 1
    """,
    survey_ref="§2.4/§2.5 extension: M4 visualization downsampling (min/max/first/last per pixel bucket; VLDB 2014)",
)
def m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily M4 reduction of the events stream per event type: exactly the
    4 points/bucket that render the line chart pixel-exactly at daily
    resolution. Selected values are RAW rows (no float aggregation), so the
    result is bit-exact cross-engine unrounded. Operator:
    operators/resample.py::m4_downsample."""
    return RS.m4_downsample(
        _events(spark, sf_dir), ["event_type"], bucket_s=_M4_BUCKET, tiebreak="event_id"
    )


# --- seasonal-naive forecastability -------------------------------------------


@query(
    "seasonal_naive_error",
    oracle="""
    WITH series AS (
      SELECT event_type, (epoch_us(ts) // 1000000) // 3600 AS bkt,
             avg(value) AS v
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, v,
             lag(v, 1) OVER (PARTITION BY event_type ORDER BY bkt) AS prev,
             lag(v, 24) OVER (PARTITION BY event_type ORDER BY bkt) AS seas
      FROM series
    )
    SELECT event_type, count(*) AS n_buckets,
           round(avg(abs(v - prev)), 4) AS mae_naive,
           round(avg(abs(v - seas)), 4) AS mae_seasonal,
           round(avg(abs(v - seas)) / avg(abs(v - prev)), 4) AS mase_ratio
    FROM lagged WHERE prev IS NOT NULL AND seas IS NOT NULL
    GROUP BY event_type
    """,
    survey_ref="§2.4 extension: seasonal-naive vs naive forecast error (MASE-style seasonality screen)",
)
def seasonal_naive_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-bucketed events per type: does \"same hour yesterday\" beat
    \"previous hour\" as a forecast? mase_ratio < 1 ⇒ the series has real
    daily structure. Operator:
    operators/resample.py::seasonal_naive_error."""
    return RS.seasonal_naive_error(_events(spark, sf_dir), ["event_type"])


# --- PageRank step ------------------------------------------------------------


@query(
    "pagerank_step",
    oracle="""
    WITH e AS (
      SELECT DISTINCT 's' || l_suppkey AS src, 'p' || l_partkey AS dst
      FROM lineitem
    ),
    v AS (SELECT src AS vertex FROM e UNION SELECT dst FROM e),
    n AS (SELECT count(*) AS n FROM v),
    deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
    dang AS (
      SELECT count(*) * 1.0 / min(n.n) AS dmass
      FROM v CROSS JOIN n
      WHERE vertex NOT IN (SELECT src FROM e)
    ),
    contrib AS (
      SELECT e.dst AS vertex, sum((1.0 / n.n) / d.deg) AS cin
      FROM e JOIN deg d USING (src) CROSS JOIN n
      GROUP BY e.dst
    )
    SELECT v.vertex,
           round((0.15 / n.n
                  + 0.85 * (coalesce(c.cin, 0) + dang.dmass / n.n)) * n.n,
                 6) AS rank_scaled
    FROM v CROSS JOIN n CROSS JOIN dang
    LEFT JOIN contrib c USING (vertex)
    """,
    survey_ref="§2 extension: PageRank power-iteration step over the supplier→part graph (bulk-synchronous score propagation)",
)
def pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank iteration from the uniform start vector over the
    distinct supplier→part edge list (prefixed ids keep the vertex spaces
    disjoint). Ranks are reported ×N (≈1 = average authority) rounded 6dp.
    Part vertices are all dangling — their mass redistributes uniformly,
    which the oracle replays arithmetically. Operator:
    operators/graph.py::pagerank_iteration."""
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the distinct edge list ONCE: every PageRank term (vertex
    # set, N, out-degrees, dangling mass, contributions) derives from it, so
    # the lazy form re-scans lineitem and re-runs the distinct agg per term
    # (~17 scans in the static plan; measured 3.1 s → 1.3 s at sf0.1). The
    # cluster equivalent is persisting the edge table between iterations —
    # the same lineage-cut discipline as connected_components. Vertex ids
    # stay TAGGED LONGS (2k = supplier k, 2k+1 = part k) through the
    # distinct and every join/agg — 8-byte fixed-width shuffle keys instead
    # of strings — and render as the "s{k}"/"p{k}" labels only in the final
    # projection.
    edges = li.select(
        (F.col("l_suppkey") * 2).alias("src"),
        (F.col("l_partkey") * 2 + 1).alias("dst"),
    ).distinct().transform(checkpoint)
    ranks = G.pagerank_iteration(edges)
    n = edges.select(F.col("src").alias("vertex")).unionByName(
        edges.select(F.col("dst").alias("vertex"))
    ).distinct().agg(F.count(F.lit(1)).alias("_n"))
    label = F.when(
        F.col("vertex") % 2 == 0,
        F.concat(F.lit("s"), F.expr("vertex div 2")),
    ).otherwise(F.concat(F.lit("p"), F.expr("vertex div 2")))
    return ranks.crossJoin(F.broadcast(n)).select(
        label.alias("vertex"),
        F.round(F.col("rank") * F.col("_n"), 6).alias("rank_scaled"),
    )


# --- point-in-time SCD2 state lookup ------------------------------------------

_EPOCH_JAN1 = 1704067200  # 2024-01-01 00:00:00 UTC (events fixture origin)
_PIT_DAYS = 30


@query(
    "pit_state_lookup",
    oracle=f"""
    WITH g AS (
      SELECT user_id, d,
             ({_EPOCH_JAN1}::BIGINT + d * 86400) * 1000000 AS gus
      FROM (SELECT DISTINCT user_id FROM events), range(0, {_PIT_DAYS}) t(d)
    ),
    pick AS (
      SELECT g.user_id, g.d, e.event_type,
             row_number() OVER (PARTITION BY g.user_id, g.d
                                ORDER BY e.ts DESC, e.event_id DESC) AS rk
      FROM g JOIN events e
        ON e.user_id = g.user_id AND epoch_us(e.ts) <= g.gus
    )
    SELECT g.user_id, g.d AS day, coalesce(p.event_type, 'none') AS state
    FROM g LEFT JOIN (SELECT user_id, d, event_type FROM pick WHERE rk = 1) p
      ON g.user_id = p.user_id AND g.d = p.d
    """,
    survey_ref="§2.3 extension: point-in-time SCD2 state lookup (as-of carry-forward instead of an interval range join)",
)
def pit_state_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For every user and every day boundary: which state (last event type)
    was in effect at that instant — the point-in-time dimension question a
    range join against SCD2 intervals would answer, done instead with the
    shuffle-lean as-of carry-forward (each row moves exactly once; the
    oracle IS the interval formulation, so the equivalence of the two is
    what the gate checks). Days before a user's first event read 'none'.
    Operator: operators/joins.py::asof_state_join."""
    ev = _events(spark, sf_dir)
    # Dedup right side to one state per (user, micro-ts): ties inside one
    # timestamp would make last() order-dependent.
    wdup = Window.partitionBy("user_id", "_tus").orderBy(F.col("event_id").desc())
    states = (
        ev.select(
            "user_id", F.unix_micros("ts").alias("_tus"), "event_type", "event_id"
        )
        .withColumn("_rk", F.row_number().over(wdup))
        .filter(F.col("_rk") == 1)
        .select("user_id", "_tus", "event_type")
    )
    grid = (
        ev.select("user_id").distinct()
        .select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(_PIT_DAYS - 1))).alias("day"),
        )
        .withColumn(
            "_gus",
            (F.lit(_EPOCH_JAN1) + F.col("day") * 86400).cast("long") * 1000000,
        )
    )
    out = J.asof_state_join(
        grid, states, ["user_id"], left_ts="_gus", right_ts="_tus",
        state_col="event_type",
    )
    return out.select(
        "user_id", "day", F.coalesce(F.col("state"), F.lit("none")).alias("state")
    )


# --- weighted median ----------------------------------------------------------


@query(
    "weighted_median_price",
    oracle="""
    WITH cum AS (
      SELECT l_returnflag, l_extendedprice, l_quantity,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    ),
    crossed AS (
      SELECT l_returnflag, l_extendedprice, tw,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY l_extendedprice) AS rk
      FROM cum WHERE cw * 2 >= tw
    )
    SELECT l_returnflag, l_extendedprice AS wmedian,
           round(tw, 2) AS total_w
    FROM crossed WHERE rk = 1
    """,
    survey_ref="§2.4 extension: exact weighted median (quantity-weighted order statistic, cumulative-weight crossing)",
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag: the price at
    which half the shipped QUANTITY (not half the line rows) is cheaper —
    the volume-weighted center a plain median misstates. The picked value is
    a raw row value (exact); only the weight total is a rounded float agg.
    Operator: operators/robust.py::weighted_median."""
    li = load_table(spark, sf_dir, "lineitem")
    out = RB.weighted_median(
        li, ["l_returnflag"], "l_extendedprice", "l_quantity",
        tiebreak=["l_orderkey", "l_linenumber"],
    )
    return out.select(
        "l_returnflag", "wmedian", F.round("total_w", 2).alias("total_w")
    )


# --- count-min sketch error audit ---------------------------------------------

_CMS_D = 4
_CMS_W = 256
_CMS_TOP = 20


def _cms_bucket_sql(item: str, row: str, width: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('cms' || CAST({row} AS VARCHAR) || ':' "
        f"|| {item}), 1, 15)) AS BIGINT) % {width}"
    )


@query(
    "cms_error_audit",
    oracle=f"""
    WITH cnt AS (
      SELECT tok, count(*) AS c FROM (
        SELECT unnest({_TOKS}) AS tok FROM documents
      ) GROUP BY tok
    ),
    rws AS (SELECT unnest(range(0, {_CMS_D})) AS r),
    sk AS (
      SELECT r, {_cms_bucket_sql('tok', 'r', _CMS_W)} AS bucket,
             sum(c) AS counter
      FROM cnt CROSS JOIN rws GROUP BY 1, 2
    ),
    top AS (SELECT tok, c FROM cnt ORDER BY c DESC, tok LIMIT {_CMS_TOP}),
    est AS (
      SELECT t.tok, t.c, min(s.counter) AS est
      FROM top t CROSS JOIN rws r
      JOIN sk s ON s.r = r.r
               AND s.bucket = {_cms_bucket_sql('t.tok', 'r.r', _CMS_W)}
      GROUP BY 1, 2
    )
    SELECT tok, CAST(c AS BIGINT) AS c_exact, CAST(est AS BIGINT) AS cms_est,
           CAST(est - c AS BIGINT) AS overestimate, est >= c AS sound
    FROM est
    """,
    survey_ref="§2.4 extension: count-min sketch attestation (never-undercount guarantee + measured overestimate vs exact)",
)
def cms_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4×256 count-min sketch over corpus token counts and audit
    its estimates for the top-20 tokens against the exact answer: the gate
    proves the CMS never undercounts (sound = true for every row) and
    measures the collision overestimate each round. The sketch is the
    mergeable fixed-size counter family for streaming/top-k at 100 TB —
    completes the sketch suite next to HLL++ (distinct), percentile_approx
    (quantiles), freqItems (support) and the Bloom filter (membership).
    Operators: operators/sketches.py::cms_build/cms_estimate."""
    d = _docs(spark, sf_dir)
    cnt = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sketch = SK.cms_build(cnt, "tok", "c", _CMS_D, _CMS_W)
    top = cnt.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(_CMS_TOP)
    est = SK.cms_estimate(top, sketch, "tok", _CMS_D, _CMS_W)
    return est.select(
        "tok", F.col("c").alias("c_exact"), "cms_est",
        (F.col("cms_est") - F.col("c")).alias("overestimate"),
        (F.col("cms_est") >= F.col("c")).alias("sound"),
    )


# --- PSI distribution drift ---------------------------------------------------

_PSI_SPLIT_US = (_EPOCH_JAN1 + 15 * 86400) * 1000000
_PSI_BIN_W = 50.0
_PSI_BINS = 10


@query(
    "psi_value_drift",
    oracle=f"""
    WITH binned AS (
      SELECT event_type,
             least(CAST(floor(value / {_PSI_BIN_W}) AS BIGINT), {_PSI_BINS - 1})
               AS b,
             CASE WHEN epoch_us(ts) < {_PSI_SPLIT_US} THEN 1 ELSE 0 END AS ref
      FROM events
    ),
    counts AS (
      SELECT event_type, b, sum(ref) AS nr, sum(1 - ref) AS nc
      FROM binned GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type, sum(nr) AS tr, sum(nc) AS tc
      FROM counts GROUP BY 1
    ),
    scored AS (
      SELECT c.event_type,
             (c.nr + 0.5) / (t.tr + {0.5 * _PSI_BINS}) AS pr,
             (c.nc + 0.5) / (t.tc + {0.5 * _PSI_BINS}) AS pc,
             c.nr, c.nc
      FROM counts c JOIN tot t USING (event_type)
    )
    SELECT event_type,
           round(sum((pc - pr) * ln(pc / pr)), 4) AS psi,
           CAST(sum(nr) AS BIGINT) AS n_ref, CAST(sum(nc) AS BIGINT) AS n_cmp
    FROM scored GROUP BY event_type
    """,
    survey_ref="§2.4 extension: PSI distribution-drift monitor (fixed-bin population stability index, first vs second half)",
)
def psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of the value distribution per event type,
    first half-month (reference) vs second (comparison) — the standard
    "did this feature drift" monitor with engine-independent fixed-width
    bins and add-½ smoothing. Operator: operators/robust.py::psi_drift."""
    ev = _events(spark, sf_dir)
    return RB.psi_drift(
        ev, ["event_type"], "value",
        F.unix_micros("ts") < _PSI_SPLIT_US,
        bin_width=_PSI_BIN_W, n_bins=_PSI_BINS,
    )


# --- exact KS drift statistic -------------------------------------------------


@query(
    "ks_drift_stat",
    oracle=f"""
    WITH tagged AS (
      SELECT event_type, value AS v,
             CASE WHEN epoch_us(ts) < {_PSI_SPLIT_US} THEN 1 ELSE 0 END AS ref
      FROM events
    ),
    pv AS (
      SELECT event_type, v, sum(ref) AS ca, sum(1 - ref) AS cb
      FROM tagged GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type,
             sum(ca) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
             sum(cb) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
             sum(ca) OVER (PARTITION BY event_type) AS na,
             sum(cb) OVER (PARTITION BY event_type) AS nb
      FROM pv
    )
    SELECT event_type,
           round(max(abs(CAST(cuma AS DOUBLE) / na
                         - CAST(cumb AS DOUBLE) / nb)), 4) AS ks,
           CAST(max(na) AS BIGINT) AS n_ref, CAST(max(nb) AS BIGINT) AS n_cmp
    FROM cum GROUP BY 1
    """,
    survey_ref="§2.4 extension: exact two-sample Kolmogorov–Smirnov drift "
    "statistic (bin-free order-statistic monitor next to PSI)",
)
def ks_drift_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS statistic of the value distribution per event
    type, first half-month vs second — the bin-free counterpart of
    psi_value_drift (no grid to choose; every ECDF step is an integer
    ratio so D is cross-engine exact before the 4dp display round).
    Operator: operators/robust.py::ks_statistic."""
    ev = _events(spark, sf_dir)
    out = RB.ks_statistic(
        ev, ["event_type"], "value", F.unix_micros("ts") < _PSI_SPLIT_US
    )
    return out.select(
        "event_type", F.round("ks", 4).alias("ks"), "n_ref", "n_cmp"
    )


# --- chi-square independence --------------------------------------------------


@query(
    "chisq_independence",
    oracle="""
    WITH base AS (
      SELECT event_type AS r,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS c
      FROM events
    ),
    cells AS (SELECT r, c, count(*) AS o FROM base GROUP BY 1, 2),
    rm AS (SELECT r, count(*) AS rt FROM base GROUP BY 1),
    cm AS (SELECT c, count(*) AS ct FROM base GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM base),
    j AS (
      SELECT cells.o, rm.rt, cm.ct, nn.n
      FROM cells JOIN rm USING (r) JOIN cm USING (c) CROSS JOIN nn
    ),
    stat AS (
      SELECT sum((o - CAST(rt AS DOUBLE) * ct / n)
                 * (o - CAST(rt AS DOUBLE) * ct / n)
                 / (CAST(rt AS DOUBLE) * ct / n)) AS chi2_obs,
             sum(CAST(rt AS DOUBLE) * ct / n) AS e_obs,
             max(n) AS n
      FROM j
    )
    SELECT round(stat.chi2_obs + (stat.n - stat.e_obs), 4) AS chi2,
           CAST(((SELECT count(*) FROM rm) - 1)
                * ((SELECT count(*) FROM cm) - 1) AS BIGINT) AS dof,
           CAST(stat.n AS BIGINT) AS n
    FROM stat
    """,
    survey_ref="§2.4 extension: Pearson χ² independence test over the "
    "(event type × weekday) contingency table",
)
def chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² statistic for independence of event type and weekday
    (weekday from pure integer epoch arithmetic so both engines agree on
    the bucket) — the categorical association monitor beside the
    value-distribution monitors (PSI, KS). Margins and cells are exact
    integer counts; χ² is one float sum over ≤ r·c cells rounded 4dp.
    Operator: operators/robust.py::chi_square_independence."""
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.col("event_type").alias("r"),
        ((F.expr("unix_micros(ts) div 86400000000") + 4) % 7).alias("c"),
    )
    out = RB.chi_square_independence(base, "r", "c")
    return out.select(F.round("chi2", 4).alias("chi2"), "dof", "n")


# --- k-anonymity / l-diversity disclosure-risk audit --------------------------

_KANON_K = 5
_KANON_BIN = 50.0


@query(
    "k_anonymity_audit",
    oracle=f"""
    WITH q AS (
      SELECT event_type,
             (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
             least(CAST(floor(value / {_KANON_BIN}) AS BIGINT), 9) AS vbin,
             user_id
      FROM events
    ),
    combos AS (
      SELECT event_type, dow, vbin, count(*) AS n,
             count(DISTINCT user_id) AS l_div
      FROM q GROUP BY 1, 2, 3
    ),
    agg AS (
      SELECT count(*) AS n_combos,
             CAST(sum(CASE WHEN n < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unsafe_combos,
             CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN n < {_KANON_K} THEN n ELSE 0 END) AS BIGINT)
               AS n_unsafe_rows,
             CAST(min(l_div) AS BIGINT) AS min_l_diversity
      FROM combos
    )
    SELECT n_combos, n_unsafe_combos, n_rows, n_unsafe_rows, min_l_diversity,
           {ratio_e4_sql('n_unsafe_rows', 'n_rows')} AS unsafe_row_share_e4
    FROM agg
    """,
    survey_ref="§2.4 governance extension: k-anonymity / l-diversity "
    "disclosure-risk audit (quasi-identifier combo sizes + sensitive-value "
    "diversity — the release-risk measure beside GDPR erasure)",
)
def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disclosure-risk audit before releasing an events extract: rows
    whose quasi-identifier combination (event type × weekday ×
    fixed-width value decile) occurs fewer than k=5 times are
    re-identifiable (Sweeney's k-anonymity); min l-diversity reports how
    many distinct sensitive values (users) the worst combo hides. One
    combo-grain agg + one O(1)-row reduction, all exact integers —
    linear at any scale, and the combo frame is bounded by the
    quasi-identifier domain, not the data. Complements gdpr_erasure_audit
    (deletion) with the MEASUREMENT side of privacy governance."""
    ev = _events(spark, sf_dir)
    q = ev.select(
        "event_type",
        ((F.expr("unix_micros(ts) div 86400000000") + 4) % 7).alias("dow"),
        F.least(
            F.floor(F.col("value") / F.lit(_KANON_BIN)).cast("long"), F.lit(9)
        ).alias("vbin"),
        "user_id",
    )
    combos = q.groupBy("event_type", "dow", "vbin").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("l_div"),
    )
    unsafe_n = F.sum(F.when(F.col("n") < _KANON_K, F.col("n")).otherwise(0))
    agg = combos.agg(
        F.count(F.lit(1)).alias("n_combos"),
        F.sum(F.when(F.col("n") < _KANON_K, 1).otherwise(0)).alias(
            "n_unsafe_combos"
        ),
        F.sum("n").alias("n_rows"),
        unsafe_n.alias("n_unsafe_rows"),
        F.min("l_div").alias("min_l_diversity"),
    )
    return agg.select(
        "n_combos", "n_unsafe_combos", "n_rows", "n_unsafe_rows",
        "min_l_diversity",
        ratio_e4("n_unsafe_rows", "n_rows").alias("unsafe_row_share_e4"),
    )
