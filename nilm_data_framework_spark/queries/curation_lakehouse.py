"""Training-data curation under constraints, lakehouse table maintenance,
and robust series monitoring (§2 extensions).

Curation (documents): token-budget quota fill, weighted (sequential-Poisson)
sampling, globally-shuffled shard layout — the three decisions between a
scored corpus and the bytes a trainer streams. Lakehouse (orders): MERGE
upsert, Z-order layout stats, GDPR erasure — the maintenance passes a 100 TB
table needs that the reference's rebuild-from-scratch HDF5 flow sidesteps.
Monitoring (events-as-readings): time-weighted mean, MAD outliers, CUSUM
drift — adaptive rules atop the reference's fixed clips/filters.
Splits and allocation: temporal embargo, stratified k-fold, exact
stratified train/val/test, rolling-origin CV folds, Hamilton and
temperature-weighted budget allocation, greedy set cover, diversity-capped
shortlists, rank calibration, leave-one-out influence, Kish effective
sample size, and a rendezvous-hash re-sharding audit.

Float discipline follows the repo convention (module docstring of
nilm_analysis.py): grouped float sums/avgs rounded (2dp/4dp), orderings only
on cross-engine-deterministic doubles (single correctly-rounded ops over
integer-derived inputs), counts and integer math exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import lakehouse as LH
from nilm_data_framework_spark.operators import resample as RS
from nilm_data_framework_spark.operators import robust as RB
from nilm_data_framework_spark.operators import sampling as SM
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators import splits as SP
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.operators.scale_windows import bucketed_global_rank
from nilm_data_framework_spark.operators.text import token_count, word_ngrams
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _TOKS, _docs, _events
from nilm_data_framework_spark.sources.testdata import load_table


# Shared DuckDB fragments (identical token/ratio definitions to
# operators/text.py::tokens / quality_features).
_U32 = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"


# --- token-budget curation ----------------------------------------------------

_BUDGET_TOK = 2000


@query(
    "token_budget_curation",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks)
                  ELSE 0.0 END AS ratio
      FROM (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
    ),
    pref AS (
      SELECT doc_id, lang, n_tok,
             CAST(COALESCE(SUM(n_tok) OVER (
               PARTITION BY lang ORDER BY ratio DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS budget_used
      FROM t
    )
    SELECT lang, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS tokens_kept
    FROM pref WHERE budget_used < {_BUDGET_TOK} GROUP BY lang
    """,
    survey_ref="§2.10 curation: per-language token-budget quota fill (best-first greedy prefix)",
)
def token_budget_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill each language's token quota with its best documents (here:
    highest distinct-token ratio — the Gopher repetition signal — with
    doc_id tie-break). The ratio is ONE double division of two exact
    integers, so the best-first order replays bit-identically in the oracle.
    Every language overshoots the 2k budget at gate scale, so truncation is
    exercised in all strata."""
    d = _docs(spark, sf_dir)
    toks = T.quality_features(d).select(
        "doc_id", "lang", F.col("q_tokens").cast("long").alias("n_tok"),
        F.col("q_distinct_token_ratio").alias("ratio"),
    )
    kept = SM.budget_prefix_filter(
        toks, "lang", [F.col("ratio").desc(), F.col("doc_id").asc()],
        "n_tok", _BUDGET_TOK,
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tok").alias("tokens_kept"),
    )


# --- weighted (sequential Poisson) sampling -----------------------------------

_SPS_K = 20


@query(
    "weighted_sample_sps",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({_TOKS}) AS n_tok FROM documents
    ),
    pri AS (
      SELECT doc_id, lang, n_tok,
             ({_U32} / 4294967296.0) / n_tok AS sample_priority
      FROM t WHERE n_tok > 0
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY lang
                                   ORDER BY sample_priority, doc_id) AS rk
      FROM pri
    )
    SELECT doc_id, lang, CAST(n_tok AS BIGINT) AS n_tok,
           round(sample_priority, 8) AS sample_priority
    FROM ranked WHERE rk <= {_SPS_K}
    """,
    survey_ref="§2.10 curation: sequential-Poisson weighted sample (PPS-without-replacement, k per stratum)",
)
def weighted_sample_sps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count-weighted sample, k=20 per language: long documents are
    proportionally likelier to be drawn (matching their token contribution),
    via Ohlsson's u/w priority order. See
    operators/sampling.py::sequential_poisson_bottom_k for the cross-engine
    determinism argument (one correctly-rounded division)."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    out = SM.sequential_poisson_bottom_k(
        t, "lang", _SPS_K, id_col="doc_id", weight_col="n_tok"
    )
    return out.select(
        "doc_id", "lang", "n_tok", F.round("sample_priority", 8).alias("sample_priority")
    )


# --- globally-shuffled shard layout -------------------------------------------

_N_SHARDS = 16


@query(
    "shard_layout_audit",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, len({_TOKS}) AS n_tok,
             {_U32} % {_N_SHARDS} AS shard
      FROM documents
    )
    SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           count(DISTINCT lang) AS n_langs
    FROM t GROUP BY shard
    """,
    survey_ref="§2.10 curation: globally-shuffled shard assignment + balance audit",
)
def shard_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-shuffled shard layout: md5 destroys source/time order, so each
    of the 16 shards is an unbiased corpus sample a trainer can stream
    sequentially. The audit (docs/tokens/languages per shard) is what you
    check before burning a training run on a skewed layout; writing is
    `repartition(n, shard)` + per-file write of the same column."""
    d = _docs(spark, sf_dir)
    t = d.select(
        "doc_id", "lang", T.token_count(F.col("text")).cast("long").alias("n_tok"),
        SM.hash_shard(F.col("doc_id"), _N_SHARDS).alias("shard"),
    )
    return t.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.countDistinct("lang").alias("n_langs"),
    )


# --- MERGE upsert -------------------------------------------------------------


@query(
    "merge_upsert_orders",
    oracle="""
    WITH chg AS (
      SELECT o_orderkey, o_orderstatus,
             o_totalprice * 1.1 AS o_totalprice
      FROM orders WHERE o_orderkey % 10 = 0
      UNION ALL
      SELECT -(o_orderkey + 1), o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 1000 = 7
    ),
    m AS (
      SELECT coalesce(c.o_orderkey, s.o_orderkey) AS o_orderkey,
             coalesce(c.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
             coalesce(c.o_totalprice, s.o_totalprice) AS o_totalprice,
             CASE WHEN c.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                    THEN 'update'
                  WHEN c.o_orderkey IS NOT NULL THEN 'insert'
                  ELSE 'carry' END AS merge_action
      FROM orders s FULL OUTER JOIN chg c ON s.o_orderkey = c.o_orderkey
    )
    SELECT o_orderstatus, merge_action, count(*) AS n,
           round(sum(o_totalprice), 2) AS total_price
    FROM m GROUP BY 1, 2
    """,
    survey_ref="§2.3 extension: MERGE INTO upsert (full-outer reconciliation; consumes snapshot_diff-style change batches)",
)
def merge_upsert_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A change batch (10% price restatements + simulated late-arriving
    orders) merged into the orders snapshot; the audit aggregates row counts
    and value mass per (status, action). Operator:
    operators/lakehouse.py::merge_upsert."""
    orders = load_table(spark, sf_dir, "orders")
    # The restated price stays UNROUNDED per row: Spark rounds doubles via
    # exact BigDecimal HALF_UP while DuckDB rounds the float-multiplied
    # value, and boundary rows (x.xx5-adjacent products) flip differently —
    # only the final aggregate is rounded (repo float discipline).
    updates = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_orderstatus",
        (F.col("o_totalprice") * 1.1).alias("o_totalprice"),
    )
    # Simulated late-arriving orders get keys OUTSIDE the snapshot's key
    # space (negative) so they stay inserts at every scale factor.
    inserts = orders.filter(F.col("o_orderkey") % 1000 == 7).select(
        (-(F.col("o_orderkey") + 1)).alias("o_orderkey"),
        "o_orderstatus", "o_totalprice",
    )
    changes = updates.unionByName(inserts)
    merged = LH.merge_upsert(
        orders, changes, key="o_orderkey",
        value_cols=["o_orderstatus", "o_totalprice"],
    )
    return merged.groupBy("o_orderstatus", "merge_action").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


# --- Z-order layout -----------------------------------------------------------

_Z_BITS = 4  # 16 buckets/dim → 256 cells → 16 files of 16 cells


@query(
    "zorder_layout_stats",
    oracle=f"""
    WITH b AS (
      SELECT o_custkey,
             CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day
      FROM orders
    ),
    ext AS (
      SELECT max(o_custkey) AS ck_max, min(day) AS d_min, max(day) AS d_max
      FROM b
    ),
    cells AS (
      SELECT (o_custkey * 16) // (ck_max + 1) AS xb,
             ((day - d_min) * 16) // (d_max - d_min + 1) AS yb,
             o_custkey, day
      FROM b CROSS JOIN ext
    ),
    z AS (
      SELECT {LH.interleave_bits_sql('xb', 'yb', 4)} // 16 AS file_id,
             o_custkey, day
      FROM cells
    )
    SELECT file_id, count(*) AS n,
           min(o_custkey) AS cust_lo, max(o_custkey) AS cust_hi,
           min(day) AS day_lo, max(day) AS day_hi
    FROM z GROUP BY file_id
    """,
    survey_ref="§2 extension: Z-order (Morton) layout keys + per-file min/max skipping stats (OPTIMIZE ZORDER BY analog)",
)
def zorder_layout_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign each order to one of 16 files by the Z-order curve over
    (custkey, order day), then report the min/max *file statistics* a
    format like Delta/Iceberg would store: because the Morton key preserves
    locality in both dimensions, every file's (cust_lo..cust_hi,
    day_lo..day_hi) box stays tight and predicates on EITHER column prune
    files. All integer bit algebra — exact in both engines."""
    orders = load_table(spark, sf_dir, "orders")
    b = orders.select(
        "o_custkey", F.expr("unix_timestamp(o_orderdate) div 86400").alias("day")
    )
    ext = b.agg(
        F.max("o_custkey").alias("ck_max"),
        F.min("day").alias("d_min"),
        F.max("day").alias("d_max"),
    )
    cells = b.crossJoin(F.broadcast(ext)).select(
        F.expr("(o_custkey * 16) div (ck_max + 1)").alias("xb"),
        F.expr("((day - d_min) * 16) div (d_max - d_min + 1)").alias("yb"),
        "o_custkey", "day",
    )
    z = cells.select(
        F.shiftright(
            LH.interleave_bits(F.col("xb"), F.col("yb"), _Z_BITS), 4
        ).alias("file_id"),
        "o_custkey", "day",
    )
    return z.groupBy("file_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_custkey").alias("cust_lo"),
        F.max("o_custkey").alias("cust_hi"),
        F.min("day").alias("day_lo"),
        F.max("day").alias("day_hi"),
    )


# --- GDPR erasure -------------------------------------------------------------


@query(
    "gdpr_erasure_audit",
    oracle="""
    SELECT event_type, count(*) AS n_before,
           count(*) FILTER (WHERE user_id % 10 <> 3) AS n_after,
           count(*) FILTER (WHERE user_id % 10 = 3) AS n_purged
    FROM events GROUP BY event_type
    """,
    survey_ref="§2 extension: GDPR right-to-erasure purge (broadcast anti-join) + audit counts",
)
def gdpr_erasure_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purge all events of users on a deletion list (every user_id ≡ 3 mod
    10 — a 10% erasure wave) via the anti-join in
    operators/lakehouse.py::erase_keys, and emit the per-event-type audit a
    compliance run must retain: rows before, after, purged. The oracle
    computes the same counts arithmetically; the Spark side exercises the
    real deletion-list plan (the list arrives as a DataFrame, not a
    predicate)."""
    ev = _events(spark, sf_dir)
    deletions = ev.select("user_id").distinct().filter(F.col("user_id") % 10 == 3)
    purged = LH.erase_keys(ev, deletions, "user_id")
    before = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_before"))
    after = purged.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_after"))
    return before.join(after, "event_type").select(
        "event_type", "n_before", "n_after",
        (F.col("n_before") - F.col("n_after")).alias("n_purged"),
    )


# --- time-weighted average (LOCF integral) ------------------------------------


@query(
    "time_weighted_avg",
    oracle="""
    WITH d AS (
      SELECT user_id, event_type, value,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id)
               - epoch_us(ts) AS dt_us
      FROM events
    )
    SELECT user_id, event_type,
           round(sum(value * dt_us) / sum(dt_us), 4) AS twa,
           count(*) AS n_intervals,
           CAST(CAST(sum(dt_us) AS BIGINT) // 1000000 AS BIGINT) AS span_s
    FROM d WHERE dt_us IS NOT NULL
    GROUP BY user_id, event_type
    """,
    survey_ref="§2.4 extension: LOCF time-weighted mean over irregular series (hypertable continuous-aggregate kernel)",
)
def time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each reading holds until its successor (LOCF), so the average is the
    interval-weighted integral — the physically-correct mean power for
    irregular sampling, vs the plain avg of A1. Operator:
    operators/resample.py::time_weighted_mean."""
    ev = _events(spark, sf_dir)
    return RS.time_weighted_mean(ev, ["user_id", "event_type"], order_extra=["event_id"])


# --- MAD outliers -------------------------------------------------------------


@query(
    "mad_outlier_summary",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(abs(e.value - m.med)) AS mad,
             min(m.med) AS med
      FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_type, count(*) AS n,
           CAST(sum(CASE WHEN abs(e.value - x.med) > 3.0 * 1.4826 * x.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           round(min(x.med), 4) AS med, round(min(x.mad), 4) AS mad
    FROM events e JOIN mad x USING (event_type)
    GROUP BY e.event_type
    """,
    survey_ref="§2.4 extension: MAD-based robust outlier screen (adaptive generalization of P15's fixed interval filter)",
)
def mad_outlier_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RB.mad_outlier_summary(
        _events(spark, sf_dir), ["event_type"], "value", k=3.0
    )


# --- CUSUM drift --------------------------------------------------------------

_CUSUM_TARGET = 50.0
_CUSUM_H = 1000.0


@query(
    "cusum_drift_summary",
    oracle=f"""
    WITH c AS (
      SELECT event_type,
             sum(value - {_CUSUM_TARGET}) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM events
    )
    SELECT event_type, count(*) AS n,
           CAST(sum(CASE WHEN abs(cusum) > {_CUSUM_H} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_drifted,
           round(max(abs(cusum)), 2) AS peak_cusum
    FROM c GROUP BY event_type
    """,
    survey_ref="§2.4/§2.5 extension: CUSUM drift detection vs known target (SPC changepoint screen as running window)",
)
def cusum_drift_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return RB.cusum_summary(
        _events(spark, sf_dir), ["event_type"], ["ts", "event_id"],
        "value", target=_CUSUM_TARGET, threshold=_CUSUM_H,
    )


# --- int8 embedding quantization fidelity -------------------------------------


@query(
    "int8_quant_fidelity",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, label, v,
             list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0
               AS scale
      FROM e
    ),
    d AS (
      SELECT vec_id, label, v,
             list_transform(v, x -> floor(x / scale + 0.5) * scale) AS deq
      FROM s
    ),
    c AS (
      SELECT label,
             list_dot_product(v, deq)
               / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(deq, deq)))
               AS cos
      FROM d
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(cos), 4) AS avg_fidelity,
           round(min(cos), 4) AS min_fidelity
    FROM c GROUP BY label
    """,
    survey_ref="§2.10 embedding compression: symmetric int8 scalar quantization + reconstruction-fidelity audit",
)
def int8_quant_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (scale = max|v|/127, the
    faiss/ScaNN SQ8 recipe) with a cosine-fidelity audit of the
    dequantized vectors — the go/no-go check before serving compressed
    embeddings. Quantization is floor(v/scale + 0.5): every step is a single
    correctly-rounded IEEE op over identical doubles, so codes are
    bit-identical cross-engine; only the final grouped avg/min follow the
    repo's 4dp rounding rule. The scale factor is let-bound as a real
    column, NOT re-derived inside the HOF lambda (CLAUDE.md perf rule)."""
    e = load_table(spark, sf_dir, "embeddings", parallelize=True)
    s = e.withColumn(
        "_scale",
        F.aggregate(
            "embedding", F.lit(0.0),
            lambda acc, v: F.greatest(acc, F.abs(v.cast("double"))),
        )
        / 127.0,
    )
    d = s.withColumn(
        "_deq",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") / F.col("_scale") + 0.5)
            * F.col("_scale"),
        ),
    )
    c = d.selectExpr("label", f"{S.cosine('embedding', '_deq')} AS _cos")
    return c.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("_cos"), 4).alias("avg_fidelity"),
        F.round(F.min("_cos"), 4).alias("min_fidelity"),
    )


# --- dataset manifest (reproducibility attestation) ---------------------------


@query(
    "dataset_manifest",
    oracle="""
    WITH terms AS (
      SELECT source, n_chars,
             CAST(('0x' || substr(md5(
               CAST(doc_id AS VARCHAR) || '|' || lang || '|' || md5(text)
             ), 1, 15)) AS BIGINT) % 2147483647 AS term
      FROM documents
    )
    SELECT source, count(*) AS n_rows,
           CAST(sum(n_chars) AS BIGINT) AS n_bytes,
           CAST(sum(term) % 2147483647 AS BIGINT) AS checksum
    FROM terms GROUP BY 1
    """,
    survey_ref="§2.1/§2.10 extension: per-source dataset manifest "
    "(order-independent modular content checksum — the reproducibility "
    "artifact for comparing two materializations without re-reading them)",
)
def dataset_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source manifest of the documents table: row count, byte count,
    and an ORDER-INDEPENDENT modular content checksum (sum of 60-bit md5
    row terms mod 2^31−1). Equal manifests ⇒ identical content w.h.p. —
    the check a training run records so 'same data as last week' is a
    column compare, not a 100 TB diff; the checksum is mergeable across
    shards and incrementally maintainable (deletes subtract). The row's
    canonical string hashes md5(text) rather than raw text so the shuffled
    representation stays narrow. Operator:
    operators/lakehouse.py::dataset_manifest."""
    d = _docs(spark, sf_dir)
    row_repr = F.concat_ws(
        "|", F.col("doc_id").cast("string"), F.col("lang"), F.md5(F.col("text"))
    )
    out = LH.dataset_manifest(d, ["source"], row_repr, F.col("n_chars"))
    return out.select("source", "n_rows", "n_bytes", "checksum")


# --- temporal embargo split --------------------------------------------------


@query(
    "temporal_embargo_split",
    oracle="""
    WITH ev AS (SELECT epoch_us(ts) AS us, user_id FROM events),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
    sup AS (SELECT us, count(*) AS c FROM ev GROUP BY 1),
    cum AS (SELECT us, sum(c) OVER (ORDER BY us) AS cum FROM sup),
    cut AS (
      SELECT min(us) AS cutoff FROM cum, tot WHERE cum >= (n * 4) // 5
    ),
    lab AS (
      SELECT CASE WHEN us < cutoff THEN 'train'
                  WHEN us < cutoff + 21600000000 THEN 'embargo'
                  ELSE 'test' END AS split,
             us, user_id
      FROM ev, cut
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(us) AS BIGINT) AS min_us,
           CAST(max(us) AS BIGINT) AS max_us
    FROM lab GROUP BY split
    """,
    survey_ref="§2.10 curation: temporal train/test split with a 6h purge "
    "(embargo) window — the time-series leakage control a hash split "
    "cannot express; exact k-th-smallest cutoff via value-support "
    "cumulative counts (no global row sort)",
)
def temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/splits.py::temporal_embargo_split over events at the exact
    floor(0.8·n)-th smallest microsecond timestamp, 6h embargo. Labels are
    assigned by VALUE, so cutoff ties are deterministic cross-engine."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "user_id"
    )
    return SP.temporal_embargo_split(ev, "us", "user_id")


# --- cross-source rank calibration (quantile normalization) ------------------


@query(
    "rank_calibration",
    oracle="""
    WITH sup AS (
      SELECT n_chars, count(*) AS c FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS vrank_le FROM sup
    ),
    dec AS (
      SELECT source, n_chars,
             ntile(10) OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT d.source, CAST(d.decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(c.vrank_le) AS BIGINT) AS min_vrank,
           CAST(max(c.vrank_le) AS BIGINT) AS max_vrank,
           CAST(sum(c.vrank_le) AS BIGINT) AS sum_vrank
    FROM dec d JOIN cum c USING (n_chars)
    GROUP BY 1, 2
    """,
    survey_ref="§2.10 curation: quantile normalization / cross-source rank "
    "calibration — per-source deciles mapped onto the GLOBAL value-rank "
    "scale (comparing quality scores across heterogeneous sources); the "
    "only global ordered pass runs over the value support",
)
def rank_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map each source's n_chars deciles onto the global distribution:
    per-source ntile(10) (source-keyed window, parallel) joined to the
    global 'docs with value ≤ v' rank built on the VALUE SUPPORT (per-value
    counts → one cumulative window over |distinct values| rows — the
    ks_statistic trick, no global row sort). Exact integers throughout."""
    docs = load_table(spark, sf_dir, "documents")
    sup = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = sup.select("n_chars", F.sum("c").over(wv).alias("vrank_le"))
    wd = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    dec = docs.select(
        "source", "n_chars", F.ntile(10).over(wd).cast("long").alias("decile")
    )
    return (
        dec.join(cum, "n_chars")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("vrank_le").cast("long").alias("min_vrank"),
            F.max("vrank_le").cast("long").alias("max_vrank"),
            F.sum("vrank_le").cast("long").alias("sum_vrank"),
        )
    )


# --- stratified k-fold assignment --------------------------------------------


@query(
    "kfold_assignment",
    oracle="""
    WITH folds AS (
      SELECT lang, doc_id,
             ntile(5) OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS fold
      FROM documents
    )
    SELECT lang, CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS member_sum
    FROM folds GROUP BY 1, 2
    """,
    survey_ref="§2.10 curation: stratified k-fold cross-validation "
    "assignment — ntile(5) within stratum over the md5 hash order gives "
    "exact ±1-balanced folds, deterministic and stable across engines; "
    "member_sum pins identical fold membership, not just counts",
)
def kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-balanced 5-fold CV splits per language stratum: hash-ordered
    ntile (a pure function of the corpus content — reproducible anywhere,
    unlike random_split), summarized per (stratum, fold) with an exact
    membership checksum. Stratum windows are language-keyed → parallel;
    no global sort. Complements hash_split (fraction-based) with the
    exact-fold-size contract CV needs."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.ntile(5).over(w).cast("long").alias("fold"))
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("member_sum"),
        )
    )


# --- leave-one-out influence audit -------------------------------------------


def _loo_oracle() -> str:
    return f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(n_chars) AS BIGINT) AS s_g
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s
      FROM per
    )
    SELECT source, n_g,
           {ratio_e4_sql('s_g', 'n_g')} AS group_mean_e4,
           {ratio_e4_sql('(s - s_g)', '(n - n_g)')} AS loo_mean_e4
    FROM per, tot
    """


@query(
    "leave_one_out_influence",
    oracle=_loo_oracle(),
    survey_ref="§2.10 curation diagnostics: leave-one-out influence — each "
    "source's group mean vs the corpus mean WITHOUT that source, from one "
    "aggregation pass + algebraic complements (no per-group rescan); the "
    "'which source drags the distribution' audit",
)
def leave_one_out_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife-style influence audit over document lengths: per source,
    its own exact e4 mean and the corpus mean with the source REMOVED —
    computed as (total − group) complements of a single groupBy, never by
    re-scanning per group (the delete-one-group trick that makes
    influence O(groups), not O(groups·rows), at 100 TB). All inputs to
    both ratios are exact BIGINTs."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("n_chars").cast("long").alias("s_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("long").alias("n"), F.sum("s_g").cast("long").alias("s")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_g",
        ratio_e4("s_g", "n_g").alias("group_mean_e4"),
        ratio_e4("(s - s_g)", "(n - n_g)").alias("loo_mean_e4"),
    )


# --- Hamilton largest-remainder allocation -----------------------------------

_HAMILTON_BUDGET = 100_000


def _hamilton_oracle() -> str:
    return f"""
    WITH per AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM per),
    quota AS (
      SELECT source, w,
             ({_HAMILTON_BUDGET} * w) // wtot AS base,
             ({_HAMILTON_BUDGET} * w) % wtot AS rem
      FROM per, tot
    ),
    left_over AS (
      SELECT CAST({_HAMILTON_BUDGET} - sum(base) AS BIGINT) AS leftover
      FROM quota
    ),
    ranked AS (
      SELECT source, w, base, rem,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM quota
    )
    SELECT source, w, CAST(base AS BIGINT) AS base, CAST(rem AS BIGINT) AS rem,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM ranked, left_over
    """


@query(
    "hamilton_allocation",
    oracle=_hamilton_oracle(),
    survey_ref="§2.10 curation/mixing: Hamilton largest-remainder "
    "apportionment of a fixed token/sample budget across sources — the "
    "exact-integer answer to 'allocate B slots ∝ weights with Σ = B "
    "guaranteed' that float-share rounding cannot give; the allocation "
    "layer under mixture_temperature_weights and token_budget_curation",
)
def hamilton_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment over per-source char
    mass: base = floor(B·w/W) via BIGINT div, remainder rank breaks the
    leftover. Everything integer; nonneg operands so Spark div == DuckDB
    //. Plan: one groupBy + two 1-row broadcasts + a |sources|-row rank
    window — allocation is dimension-sized at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.sum("n_chars").cast("long").alias("w"))
    tot = per.agg(F.sum("w").cast("long").alias("wtot"))
    B = _HAMILTON_BUDGET
    quota = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        F.expr(f"({B} * w) div wtot").cast("long").alias("base"),
        F.expr(f"({B} * w) % wtot").cast("long").alias("rem"),
    )
    left = quota.agg((F.lit(B) - F.sum("base")).cast("long").alias("leftover"))

    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("source")))
    ranked = quota.withColumn("rk", rk).crossJoin(F.broadcast(left))
    return ranked.select(
        "source",
        "w",
        "base",
        "rem",
        (F.col("rk") <= F.col("leftover")).cast("long").alias("extra"),
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long"))
        .cast("long")
        .alias("alloc"),
    )


# --- temperature-weighted budget allocation (composition) --------------------


@query(
    "temperature_budget_allocation",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tok
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM per),
    w AS (
      SELECT lang, n_tok,
             CAST(floor(sqrt(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE))
                        * 1000000) AS BIGINT) AS w6
      FROM per, tot
    ),
    wt AS (SELECT CAST(sum(w6) AS BIGINT) AS wtot FROM w),
    quota AS (
      SELECT lang, n_tok, w6,
             ({_HAMILTON_BUDGET} * w6) // wtot AS base,
             ({_HAMILTON_BUDGET} * w6) % wtot AS rem
      FROM w, wt
    ),
    lo AS (SELECT CAST({_HAMILTON_BUDGET} - sum(base) AS BIGINT) AS leftover
           FROM quota),
    ranked AS (
      SELECT lang, n_tok, w6, base, rem,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk
      FROM quota
    )
    SELECT lang, n_tok, w6, CAST(base AS BIGINT) AS base,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM ranked, lo
    """,
    survey_ref="§2.10 curation composition: τ=0.5 temperature weights "
    "(sqrt is IEEE-correctly-rounded in both engines, then e6-floored to "
    "EXACT integers) fed into Hamilton largest-remainder apportionment — "
    "the full 'how many samples per language' answer with Σ = budget "
    "guaranteed; the integerized successor of mixture_temperature_weights",
)
def temperature_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt(p) quantized at e6 becomes the integer weight vector (the only
    float op is the correctly-rounded sqrt — floor(·1e6) is then bit-
    stable), and the allocation is pure BIGINT Hamilton. Dimension-sized
    work after one token-count aggregation."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    per = docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tok")
    )
    tot = per.agg(F.sum("n_tok").cast("long").alias("n_total"))
    w = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tok",
        F.floor(
            F.sqrt(F.col("n_tok").cast("double") / F.col("n_total").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("w6"),
    )
    wt = w.agg(F.sum("w6").cast("long").alias("wtot"))
    B = _HAMILTON_BUDGET
    quota = w.crossJoin(F.broadcast(wt)).select(
        "lang",
        "n_tok",
        "w6",
        F.expr(f"({B} * w6) div wtot").cast("long").alias("base"),
        F.expr(f"({B} * w6) % wtot").cast("long").alias("rem"),
    )
    lo = quota.agg((F.lit(B) - F.sum("base")).cast("long").alias("leftover"))
    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("lang")))
    return (
        quota.withColumn("rk", rk)
        .crossJoin(F.broadcast(lo))
        .select(
            "lang",
            "n_tok",
            "w6",
            "base",
            (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long"))
            .cast("long")
            .alias("alloc"),
        )
    )


# --- effective sample size of a weighting ------------------------------------


@query(
    "weight_ess_by_source",
    oracle="""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    )
    SELECT source, n, s1, s2,
           round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(s2 AS DOUBLE), 4) AS ess,
           round(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 4) AS deff
    FROM per
    """,
    survey_ref="§2.10 curation diagnostics: Kish effective sample size "
    "(Σw)²/Σw² and design effect n·Σw²/(Σw)² of length-proportional "
    "sampling weights per source — the 'how much does this weighting "
    "cost me in variance' screen; moments exact BIGINT, only the two "
    "display ratios are float (identical int inputs → identical IEEE ops)",
)
def weight_ess_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One linear agg: both weight moments are exact integer sums
    (mergeable — per-shard partials add), so the float division happens
    once per group on identical operands in both engines. Overflow bound:
    Σw² caps at rows·max_chars² ≈ 2^53-safe far past gate scales; past
    that, decompose to per-shard moments (partial_agg_merge contract)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    return per.select(
        "source",
        "n",
        "s1",
        "s2",
        F.round(
            F.col("s1").cast("double") * F.col("s1").cast("double")
            / F.col("s2").cast("double"),
            4,
        ).alias("ess"),
        F.round(
            F.col("n").cast("double") * F.col("s2").cast("double")
            / (F.col("s1").cast("double") * F.col("s1").cast("double")),
            4,
        ).alias("deff"),
    )


# --- greedy set cover for source selection ----------------------------------------------


def _set_cover_oracle() -> str:
    return """
    WITH toksrc AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    sg AS (
      SELECT DISTINCT source, unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' ')))) AS g
      FROM toksrc WHERE len(toks) >= 3
    ),
    r1 AS (
      SELECT source, count(*) AS gain,
             row_number() OVER (ORDER BY count(*) DESC, source) AS rn
      FROM sg GROUP BY 1
    ),
    w1 AS (SELECT source AS s1, CAST(gain AS BIGINT) AS gain1 FROM r1 WHERE rn = 1),
    cov1 AS (SELECT g FROM sg JOIN w1 ON sg.source = w1.s1),
    r2 AS (
      SELECT sg.source, count(*) AS gain,
             row_number() OVER (ORDER BY count(*) DESC, sg.source) AS rn
      FROM sg
      WHERE sg.source <> (SELECT s1 FROM w1)
        AND NOT EXISTS (SELECT 1 FROM cov1 WHERE cov1.g = sg.g)
      GROUP BY 1
    ),
    w2 AS (SELECT source AS s2, CAST(gain AS BIGINT) AS gain2 FROM r2 WHERE rn = 1),
    cov2 AS (
      SELECT g FROM cov1
      UNION SELECT g FROM sg JOIN w2 ON sg.source = w2.s2
    ),
    r3 AS (
      SELECT sg.source, count(*) AS gain,
             row_number() OVER (ORDER BY count(*) DESC, sg.source) AS rn
      FROM sg
      WHERE sg.source NOT IN (SELECT s1 FROM w1 UNION SELECT s2 FROM w2)
        AND NOT EXISTS (SELECT 1 FROM cov2 WHERE cov2.g = sg.g)
      GROUP BY 1
    ),
    w3 AS (SELECT source AS s3, CAST(gain AS BIGINT) AS gain3 FROM r3 WHERE rn = 1)
    SELECT 1 AS step, s1 AS picked, gain1 AS gain FROM w1
    UNION ALL SELECT 2, s2, gain2 FROM w2
    UNION ALL SELECT 3, s3, gain3 FROM w3
    ORDER BY step
    """


@query(
    "greedy_set_cover_sources",
    oracle=_set_cover_oracle(),
    survey_ref="§2.10 curation: greedy maximum-coverage source selection "
    "(the (1−1/e) classic) — 3 UNROLLED stages, each an anti-join "
    "against covered grams + a count + a deterministic argmax (count "
    "desc, source asc); coverage-driven mixture design: which sources "
    "buy the most NEW vocabulary",
)
def greedy_set_cover_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick 3 sources that together cover the most distinct 3-grams:
    the greedy algorithm unrolled stage-by-stage (the MMR pattern —
    argmax as a 1-row frame joined forward, never a collect). Each
    stage's candidate counts are an anti-join of the distinct (source,
    gram) table against the grams already covered; all counts exact."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # the (source, gram) distinct table feeds SIX branches across the three
    # greedy stages (per-stage gains, coverage builds, anti-join remainders)
    # — checkpoint once (r10; the prefix-filter 4x/8x A/B showed exchange
    # reuse degrading with corpus size, and this is the same one-tokenize-
    # pass materialization)
    sg = (
        docs.select(
            "source", F.explode(word_ngrams(F.col("text"), 3)).alias("g")
        )
        .distinct()
        .transform(checkpoint)
    )

    def argmax(cands: DataFrame) -> DataFrame:
        w = Window.orderBy(F.col("gain").desc(), "source")
        return (
            cands.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("source", "gain")
        )

    r1 = sg.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("gain"))
    w1 = argmax(r1)
    cov1 = sg.join(w1.select(F.col("source").alias("_s")),
                   F.col("source") == F.col("_s")).select("g")
    rest2 = sg.join(w1.select("source"), "source", "left_anti")
    r2 = (
        rest2.join(cov1, "g", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("gain"))
    )
    w2 = argmax(r2)
    cov2 = cov1.unionByName(
        sg.join(w2.select(F.col("source").alias("_s")),
                F.col("source") == F.col("_s")).select("g")
    ).distinct()
    rest3 = rest2.join(w2.select("source"), "source", "left_anti")
    r3 = (
        rest3.join(cov2, "g", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("gain"))
    )
    w3 = argmax(r3)
    return (
        w1.select(F.lit(1).alias("step"), F.col("source").alias("picked"), "gain")
        .unionByName(
            w2.select(F.lit(2).alias("step"), F.col("source").alias("picked"), "gain")
        )
        .unionByName(
            w3.select(F.lit(3).alias("step"), F.col("source").alias("picked"), "gain")
        )
    )


# --- exact stratified split without per-stratum sorts ---------------------------

_SPLIT_MIX = 2654435761  # Knuth multiplicative hash constant (public)


_SPLIT_MOD = 1000003


@query(
    "stratified_split_exact",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             (doc_id * {_SPLIT_MIX}) % {_SPLIT_MOD} AS h
      FROM documents
    ),
    r AS (
      SELECT *,
             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n_s
      FROM d
    ),
    s AS (
      SELECT lang,
             CASE WHEN rk <= (8 * n_s) // 10 THEN 'train'
                  WHEN rk <= (9 * n_s) // 10 THEN 'val'
                  ELSE 'test' END AS split,
             doc_id
      FROM r
    )
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
    FROM s GROUP BY 1, 2
    """,
    survey_ref="§2.10 curation extension: EXACT 80/10/10 stratified "
    "train/val/test split per language — floor(n_s*k/10) rows per stratum "
    "by construction (hash-threshold splits only approximate the ratios) — "
    "assignment by a deterministic multiplicative-hash order, ranked via "
    "the scale-safe bucketed global rank instead of a per-stratum window "
    "(one language dominating a corpus must not single-task its sort); "
    "sum_doc_id makes the gate membership-exact, not count-only",
)
def stratified_split_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum rank r_s = global rank over (lang, h, doc_id) minus the
    stratum's cumulative offset — the global rank comes from
    scale_windows.bucketed_global_rank with bucket = (lang, h div 16384)
    (a bounded <= |langs| x 62-value support; no task ever sorts more than
    one bucket), and the offsets come from the bounded per-lang count
    support. The oracle states the SAME split with the plain per-stratum
    row_number DuckDB can afford at gate scale — equality of the two
    formulations is what the gate checks. Input pruned to (doc_id, lang,
    h) and checkpointed once: bucketed_global_rank references its
    input three times (rows, support, total)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        ((F.col("doc_id") * F.lit(_SPLIT_MIX)) % F.lit(_SPLIT_MOD)).alias("h"),
    ).transform(checkpoint)
    ranked = bucketed_global_rank(
        d,
        F.struct(F.col("lang"), F.expr("h div 16384").alias("hb")),
        [F.col("h"), F.col("doc_id")],
        out="_gr",
    )
    cnt = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_s"))
    # cumulative offsets over the bounded language support (a dim-sized
    # frame, not a raw scan — the window guard's sanctioned shape)
    woff = Window.orderBy("lang").rowsBetween(Window.unboundedPreceding, -1)
    off = cnt.select(
        "lang",
        "n_s",
        F.coalesce(F.sum("n_s").over(woff), F.lit(0)).cast("long").alias("_off"),
    )
    j = ranked.join(off, "lang")
    rk = F.col("_gr") - F.col("_off")
    split = (
        F.when(rk <= F.expr("(8 * n_s) div 10"), F.lit("train"))
        .when(rk <= F.expr("(9 * n_s) div 10"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        j.select("lang", split.alias("split"), "doc_id")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("doc_id").cast("long").alias("sum_doc_id"),
        )
    )


# --- rolling-origin cross-validation splits ---------------------------------------


@query(
    "rolling_origin_cv_splits",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS day,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    ),
    b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
    f AS (SELECT unnest([1, 2, 3, 4]) AS fold),
    cuts AS (
      SELECT CAST(fold AS INT) AS fold,
             CAST(d0 + ((d1 - d0 + 1) * fold) // 5 AS BIGINT) AS cut_day,
             CAST(d0 + ((d1 - d0 + 1) * (fold + 1)) // 5 AS BIGINT)
               AS next_cut_day
      FROM f CROSS JOIN b
    )
    SELECT c.fold, c.cut_day, c.next_cut_day,
           CAST(sum(CASE WHEN d.day < c.cut_day THEN d.n ELSE 0 END)
                AS BIGINT) AS train_n,
           CAST(sum(CASE WHEN d.day < c.cut_day THEN 1 ELSE 0 END)
                AS BIGINT) AS train_days,
           CAST(sum(CASE WHEN d.day >= c.cut_day AND d.day < c.next_cut_day
                         THEN d.n ELSE 0 END) AS BIGINT) AS test_n,
           CAST(sum(CASE WHEN d.day >= c.cut_day AND d.day < c.next_cut_day
                         THEN 1 ELSE 0 END) AS BIGINT) AS test_days
    FROM cuts c CROSS JOIN daily d
    GROUP BY 1, 2, 3
    """,
    survey_ref="§2.10 ML-data-infra extension: rolling-origin "
    "(expanding-window) cross-validation — 4 chronological folds over the "
    "order history, each training on everything before its cut and "
    "testing on the next fifth of the calendar span; the time-series CV "
    "protocol (Tashman 2000) beside the single-cut temporal_embargo_split "
    "and the random-hash kfold_assignment",
)
def rolling_origin_cv_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin CV fold manifest: fold f trains on days before
    cut_f = d0 + span·f/5 and tests on [cut_f, cut_{f+1}) — expanding
    train windows, contiguous disjoint test windows, no leakage by
    construction (every train day strictly precedes every test day).

    Scale shape: ONE fact agg to the calendar-bounded daily table, a
    1-row global min/max, and a 4-row fold dim exploded against the
    daily rows (4× a ≤~2.4k-row frame) — counts per fold are conditional
    sums, so no per-fold rescan of the fact table and nothing row-scaled
    is ever sorted or windowed. All cut arithmetic is exact integer
    div."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = daily.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    exploded = (
        daily.crossJoin(F.broadcast(bounds))
        .select(
            "day",
            "n",
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias(
                "fold"
            ),
            F.col("d0"),
            F.col("d1"),
        )
        .withColumn(
            "cut_day",
            F.expr("d0 + ((d1 - d0 + 1) * fold) div 5").cast("long"),
        )
        .withColumn(
            "next_cut_day",
            F.expr("d0 + ((d1 - d0 + 1) * (fold + 1)) div 5").cast("long"),
        )
    )
    in_test = (F.col("day") >= F.col("cut_day")) & (
        F.col("day") < F.col("next_cut_day")
    )
    return exploded.groupBy(
        F.col("fold").cast("int").alias("fold"), "cut_day", "next_cut_day"
    ).agg(
        F.sum(F.when(F.col("day") < F.col("cut_day"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("train_n"),
        F.sum(F.when(F.col("day") < F.col("cut_day"), 1).otherwise(0))
        .cast("long")
        .alias("train_days"),
        F.sum(F.when(in_test, F.col("n")).otherwise(0))
        .cast("long")
        .alias("test_n"),
        F.sum(F.when(in_test, 1).otherwise(0)).cast("long").alias("test_days"),
    )


# --- diversity-capped shortlist ------------------------------------------------

_CAP_PER_SOURCE = 3


_CAP_K = 12


@query(
    "capped_topk_per_source",
    oracle=f"""
    WITH r AS (
      SELECT source, doc_id, n_chars,
             CAST(row_number() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id) AS INT) AS srk
      FROM documents
    )
    SELECT source, doc_id, n_chars, srk
    FROM r WHERE srk <= {_CAP_PER_SOURCE}
    ORDER BY n_chars DESC, doc_id LIMIT {_CAP_K}
    """,
    survey_ref="§2.10 curation extension: diversity-capped shortlist "
    "(global top-K under a per-source cap — the anti-domination "
    "constraint; reference analog: the keep-first dedup P10 composed "
    "with W3 top-k)",
)
def capped_topk_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-K documents by length with AT MOST m per source — the
    fair-shortlist constraint every mixture-aware curation step applies
    (cap any single crawl/source's share of the selection). Two stages,
    both scale-safe: the per-source rank filter compiles to
    WindowGroupLimit (map-side per-group top-m — the same plan
    topk_per_group_limit pins; no per-source full sort materializes), and
    the global cut over the ≤ m·n_sources survivors is a
    TakeOrderedAndProject. All keys integer with doc_id tiebreaks, so the
    cut set is deterministic. At 100 TB: one shuffle by source with
    map-side limiting, then a k-row reduction — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    per = (
        docs.select("source", "doc_id", "n_chars")
        .withColumn("srk", F.row_number().over(w))
        .filter(F.col("srk") <= _CAP_PER_SOURCE)
    )
    return per.orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(_CAP_K)


# --- rendezvous (HRW) re-sharding audit -----------------------------------------

_HRW_OLD = 8


_HRW_NEW = 9


def _hrw_enc_sql(n_shards: int, spark_side: bool) -> str:
    """Per-key HRW winner encoded as ONE BIGINT: 56-bit md5 score * 16 +
    shard id (shard ids < 16), so argmax-with-tiebreak is a plain integer
    max — no structs, no window, no explode. Same text modulo each
    engine's hex→int cast."""
    if spark_side:
        h = (
            "CAST(conv(substring(md5(concat(CAST(c_custkey AS STRING), '#',"
            " CAST(s AS STRING))), 1, 14), 16, 10) AS BIGINT)"
        )
        return (
            f"array_max(transform(sequence(0, {n_shards - 1}),"
            f" s -> {h} * 16 + s))"
        )
    h = (
        "CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '#' ||"
        " CAST(s AS VARCHAR)), 1, 14)) AS BIGINT)"
    )
    return (
        f"list_max(list_transform(range(0, {n_shards}),"
        f" s -> {h} * 16 + s))"
    )


@query(
    "rendezvous_rebalance_audit",
    oracle=f"""
    WITH k AS (
      SELECT c_custkey,
             c_custkey % {_HRW_OLD} AS m_old, c_custkey % {_HRW_NEW} AS m_new,
             {_hrw_enc_sql(_HRW_OLD, False)} % 16 AS h_old,
             {_hrw_enc_sql(_HRW_NEW, False)} % 16 AS h_new
      FROM customer
    )
    SELECT CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN m_old <> m_new THEN 1 ELSE 0 END) AS BIGINT)
             AS moved_mod,
           CAST(sum(CASE WHEN h_old <> h_new THEN 1 ELSE 0 END) AS BIGINT)
             AS moved_hrw,
           CAST((sum(CASE WHEN m_old <> m_new THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS moved_mod_e6,
           CAST((sum(CASE WHEN h_old <> h_new THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS moved_hrw_e6
    FROM k
    """,
    survey_ref="§2 data-layout extension: rendezvous/HRW re-sharding audit "
    "(Thaler & Ravishankar '98 highest-random-weight hashing) — moved-key "
    "census of mod-N vs HRW placement when the shard count grows 8→9; "
    "the quantitative case for consistent placement in any partitioned "
    "layout (shards/buckets/index segments)",
)
def rendezvous_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of keys MOVE when a shard joins? mod-N placement
    remaps ~(N)/(N+1) of all keys (here ~8/9 ≈ 889k e-6); rendezvous
    hashing moves only the keys the NEW shard wins (~1/9 ≈ 111k e-6) —
    the minimal-disruption optimum, and the reason bucketed layouts that
    expect growth hash by HRW/consistent rings rather than modulo. The
    kernel is shuffle-free: each key evaluates its N candidate scores in
    ONE JVM-side array HOF (56-bit md5 score · 16 + shard encodes
    argmax-with-tiebreak as integer max — no window, no explode, no
    struct compare), then one global agg; linear, map-side combined, and
    the per-key cost is O(N_shards) = O(1). Counts and e6 ratios exact
    (`div`, nonneg). The 8-shard winner set is a strict subset of the
    9-shard candidate scores, so h_old ≠ h_new ⟺ shard 8 wins — the
    1/(N+1) expectation; the gate pins both engines' md5 arithmetic."""
    cust = load_table(spark, sf_dir, "customer")
    k = cust.select(
        (F.col("c_custkey") % _HRW_OLD).alias("m_old"),
        (F.col("c_custkey") % _HRW_NEW).alias("m_new"),
        (F.expr(_hrw_enc_sql(_HRW_OLD, True)) % 16).alias("h_old"),
        (F.expr(_hrw_enc_sql(_HRW_NEW, True)) % 16).alias("h_new"),
    )
    moved_mod = F.sum(F.when(F.col("m_old") != F.col("m_new"), 1).otherwise(0))
    moved_hrw = F.sum(F.when(F.col("h_old") != F.col("h_new"), 1).otherwise(0))
    return k.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        moved_mod.cast("long").alias("moved_mod"),
        moved_hrw.cast("long").alias("moved_hrw"),
        F.expr(
            "CAST((sum(CASE WHEN m_old <> m_new THEN 1 ELSE 0 END) * 1000000)"
            " div count(*) AS BIGINT)"
        ).alias("moved_mod_e6"),
        F.expr(
            "CAST((sum(CASE WHEN h_old <> h_new THEN 1 ELSE 0 END) * 1000000)"
            " div count(*) AS BIGINT)"
        ).alias("moved_hrw_e6"),
    )
