"""Round-4 surface: training-data curation under constraints, lakehouse
table maintenance, and robust series monitoring (§2 extensions).

Curation (documents): token-budget quota fill, weighted (sequential-Poisson)
sampling, globally-shuffled shard layout — the three decisions between a
scored corpus and the bytes a trainer streams. Lakehouse (orders): MERGE
upsert, Z-order layout stats, GDPR erasure — the maintenance passes a 100 TB
table needs that the reference's rebuild-from-scratch HDF5 flow sidesteps.
Monitoring (events-as-readings): time-weighted mean, MAD outliers, CUSUM
drift — adaptive rules atop the reference's fixed clips/filters.

Float discipline follows the repo convention (module docstring of
nilm_analysis.py): grouped float sums/avgs rounded (2dp/4dp), orderings only
on cross-engine-deterministic doubles (single correctly-rounded ops over
integer-derived inputs), counts and integer math exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import lakehouse as LH
from nilm_data_framework_spark.operators import robust as RB
from nilm_data_framework_spark.operators import resample as RS
from nilm_data_framework_spark.operators import sampling as SM
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents", parallelize=True)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


# Shared DuckDB fragments (identical token/ratio definitions to
# operators/text.py::tokens / quality_features).
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
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
    c = d.select("label", S.cosine(F.col("embedding"), F.col("_deq")).alias("_cos"))
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
