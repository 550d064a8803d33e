"""§2.10 training-data sampling, packing (padding waste, context
overflow), and sketch-accuracy queries.

Data-mixture sampling and sequence packing are the two steps between a
cleaned corpus (quality → dedup → decontam, see dedup_text.py) and actual
training batches; the sketch checks attest that the approximate aggregates
we'd switch to at 100 TB (HLL distinct, percentile_approx) stay inside
their advertised error against the exact answers the oracle can replay.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import sampling as SM
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.operators.scale_windows import bucketed_global_rank
from nilm_data_framework_spark.operators.text import token_count
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _docs
from nilm_data_framework_spark.sources.testdata import load_table


# --- deterministic data-mixture sampling -------------------------------------

# Classic rebalancing mixture: downweight the dominant language, keep the
# small ones nearly whole; zh exercises the default-rate path.
_RATES = {"en": 0.5, "de": 0.9, "es": 0.9, "fr": 0.9}
_RATES_SQL = (
    "CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.9 WHEN 'es' THEN 0.9 "
    "WHEN 'fr' THEN 0.9 ELSE 0.1 END"
)
_FRAC_SQL = (
    "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " / 4294967296.0"
)


@query(
    "mixture_sample",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_FRAC_SQL} < {_RATES_SQL}
    """,
    survey_ref="§2.10 data-mixture stratified sampling (deterministic hash keep)",
)
def mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang", "source")
    return SM.stratified_sample(d, "lang", _RATES, id_col="doc_id", default_rate=0.1)


@query(
    "mixture_summary",
    oracle=f"""
    SELECT lang,
           count(*) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM documents
    WHERE {_FRAC_SQL} < {_RATES_SQL}
    GROUP BY lang
    """,
    survey_ref="§2.10 data-mixture audit (per-stratum kept volume)",
)
def mixture_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    kept = SM.stratified_sample(d, "lang", _RATES, id_col="doc_id", default_rate=0.1)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_chars").alias("chars_kept"),
    )


# --- fixed-count per-stratum reservoir (bottom-k sketch) ---------------------

_RES_K = 40


@query(
    "reservoir_per_key",
    oracle=f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    ) WHERE rn <= {_RES_K}
    """,
    survey_ref="§2.10 bottom-k per-stratum reservoir (fixed-count uniform sample)",
)
def reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return SM.bottom_k_per_stratum(d, "lang", _RES_K, id_col="doc_id")


# --- sequence packing (GPT-style concat-and-chunk) ---------------------------

_BUDGET = 512
_TOKS_SQL = "len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))"


@query(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS n_toks FROM documents
    ),
    p AS (
      SELECT doc_id, source, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS pack_offset
      FROM t
    )
    SELECT doc_id, source, n_toks, pack_offset,
           CAST(floor(pack_offset / {_BUDGET}) AS BIGINT) AS pack_chunk,
           CAST(CASE WHEN n_toks <= 0 THEN 1
                ELSE floor((pack_offset + n_toks - 1) / {_BUDGET})
                     - floor(pack_offset / {_BUDGET}) + 1 END AS BIGINT)
             AS pack_chunks_spanned
    FROM p
    """,
    survey_ref="§2.10 sequence packing (concat-and-chunk token layout)",
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n_toks")
    )
    return SM.pack_concat_chunks(
        d, shard_col="source", order_col="doc_id", tokens_col="n_toks", budget=_BUDGET
    )


@query(
    "packing_chunk_inventory",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS_SQL} AS n_toks FROM documents
    ),
    p AS (
      SELECT source, n_toks,
             CAST(COALESCE(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS pack_offset
      FROM t
    )
    SELECT source, CAST(floor(pack_offset / {_BUDGET}) AS BIGINT) AS pack_chunk,
           count(*) AS n_docs_starting,
           CAST(sum(n_toks) AS BIGINT) AS toks_starting
    FROM p GROUP BY source, pack_chunk
    """,
    survey_ref="§2.10 sequence packing (chunk inventory / shard audit)",
)
def packing_chunk_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", T.token_count(F.col("text")).cast("long").alias("n_toks")
    )
    packed = SM.pack_concat_chunks(
        d, shard_col="source", order_col="doc_id", tokens_col="n_toks", budget=_BUDGET
    )
    return packed.groupBy("source", "pack_chunk").agg(
        F.count(F.lit(1)).alias("n_docs_starting"),
        F.sum("n_toks").alias("toks_starting"),
    )


# --- sketch-vs-exact accuracy attestations -----------------------------------
# The scale path for distinct counts / quantiles is a mergeable sketch
# (HLL++, percentile_approx). Sketches are engine-specific, so they can't be
# hash-compared to DuckDB directly; instead the query RETURNS the exact
# answer plus a boolean "sketch within advertised error" — the oracle replays
# the exact side and asserts TRUE. A sketch drifting out of tolerance at any
# scale factor fails the gate loudly instead of silently.


@query(
    "approx_distinct_check",
    oracle="""
    SELECT lang, count(DISTINCT text) AS n_exact, TRUE AS within_tol
    FROM documents GROUP BY lang
    """,
    survey_ref="§2.4 A14 distinct at scale (HLL++ vs exact attestation)",
)
def approx_distinct_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang").agg(
        F.countDistinct("text").alias("n_exact"),
        F.approx_count_distinct("text", 0.02).alias("_approx"),
    )
    return per.select(
        "lang",
        "n_exact",
        (F.abs(F.col("_approx") - F.col("n_exact")) <= 0.05 * F.col("n_exact")).alias(
            "within_tol"
        ),
    )


@query(
    "approx_quantile_check",
    oracle="""
    SELECT lang, round(median(n_chars), 1) AS med_exact, TRUE AS within_tol
    FROM documents GROUP BY lang
    """,
    survey_ref="§2.4 A10 quantile at scale (percentile_approx vs exact attestation)",
)
def approx_quantile_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    per = d.groupBy("lang").agg(
        F.expr("median(n_chars)").alias("_exact"),
        F.percentile_approx("n_chars", F.lit(0.5), F.lit(10000)).alias("_approx"),
    )
    return per.select(
        "lang",
        F.round("_exact", 1).alias("med_exact"),
        (F.abs(F.col("_approx") - F.col("_exact")) <= 0.05 * F.col("_exact")).alias(
            "within_tol"
        ),
    )


@query(
    "equidepth_bins",
    oracle="""
    WITH binned AS (
      SELECT l_returnflag,
             ntile(10) OVER (PARTITION BY l_returnflag
                             ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS bin,
             l_extendedprice
      FROM lineitem
    )
    SELECT l_returnflag, bin, count(*) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM binned GROUP BY l_returnflag, bin
    """,
    survey_ref="§2.4 extension: equi-depth histogram (per-group deciles)",
)
def equidepth_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group equi-depth (equal-count) histogram: decile bins of
    l_extendedprice within each returnflag, with per-bin count and value
    range — the binning a feature-engineering / drift-monitoring pass
    computes per segment (reference analog: the interval histogram A7,
    which is equi-WIDTH; equi-depth is its rank-based dual).

    Scale: one shuffle on the group key; each group sorts independently
    (ntile), so parallelism follows group cardinality — the global-sort
    degenerate case (one giant group) swaps to percentile_approx boundaries
    + range assignment, whose error bound `approx_quantile_check` attests
    next to this query. Deterministic tie-break via the lineitem PK.
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    binned = li.select(
        "l_returnflag", F.ntile(10).over(w).alias("bin"), "l_extendedprice"
    )
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    )


@query(
    "heavy_hitters_check",
    oracle="""
    WITH freq AS (
      SELECT l_suppkey, count(*) AS n FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT sum(n) AS total FROM freq)
    SELECT l_suppkey, n, TRUE AS in_sketch
    FROM freq CROSS JOIN tot WHERE n > 0.01 * total
    """,
    survey_ref="§2.4 extension: heavy hitters at scale (freqItems sketch vs exact attestation)",
)
def heavy_hitters_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter detection, sketch-attested like the other approx checks:
    exact support counts for keys above a 1% support threshold, each flagged
    with membership in Spark's one-pass `freqItems` sketch (Karp et al.
    frequent-items; the sketch GUARANTEES a superset at the given support,
    so `in_sketch` must be uniformly TRUE — which the DuckDB oracle asserts
    by construction). At 100 TB the sketch is the answer (single pass, no
    shuffle of the key column beyond partial merges); the exact groupBy twin
    here is what the gate can hash-check.
    """
    li = load_table(spark, sf_dir, "lineitem")
    sketch = set(li.stat.freqItems(["l_suppkey"], 0.01).collect()[0][0])
    freq = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    total = freq.agg(F.sum("n").alias("total"))
    hitters = freq.crossJoin(F.broadcast(total)).filter(
        F.col("n") > 0.01 * F.col("total")
    )
    sketch_arr = F.array(*[F.lit(int(x)) for x in sorted(sketch)])
    return hitters.select(
        "l_suppkey", "n", F.array_contains(sketch_arr, F.col("l_suppkey")).alias("in_sketch")
    )


@query(
    "key_skew_audit",
    oracle=f"""
    WITH per_key AS (
      SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ), stats AS (
      SELECT count(*) AS n_keys, CAST(sum(n) AS BIGINT) AS total,
             CAST(max(n) AS BIGINT) AS max_n,
             CAST((SELECT sum(n) FROM
                   (SELECT n FROM per_key ORDER BY n DESC LIMIT 10)) AS BIGINT)
               AS top10
      FROM per_key
    )
    SELECT n_keys, total AS total_rows, max_n AS max_key_rows,
           {ratio_e4_sql('max_n * n_keys', 'total')} AS max_over_mean_e4,
           {ratio_e4_sql('top10', 'total')} AS top10_share_e4
    FROM stats
    """,
    survey_ref="§2.4 extension: join/groupBy key-skew audit (pre-shuffle hot-key detection)",
)
def key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-flight check every 100 TB shuffle wants: per-key row counts
    reduced to skew indicators — max/mean ratio and top-10-key share. This
    is how you decide between a plain shuffle join, AQE skew splitting, and
    explicit salting (`operators/skew.py::salted_join`) BEFORE burning a
    cluster-day. One partial+final agg on the key + a tiny top-k; the
    indicator frame is O(1).
    """
    ev = load_table(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top10 = per_key.orderBy(F.col("n").desc()).limit(10).agg(
        F.sum("n").alias("top10")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("total"),
        F.max("n").alias("max_n"),
    )
    return stats.crossJoin(F.broadcast(top10)).select(
        F.col("n_keys"),
        F.col("total").alias("total_rows"),
        F.col("max_n").alias("max_key_rows"),
        # exact 1e-4-scaled integer ratios: max/mean == max*n_keys/total
        ratio_e4("max_n * n_keys", "total").alias("max_over_mean_e4"),
        ratio_e4("top10", "total").alias("top10_share_e4"),
    )


@query(
    "source_mixture_drift",
    oracle="""
    WITH a AS (
      SELECT source, count(*)::DOUBLE AS n FROM documents GROUP BY source
    ), b AS (
      SELECT source, count(*)::DOUBLE AS n FROM documents
      WHERE doc_id % 3 <> 0 GROUP BY source
    ), tot AS (
      SELECT (SELECT sum(n) FROM a) AS ta, (SELECT sum(n) FROM b) AS tb
    )
    SELECT a.source,
           round(a.n / ta, 4) AS p_ref,
           round(coalesce(b.n, 0) / tb, 4) AS p_new,
           round((a.n / ta) * ln((a.n / ta) / (coalesce(b.n, 0.5) / tb)), 6)
             AS kl_term
    FROM a LEFT JOIN b USING (source) CROSS JOIN tot
    """,
    survey_ref="§2.10 pipeline monitoring: source-mixture drift (per-source KL contribution)",
)
def source_mixture_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture drift monitor: per-source share in a reference snapshot
    vs a new snapshot (here: a deterministic 2/3 subset standing in for
    \"yesterday's crawl\"), with each source's KL-divergence contribution
    p_ref·ln(p_ref/p_new) — the alarm a production pipeline raises when a
    crawl's composition shifts before training sees it. Missing sources get
    a half-count floor (the standard additive smoothing for empty cells).

    Scale: two partial+final aggs on the source key (low cardinality) + a
    broadcast-sized totals row + one dim-sized join — O(sources) output, no
    fact-table shuffle beyond the aggs.
    """
    docs = _docs(spark, sf_dir)
    a = docs.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("n_a"))
    b = (
        docs.filter(F.col("doc_id") % 3 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("double").alias("n_b"))
    )
    tot = a.agg(F.sum("n_a").alias("ta")).crossJoin(
        b.agg(F.sum("n_b").alias("tb"))
    )
    j = a.join(b, "source", "left").crossJoin(F.broadcast(tot))
    p_ref = F.col("n_a") / F.col("ta")
    p_new = F.coalesce(F.col("n_b"), F.lit(0.0)) / F.col("tb")
    p_new_sm = F.coalesce(F.col("n_b"), F.lit(0.5)) / F.col("tb")
    return j.select(
        "source",
        F.round(p_ref, 4).alias("p_ref"),
        F.round(p_new, 4).alias("p_new"),
        F.round(p_ref * F.log(p_ref / p_new_sm), 6).alias("kl_term"),
    )


# --- temperature-scaled mixture weights --------------------------------------
# Multilingual/multi-source LMs sample sources with probability
# w_s ∝ p_s^τ (p_s = the source's token share, τ < 1 flattens the
# distribution toward the tail — the standard mBERT/XLM-R/Gopher recipe for
# keeping low-resource strata from vanishing). Computing the weights IS a
# pipeline op: two tiny aggregations over the stratum dim + a 1-row total,
# never a corpus-wide window; the weights table then drives
# stratified_sample rate tables at any scale.


@query(
    "mixture_temperature_weights",
    oracle="""
    WITH per AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tok
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT sum(n_tok) AS n_total FROM per),
    share AS (
      SELECT lang, n_tok, n_tok / t.n_total AS p
      FROM per CROSS JOIN tot t
    ),
    z AS (SELECT sum(sqrt(p)) AS z FROM share)
    SELECT s.lang, s.n_tok,
           round(s.p, 6) AS token_share,
           round(sqrt(s.p) / z.z, 6) AS sample_weight
    FROM share s CROSS JOIN z
    """,
    survey_ref="§2.10 data-mixture temperature sampling (w ∝ share^τ, τ=0.5 — the multilingual rebalancing recipe)",
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ = 0.5 deliberately: p^τ is then sqrt(p), which IEEE-754 REQUIRES to
    be correctly rounded — JVM and DuckDB produce identical bits, so the
    6dp round cannot flip across engines. A generic pow(p, τ) is only
    ~1-ulp accurate per libm, and a share landing within an ulp of a 5e-7
    rounding boundary could round differently per engine (the same boundary
    class the sliding-window sum oracle documents). For non-half τ a
    production run doesn't round at all — the hazard is gate-only."""
    docs = _docs(spark, sf_dir)
    per = docs.groupBy("lang").agg(
        F.sum(T.token_count(F.col("text"))).alias("n_tok")
    )
    tot = per.agg(F.sum("n_tok").alias("n_total"))
    share = per.crossJoin(F.broadcast(tot)).withColumn(
        "p", F.col("n_tok") / F.col("n_total")
    )
    z = share.agg(F.sum(F.sqrt("p")).alias("z"))
    return share.crossJoin(F.broadcast(z)).select(
        "lang",
        "n_tok",
        F.round("p", 6).alias("token_share"),
        F.round(F.sqrt("p") / F.col("z"), 6).alias("sample_weight"),
    )


# --- padding-waste audit (dynamic batching) ------------------------------------------------


def _padding_waste_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, CAST({_TOKS_SQL} AS BIGINT) AS n_toks FROM documents
    ),
    tagged AS (
      SELECT n_toks,
             (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS b_arrival,
             (row_number() OVER (ORDER BY n_toks, doc_id) - 1) // 32
               AS b_sorted
      FROM t
    ),
    a AS (
      SELECT 'arrival' AS discipline, b_arrival AS b,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(max(n_toks) AS BIGINT) AS mx,
             CAST(sum(n_toks) AS BIGINT) AS sm
      FROM tagged GROUP BY 2
      UNION ALL
      SELECT 'length_sorted', b_sorted,
             CAST(count(*) AS BIGINT), CAST(max(n_toks) AS BIGINT),
             CAST(sum(n_toks) AS BIGINT)
      FROM tagged GROUP BY 2
    )
    SELECT discipline,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(sm) AS BIGINT) AS real_tokens,
           CAST(sum(mx * cnt) AS BIGINT) AS padded_tokens,
           CAST(sum(mx * cnt) - sum(sm) AS BIGINT) AS wasted_tokens,
           {ratio_e4_sql('(sum(mx * cnt) - sum(sm))', 'sum(mx * cnt)')}
             AS waste_share_e4
    FROM a GROUP BY 1
    """


@query(
    "padding_waste_audit",
    oracle=_padding_waste_oracle(),
    survey_ref="§2.10 training throughput: pad-to-max-in-batch waste "
    "under two batching disciplines — arrival order vs length-sorted "
    "(fully tiebroken ranks, batches of 32); wasted = Σ_b (max_b·cnt_b "
    "− Σ_b tokens) exact BIGINT, the measured argument for length-"
    "bucketed dynamic batching",
)
def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many pad tokens does naive batching burn, and how many does
    length-sorting save? Batch ids come from exact global ranks built the
    scale-safe way (operators/scale_windows.py, r5 verdict item 3): the
    arrival rank partitions on a doc_id range bucket, the length rank on
    n_toks itself — per-bucket row_numbers plus one support-sized
    cumulative window each, no single-partition sort of the corpus. The
    tokenized (doc_id, n_toks) frame is checkpointed once so the full-text
    tokenizing scan runs once, not once per rank branch. Oracle keeps the
    native global row_number construction — hash equality proves the swap.
    Every number is an exact integer; waste_share IS lost throughput, the
    capacity-planning input for choosing bucketed batching."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_toks")
    ).transform(checkpoint)

    def per_batch(bucket, order, name: str) -> DataFrame:
        ranked = bucketed_global_rank(t, bucket, order, out="r")
        return (
            ranked.select(
                "n_toks", ((F.col("r") - 1) / 32).cast("long").alias("b")
            )
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.max("n_toks").cast("long").alias("mx"),
                F.sum("n_toks").cast("long").alias("sm"),
            )
            .select(F.lit(name).alias("discipline"), "b", "cnt", "mx", "sm")
        )

    a = per_batch(
        (F.col("doc_id") / 1024).cast("long"), [F.col("doc_id")], "arrival"
    ).unionByName(
        per_batch(F.col("n_toks"), [F.col("doc_id")], "length_sorted")
    )
    return a.groupBy("discipline").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("sm").cast("long").alias("real_tokens"),
        F.sum(F.col("mx") * F.col("cnt")).cast("long").alias("padded_tokens"),
        (F.sum(F.col("mx") * F.col("cnt")) - F.sum("sm"))
        .cast("long")
        .alias("wasted_tokens"),
        ratio_e4(
            "(sum(mx * cnt) - sum(sm))", "sum(mx * cnt)"
        ).alias("waste_share_e4"),
    )


# --- context-length truncation audit --------------------------------------------


@query(
    "context_overflow_audit",
    oracle=f"""
    WITH t AS (
      SELECT CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_toks
      FROM documents
    ),
    ctx(ctx_len) AS (VALUES (32), (48), (64), (96)),
    a AS (
      SELECT CAST(ctx_len AS BIGINT) AS ctx_len,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN n_toks > ctx_len THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_over,
             CAST(sum(greatest(n_toks - ctx_len, 0)) AS BIGINT)
               AS truncated_toks,
             CAST(sum(n_toks) AS BIGINT) AS total_toks
      FROM t CROSS JOIN ctx GROUP BY 1
    )
    SELECT ctx_len, n_docs, docs_over, truncated_toks,
           {ratio_e4_sql('truncated_toks', 'total_toks')} AS truncated_share_e4
    FROM a
    """,
    survey_ref="§2.10 training throughput: context-window truncation audit "
    "— per candidate context length, documents overflowing and exact "
    "token mass lost to truncation (the sizing input for sequence length "
    "/ chunking policy, beside padding_waste_audit's batching cost)",
)
def context_overflow_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """If training packs documents into ctx-length windows, how much text
    falls off the end? One tokenizing scan, a 4-row broadcast context
    dim, exact integer token masses, e4 truncation share. The 4× fan-out
    joins a literal dim (scale-free) — at 100 TB this is still one corpus
    scan."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = docs.select(token_count(F.col("text")).cast("long").alias("n_toks"))
    ctx = spark.createDataFrame([(32,), (48,), (64,), (96,)], "ctx_len long")
    a = t.crossJoin(F.broadcast(ctx)).groupBy("ctx_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_toks") > F.col("ctx_len")).cast("long"))
        .cast("long")
        .alias("docs_over"),
        F.sum(F.greatest(F.col("n_toks") - F.col("ctx_len"), F.lit(0)))
        .cast("long")
        .alias("truncated_toks"),
        F.sum("n_toks").cast("long").alias("total_toks"),
    )
    return a.select(
        "ctx_len",
        "n_docs",
        "docs_over",
        "truncated_toks",
        ratio_e4("truncated_toks", "total_toks").alias("truncated_share_e4"),
    )
