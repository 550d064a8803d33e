"""Round-9 continuation (second batch). Registered AFTER extra_ops_r9 so
the registry's unrecorded block keeps registration order — the r9 window
(17 earlier + this module) stays under the driver's 50-row recording
window; see tests/test_registry_order.py.

Theme: curation-EVAL and retrieval primitives that round out §2.10 —
the measurement half of a training-data pipeline (selection quality,
feature discrimination, ranking quality) plus two serving shapes:

  * capped_topk_per_source — diversity-capped shortlist: global top-K
    under a per-source cap (anti-domination constraint every curation
    shortlist applies); WindowGroupLimit per-group map-side limit + a
    TakeOrderedAndProject global cut.
  * clustering_coefficient_parts — per-vertex local clustering
    coefficient over the co-purchase graph (the community-density signal
    next to the global triangle count), exact e6 integers.
  * chi2_term_selection — χ² feature selection of lang-discriminative
    terms: exact integer contingencies, ranking by a PURE-ARITHMETIC
    double (bit-identical cross-engine — no transcendentals), the
    classic curation-classifier feature step.
  * score_auc_exact — exact ROC-AUC (Mann-Whitney U with midrank tie
    handling) as an undivided rational, via a distinct-score histogram:
    no per-row rank, no corpus sort.
  * best_passage_topk — query-term-density passage selection (the
    passage-retrieval primitive under every RAG chunker): best w-token
    window per doc via a per-doc position window, global top-k docs.
  * kcenter_coreset_seeds — greedy farthest-first coreset selection
    (Gonzalez 2-approx): k broadcast+fold+checkpoint rounds, exact u6
    integer distances, never a pairwise matrix.
  * bpe_train_merges / bpe_segment_corpus — BPE tokenizer TRAINING as a
    dataflow on the word-type histogram (corpus scanned once), plus the
    apply half; oracle = per-word recursive-CTE greedy fold, an
    independent sequential-merge implementation.
  * holt_forecast_exact / holt_incremental_equiv — Holt level+trend ETS
    as an exact BIGINT recurrence over the day-grain series (trunc-div
    replayed via exact_math.trunc_div_sql), and the resumable-state fold
    gated bit-identical to the one-shot recurrence.
  * knn_map_exact — exact MAP@k via lcm(1..k)-scaled integer precision
    terms, beside knn_mrr_exact.
  * rendezvous_rebalance_audit — HRW vs mod-N moved-key census for a
    growing shard count (shuffle-free per-row hash HOF).
  * dbscan_grid_clusters — DBSCAN composed from the audited grid radius
    join + the NEW diameter-safe large-star/small-star CC
    (operators/dedup.py::connected_components_star — added after the
    sf0.1 pre-bench run showed the percolating core graph aborting the
    one-hop hash-min kernel), with a density-constant radius (R² = A/n).

Reference analog: none (pure §2.10 extensions); the eval shapes mirror
BASELINE.md's ML-quality-metric framing (the reference reports F1/NDE-
style metrics, so the engine ships the exact-arithmetic metric kernels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import graph as G
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table

# the shared DuckDB tokenizer text (identical to advanced_analytics._TOKS)
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"

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


# --- local clustering coefficient ----------------------------------------------


@query(
    "clustering_coefficient_parts",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
               AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT x AS vertex, CAST(count(*) AS BIGINT) AS degree FROM
        (SELECT s AS x FROM e UNION ALL SELECT t FROM e) GROUP BY 1
    ),
    tri AS (
      SELECT e1.s AS a, e1.t AS b, e2.t AS c
      FROM e e1
      JOIN e e2 ON e2.s = e1.s AND e2.t > e1.t
      JOIN e e3 ON e3.s = e1.t AND e3.t = e2.t
    ),
    tv AS (
      SELECT x AS vertex, CAST(count(*) AS BIGINT) AS n_triangles FROM
        (SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
         UNION ALL SELECT c FROM tri) GROUP BY 1
    )
    SELECT d.vertex, d.degree, COALESCE(tv.n_triangles, 0) AS n_triangles,
           CAST((2 * COALESCE(tv.n_triangles, 0) * 1000000)
                // (d.degree * (d.degree - 1)) AS BIGINT) AS cc_e6
    FROM deg d LEFT JOIN tv USING (vertex)
    WHERE d.degree >= 2
    """,
    survey_ref="§2 graph extension: local clustering coefficient "
    "(Watts-Strogatz) per vertex over the support-≥2 co-purchase graph; "
    "oracle = naive ordered 3-way triangle join exploded to endpoints",
)
def clustering_coefficient_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient cc(v) = 2·tri(v)/(deg(v)·
    (deg(v)−1)) over the same support-≥2 co-purchase graph as
    triangle_count_parts — the neighborhood-density signal behind
    community features and recommendation diversity (a part whose
    co-purchases all co-purchase each other sits inside a basket clique).
    Kernel: operators/graph.py::triangles_per_vertex — the degree-ordered
    orientation shared with the global count, closure via INNER join +
    3-way endpoint explode (linear passes, hub-safe O(√m) wedge fan-out).
    cc ships as an exact e6 integer (`div` both engines, nonneg) plus the
    undivided (n_triangles, degree) pair; 2·tri·1e6 < 2^63 holds to
    tri ~ 4.6e12, far past any real vertex. Only deg ≥ 2 vertices
    (cc defined)."""
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    tv = G.triangles_per_vertex(_copurchase_edges(li))
    return tv.filter(F.col("degree") >= 2).select(
        "vertex",
        "degree",
        "n_triangles",
        F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))").alias(
            "cc_e6"
        ),
    )


# --- chi-squared term selection -------------------------------------------------

_CHI2_MIN_DF = 20
_CHI2_K = 15

# ONE expression text shared by both engines: every input is an exact
# integer ≤ 2^53 cast to double, and the op tree is pure {+,−,×,÷} in a
# pinned association order — IEEE doubles are then BIT-IDENTICAL across
# engines (no transcendentals — unlike the ln-based BM25 scores which
# rank with a 1-ulp caveat). n_total·x·x rounds once above 2^53,
# identically on both sides.
_CHI2_EXPR = (
    "(CAST(n_total AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)"
    " * CAST(a*d - b*c AS DOUBLE))"
    " / (CAST(a+b AS DOUBLE) * CAST(c+d AS DOUBLE)"
    " * CAST(a+c AS DOUBLE) * CAST(b+d AS DOUBLE))"
)


@query(
    "chi2_term_selection",
    oracle=f"""
    WITH td AS (
      SELECT doc_id, lang = 'en' AS en, unnest(list_distinct({_TOKS})) AS term
      FROM documents
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
      FROM documents
    ),
    ct AS (
      SELECT term,
             CAST(sum(CASE WHEN en THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN en THEN 0 ELSE 1 END) AS BIGINT) AS b
      FROM td GROUP BY term
    ),
    cells AS (
      SELECT term, a, b, n_en - a AS c, (n_total - n_en) - b AS d, n_total
      FROM ct, tot
      WHERE a + b >= {_CHI2_MIN_DF} AND a + b <= n_total - 5
    )
    SELECT term, a, b, c, d,
           CAST(floor(({_CHI2_EXPR}) * 10000) AS BIGINT) AS chi2_e4
    FROM cells
    ORDER BY {_CHI2_EXPR} DESC, term LIMIT {_CHI2_K}
    """,
    survey_ref="§2.10 curation extension: χ² term selection (Yang & "
    "Pedersen '97 feature selection) — the discriminative-vocabulary step "
    "under every fastText-style quality/language classifier; reference "
    "analog: J3's keyword→label map, LEARNED from counts instead of "
    "declared",
)
def chi2_term_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 terms most associated with lang='en' by χ² over exact
    per-term document-frequency contingencies (a=en-with-term,
    b=other-with-term, c/d complements). Counts are one distinct-explode +
    hash agg (linear, map-side combined); the 1-row totals frame is a
    broadcast crossJoin (guard-exempt). Ranking: χ² is computed from ONE
    shared expression text over exact-integer casts with no
    transcendentals, so the double is bit-identical in both engines and
    the (χ² desc, term) top-k cut is deterministic — the stronger form of
    the BM25 raw-float ranking discipline. Emitted χ² is floor-scaled e4;
    the gate pins the contingencies exactly. df bounds: support ≥ 20
    drops noise terms, df ≤ N−5 keeps c+d > 0 (a term in every document
    has no discrimination and would put 0/0·∞ in the statistic)."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
    )
    td = docs.select(
        (F.col("lang") == "en").alias("en"),
        F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("term"),
    )
    ct = td.groupBy("term").agg(
        F.sum(F.when(F.col("en"), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("en"), 0).otherwise(1)).cast("long").alias("b"),
    )
    cells = (
        ct.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("a") + F.col("b") >= _CHI2_MIN_DF)
            & (F.col("a") + F.col("b") <= F.col("n_total") - 5)
        )
        .select(
            "term",
            "a",
            "b",
            (F.col("n_en") - F.col("a")).alias("c"),
            (F.col("n_total") - F.col("n_en") - F.col("b")).alias("d"),
            "n_total",
        )
    )
    scored = cells.withColumn("chi2", F.expr(_CHI2_EXPR))
    return (
        scored.orderBy(F.desc("chi2"), F.asc("term"))
        .limit(_CHI2_K)
        .select(
            "term",
            "a",
            "b",
            "c",
            "d",
            F.floor(F.col("chi2") * 10000).cast("long").alias("chi2_e4"),
        )
    )


# --- exact ROC-AUC --------------------------------------------------------------


@query(
    "score_auc_exact",
    oracle="""
    WITH per_score AS (
      SELECT n_chars AS s,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS p,
             CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT) AS n
      FROM documents GROUP BY n_chars
    ),
    cum AS (
      SELECT s, p, n,
             CAST(sum(n) OVER (ORDER BY s) AS BIGINT) - n AS neg_below
      FROM per_score
    )
    SELECT CAST(sum(p) AS BIGINT) AS n_pos,
           CAST(sum(n) AS BIGINT) AS n_neg,
           CAST(sum(p * (2 * neg_below + n)) AS BIGINT) AS auc_num,
           2 * CAST(sum(p) AS BIGINT) * CAST(sum(n) AS BIGINT) AS auc_den,
           CAST((sum(p * (2 * neg_below + n)) * 1000000)
                // (2 * sum(p) * sum(n)) AS BIGINT) AS auc_e6
    FROM cum
    """,
    survey_ref="§2.10 eval extension: exact ROC-AUC via the Mann-Whitney "
    "U histogram identity with midrank ties (Hanley-McNeil) — the "
    "classifier-quality gate next to knn_label_accuracy/rank_calibration; "
    "reference analog: BASELINE.md's ML-quality metric framing",
)
def score_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact AUC of 'n_chars predicts lang=en' — the histogram form: group
    to the DISTINCT-SCORE grain (bounded: document length is capped, so
    the support is a value-domain histogram, not a row-scaled sort — the
    guard-recognized HashAggregate boundary), one cumulative window over
    that histogram, one global sum. 2U = Σ_s p_s·(2·negBelow_s + n_s)
    counts each pos>neg pair twice and each tie once — exactly the
    midrank convention — so AUC = auc_num/auc_den as an undivided exact
    rational (the ols_trend discipline) plus a `div`-scaled e6 display
    (bound: 2·P·N·1e6 < 2^63 ⇒ P·N < 4.6e12 — past ~2M×2M docs drop the
    scaled column and divide consumer-side). No per-row ranks, no global
    sort: at 100 TB this is one linear agg + an O(|score domain|)
    window."""
    docs = load_table(spark, sf_dir, "documents")
    per_score = docs.groupBy(F.col("n_chars").alias("s")).agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("p"),
        F.sum(F.when(F.col("lang") == "en", 0).otherwise(1)).cast("long").alias("n"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_score.withColumn("neg_below", F.sum("n").over(w) - F.col("n"))
    return cum.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.sum(F.col("p") * (2 * F.col("neg_below") + F.col("n")))
        .cast("long")
        .alias("auc_num"),
        (2 * F.sum("p") * F.sum("n")).cast("long").alias("auc_den"),
        F.expr(
            "CAST((sum(p * (2 * neg_below + n)) * 1000000)"
            " div (2 * sum(p) * sum(n)) AS BIGINT)"
        ).alias("auc_e6"),
    )


# --- best-passage selection -----------------------------------------------------

_PSG_TERMS = ["join", "hash", "scan"]
_PSG_TERMS_SQL = "[" + ", ".join(f"'{t}'" for t in _PSG_TERMS) + "]"
_PSG_W = 10  # window width in tokens
_PSG_K = 10


@query(
    "best_passage_topk",
    oracle=f"""
    WITH toked AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    cand AS (
      SELECT doc_id, CAST(i AS INT) AS start,
             CAST(len(list_filter(toks[i:i+{_PSG_W - 1}],
                  t -> list_contains({_PSG_TERMS_SQL}, t))) AS BIGINT) AS hits
      FROM toked, unnest(range(1, len(toks) + 1)) AS u(i)
    ),
    best AS (
      SELECT doc_id, start, hits,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY hits DESC, start) AS rn
      FROM cand
    )
    SELECT doc_id, start, hits FROM best
    WHERE rn = 1 AND hits >= 1
    ORDER BY hits DESC, doc_id LIMIT {_PSG_K}
    """,
    survey_ref="§2.10 retrieval extension: best-passage selection "
    "(query-term-density window — the passage-retrieval primitive under "
    "RAG chunk re-scoring; Callan '94 passage-level evidence); oracle = "
    "quadratic per-start list-slice recount",
)
def best_passage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each document, the 10-token window densest in query terms
    (earliest start on ties), then the top-10 docs by that density — what
    a RAG serving layer does after doc-level retrieval to pick the
    passage that actually enters the prompt. Spark runs the O(n)-per-doc
    form: positional explode, 0/1 hit flag, per-doc position window
    (ROWS CURRENT..w−1 FOLLOWING — partitioned by doc_id, partition size
    = document length, bounded), integer argmax via min(struct(-hits,
    start)), global TakeOrderedAndProject. The oracle recounts every
    start with a quadratic list slice — the equivalence is the check.
    All-integer scores ⇒ deterministic cut."""
    pos = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.posexplode(T.tokens(F.col("text"))).alias("p0", "tok")
    ).select(
        "doc_id",
        (F.col("p0") + 1).alias("start"),
        F.col("tok").isin(*_PSG_TERMS).cast("long").alias("hit"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("start")
        .rowsBetween(0, _PSG_W - 1)
    )
    cand = pos.withColumn("hits", F.sum("hit").over(w))
    best = (
        cand.groupBy("doc_id")
        .agg(F.min(F.struct((-F.col("hits")).alias("nh"), F.col("start"))).alias("b"))
        .select(
            "doc_id",
            F.col("b.start").alias("start"),
            (-F.col("b.nh")).alias("hits"),
        )
        .filter(F.col("hits") >= 1)
    )
    return best.orderBy(F.desc("hits"), F.asc("doc_id")).limit(_PSG_K)


# --- greedy k-center coreset selection ------------------------------------------

_KC_K = 4  # selections (seed + 3 farthest-first rounds)
_KC_DIMS = 64


def _kcenter_oracle_sql(k: int = _KC_K, dims: int = _KC_DIMS) -> str:
    """Chained-CTE unroll of farthest-first traversal (the fixed-k iterated
    recurrence discipline of _pagerank_oracle): q = exploded u6 integer
    components, c1 = max-norm seed, then per round an argmax-of-min-dist
    CTE and a least() fold CTE. All arithmetic is exact BIGINT."""
    parts = [
        f"""
    WITH q AS (
      SELECT vec_id, CAST(pos AS INT) AS i,
             CAST(floor(v[pos + 1] * 1000000) AS BIGINT) AS qv
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           unnest(range(0, {dims})) AS u(pos)
    ),
    n2 AS (SELECT vec_id, CAST(sum(qv * qv) AS BIGINT) AS norm2
           FROM q GROUP BY 1),
    c1 AS (SELECT vec_id FROM n2 ORDER BY norm2 DESC, vec_id LIMIT 1),
    d1 AS (
      SELECT a.vec_id,
             CAST(sum((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS mind
      FROM q a JOIN q b ON b.i = a.i
                       AND b.vec_id = (SELECT vec_id FROM c1)
      GROUP BY 1
    )"""
    ]
    for r in range(2, k + 1):
        parts.append(f""",
    c{r} AS (SELECT vec_id, mind FROM d{r - 1}
             ORDER BY mind DESC, vec_id LIMIT 1),
    d{r} AS (
      SELECT x.vec_id, least(p.mind, x.d) AS mind
      FROM (SELECT a.vec_id,
                   CAST(sum((a.qv - b.qv) * (a.qv - b.qv)) AS BIGINT) AS d
            FROM q a JOIN q b ON b.i = a.i
                             AND b.vec_id = (SELECT vec_id FROM c{r})
            GROUP BY 1) x
      JOIN d{r - 1} p USING (vec_id)
    )""")
    sels = [
        "SELECT 1 AS sel_round, (SELECT vec_id FROM c1) AS vec_id,"
        " CAST(NULL AS BIGINT) AS sel_dist2"
    ] + [
        f"SELECT {r}, (SELECT vec_id FROM c{r}), (SELECT mind FROM c{r})"
        for r in range(2, k + 1)
    ]
    parts.append(f""",
    rad AS (SELECT CAST(max(mind) AS BIGINT) AS radius2 FROM d{k}),
    sel AS ({' UNION ALL '.join(sels)})
    SELECT CAST(sel_round AS INT) AS sel_round, vec_id, sel_dist2, rad.radius2
    FROM sel, rad""")
    return "".join(parts)


_KC_D2 = "aggregate(zip_with(q6, c6, (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)"


@query(
    "kcenter_coreset_seeds",
    oracle=_kcenter_oracle_sql(),
    survey_ref="§2.10 curation extension: greedy k-center coreset "
    "selection (farthest-first traversal, Gonzalez '85 — the 2-approx "
    "k-center heuristic behind diversity-driven data selection / "
    "coreset curation, cf. Sener & Savarese ICLR'18 core-set active "
    "learning); oracle = chained-CTE unroll over exploded integer "
    "components",
)
def kcenter_coreset_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Farthest-first selection of 4 diversity seeds over the embedding
    corpus: seed = max-norm vector, then 3 rounds of "select the point
    farthest from everything selected so far". The classic coreset /
    diverse-subset primitive for training-data curation (pick maximally
    spread exemplars; the selection radius bounds every point's distance
    to its nearest exemplar by 2× the optimum). Exact arithmetic: u6
    integer components, squared L2 (≤ 64·(2e6)² ≈ 2.6e14 per pair — far
    inside int64), argmax with vec_id tiebreaks ⇒ deterministic
    cross-engine. Plan shape per round: ONE broadcast of the LIMIT-1
    selected center (guard-exempt reference frame), one linear min-dist
    fold, localCheckpoint of the O(n) state vector — the canonical
    distributed k-center: k linear passes, no pairwise matrix. The state
    checkpoint is REQUIRED, not optional: each round references the prior
    state twice (argmax + fold base), so the lazy chain re-evaluates
    2^rounds times without it. Assumes k ≪ distinct vectors (a selected
    point's dist drops to 0, so re-selection needs an all-duplicate
    corpus); radius2 = the k-center objective after all selections,
    pinned on every output row."""
    return _kcenter_kernel(load_table(spark, sf_dir, "embeddings"))


def _kcenter_kernel(emb: DataFrame) -> DataFrame:
    """Frame-level farthest-first kernel (its unrolled plan is checked in
    tests/test_checkpoint_blindspot.py)."""
    from nilm_data_framework_spark.operators.embed_stats import u6_components

    q = emb.select("vec_id", u6_components("embedding").alias("q6"))
    n2 = q.withColumn(
        "norm2", F.expr("aggregate(transform(q6, x -> x * x), 0L, (a, v) -> a + v)")
    )
    c1 = n2.orderBy(F.desc("norm2"), F.asc("vec_id")).limit(1)
    sels = [
        c1.select(
            F.lit(1).cast("int").alias("sel_round"),
            "vec_id",
            F.lit(None).cast("long").alias("sel_dist2"),
        )
    ]
    state = (
        q.crossJoin(F.broadcast(c1.select(F.col("q6").alias("c6"))))
        .select("vec_id", "q6", F.expr(_KC_D2).alias("mind"))
        .localCheckpoint(eager=True)
    )
    for r in range(2, _KC_K + 1):
        best = state.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1)
        sels.append(
            best.select(
                F.lit(r).cast("int").alias("sel_round"),
                "vec_id",
                F.col("mind").alias("sel_dist2"),
            )
        )
        state = (
            state.crossJoin(F.broadcast(best.select(F.col("q6").alias("c6"))))
            .select(
                "vec_id",
                "q6",
                F.least(F.col("mind"), F.expr(_KC_D2)).alias("mind"),
            )
            .localCheckpoint(eager=True)
        )
    rad = state.agg(F.max("mind").alias("radius2"))
    out = sels[0]
    for s in sels[1:]:
        out = out.unionByName(s)
    return out.crossJoin(F.broadcast(rad))


# --- BPE tokenizer training (iterated merge rounds) -----------------------------

_BPE_ROUNDS = 4


def _bpe_oracle_sql(rounds: int = _BPE_ROUNDS, final_select: str | None = None) -> str:
    """Chained unroll of the BPE training loop. The merge REWRITE is a
    per-word recursive CTE (left-to-right greedy fold over symbol
    positions) — an INDEPENDENT formulation from Spark's aggregate() HOF
    fold, so the gate's hash equality proves the two sequential-merge
    semantics agree, not just the argmax. Intermediate word tables are AS
    MATERIALIZED: without it DuckDB inlines each w{r} into the NEXT
    round's recursive term and the chain re-runs the recursion once per
    iteration (measured: 4 rounds >120 s inlined vs 0.14 s
    materialized)."""
    parts = [f"""
    WITH RECURSIVE w1 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    p{r} AS (
      SELECT w.syms[i] AS lsym, w.syms[i+1] AS rsym,
             CAST(sum(w.cnt) AS BIGINT) AS pair_count
      FROM w{r} w, unnest(range(1, len(w.syms))) AS u(i)
      GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
      SELECT * FROM p{r} ORDER BY pair_count DESC, lsym, rsym LIMIT 1),
    m{r} AS (
      SELECT word, cnt, 1 AS pos, []::VARCHAR[] AS out FROM w{r}
      UNION ALL
      SELECT m.word, m.cnt, m.pos + 1,
        CASE WHEN len(m.out) > 0 AND m.out[len(m.out)] = b.lsym
                  AND w.syms[m.pos] = b.rsym
             THEN list_append(m.out[1:len(m.out)-1], b.lsym || b.rsym)
             ELSE list_append(m.out, w.syms[m.pos]) END
      FROM m{r} m, w{r} w, b{r} b
      WHERE m.word = w.word AND m.pos <= len(w.syms)
    ),
    w{r + 1} AS MATERIALIZED (
      SELECT m.word, m.cnt, m.out AS syms
      FROM m{r} m JOIN w{r} w USING (word)
      WHERE m.pos = len(w.syms) + 1
    ),
    a{r} AS (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS corpus_tokens_after
             FROM w{r + 1})""")
    if final_select is None:
        sels = " UNION ALL ".join(
            f"SELECT {r} AS merge_round, b{r}.lsym, b{r}.rsym, b{r}.pair_count, "
            f"a{r}.corpus_tokens_after FROM b{r}, a{r}"
            for r in range(1, rounds + 1)
        )
        final_select = (
            f"\n    SELECT CAST(merge_round AS INT) AS merge_round, lsym, rsym,"
            f" pair_count, corpus_tokens_after FROM ({sels})"
        )
    parts.append(final_select)
    return "".join(parts)


# left-to-right greedy merge of the (lsym, rsym) pair, as an array fold:
# out[-1]=l ∧ s=r ⇒ replace the tail with l||r, else append s. A merged
# token can never re-trigger as l (l||r ≠ l since r is nonempty), so one
# pass IS the standard non-overlapping greedy merge ("aaa" -> ["aa","a"]).
_BPE_MERGE = (
    "aggregate(syms, CAST(array() AS array<string>),"
    " (acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1) = lsym"
    " AND s = rsym,"
    " concat(slice(acc, 1, size(acc) - 1), array(concat(lsym, rsym))),"
    " concat(acc, array(s))))"
)


def _bpe_train(
    spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS
) -> tuple[list[DataFrame], DataFrame]:
    """Run the BPE training loop; returns (per-round merge-rule frames,
    final segmented word-type table (word, cnt, syms)). Shared by the
    train gate and the segmentation (apply) gate — the loop lives once."""
    return _bpe_train_frames(load_table(spark, sf_dir, "documents"), rounds)


def _bpe_train_frames(
    docs: DataFrame, rounds: int = _BPE_ROUNDS
) -> tuple[list[DataFrame], DataFrame]:
    """Frame-level BPE training loop (its unrolled plan is checked in
    tests/test_checkpoint_blindspot.py)."""
    w = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
        .localCheckpoint(eager=True)
    )
    rows = []
    for r in range(1, rounds + 1):
        pairs = (
            # size >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) and
            # ANSI element_at then raises on fully-merged single-token
            # words; DuckDB's range(1, 1) is empty — same semantics after
            # the filter
            w.filter(F.size("syms") >= 2).select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS lsym,"
                        " element_at(syms, i + 1) AS rsym))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lsym", "p.rsym")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.desc("pair_count"), F.asc("lsym"), F.asc("rsym")
        ).limit(1)
        w = (
            w.crossJoin(F.broadcast(best))
            .select(
                "word",
                "cnt",
                F.expr(_BPE_MERGE).alias("syms"),
            )
            .localCheckpoint(eager=True)
        )
        after = w.agg(
            F.sum(F.col("cnt") * F.size("syms")).alias("corpus_tokens_after")
        )
        rows.append(
            best.select(
                F.lit(r).cast("int").alias("merge_round"),
                "lsym",
                "rsym",
                "pair_count",
            ).crossJoin(F.broadcast(after))
        )
    return rows, w


@query(
    "bpe_train_merges",
    oracle=_bpe_oracle_sql(),
    survey_ref="§2.10 LLM-pipeline extension: BPE tokenizer TRAINING as a "
    "dataflow (Sennrich '16; the word-type-histogram formulation that "
    "makes training corpus-size-independent) — 4 argmax+merge rounds, "
    "exact integer counts; oracle = per-word recursive-CTE greedy fold, "
    "an independent sequential-merge implementation",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 4 BPE merges on the corpus and emit per round (lsym, rsym,
    pair_count, corpus_tokens_after) — the actual tokenizer-training
    loop, not a proxy: adjacent-pair counts weighted by word frequency,
    argmax with (count desc, pair asc) tiebreak, greedy left-to-right
    non-overlapping rewrite, repeat. THE scale trick is the first line:
    training runs on the WORD-TYPE HISTOGRAM (one linear agg over the
    corpus — Heaps-law-bounded, ~31 types here, ~10⁶ at web scale), so
    every subsequent round is vocabulary-sized work; the corpus is never
    rescanned. Per round the plan is: bounded pair explode + hash agg,
    LIMIT-1 argmax broadcast (guard-exempt), one aggregate() HOF rewrite
    pass, localCheckpoint of the vocab-bounded word table (each round
    references it twice — argmax + rewrite — so the lazy chain would
    re-fold 2^rounds times). corpus_tokens_after pins each REWRITE
    exactly (not just the argmax): it is the post-merge corpus token
    count. Words restricted to ^[a-z]+$ — the standard alphabetic
    pre-tokenization class (multi-byte slicing and collation differ
    cross-engine; a production tokenizer pre-splits byte-level anyway).
    Ties everywhere integer with lexicographic pair tiebreaks — TIES.md
    row 'bpe argmax'."""
    rows, _w = _bpe_train(spark, sf_dir)
    out = rows[0]
    for s in rows[1:]:
        out = out.unionByName(s)
    return out


@query(
    "bpe_segment_corpus",
    oracle=_bpe_oracle_sql(
        final_select=f"""
    SELECT word, cnt, CAST(len(syms) AS BIGINT) AS n_pieces,
           array_to_string(syms, ' ') AS pieces
    FROM w{_BPE_ROUNDS + 1}"""
    ),
    survey_ref="§2.10 LLM-pipeline extension: BPE segmentation (the APPLY "
    "half of bpe_train_merges — the trained merges re-segment the word "
    "vocabulary; tokenization of new text is a vocab-table join away); "
    "oracle = the training chain's final word table w5",
)
def bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of the tokenizer: after the 4 trained merges, the
    word-type table IS the tokenization lookup (word → pieces) — this is
    how production tokenization scales too: segment the vocab once
    (vocab-sized work), then tokenizing the corpus is a broadcast
    word→pieces join, never per-document merge replay. Emits every word
    type with its count, piece count and space-joined pieces; the gate
    hash pins the full segmentation of every type, a stronger check than
    the train gate's corpus_tokens_after aggregate. Same loop via
    _bpe_train (the code lives once); oracle = the recursive-fold chain's
    final w{rounds+1} table verbatim — verifying that BOTH sequential
    merge implementations land on identical segmentations per word."""
    _rows, w = _bpe_train(spark, sf_dir)
    return w.select(
        "word",
        "cnt",
        F.size("syms").cast("long").alias("n_pieces"),
        F.array_join("syms", " ").alias("pieces"),
    )


# --- Holt double exponential smoothing (exact integer recurrence) ---------------

# alpha = 3/10, beta = 2/10 as exact rational smoothing weights; all state
# stays BIGINT cents via truncating division (Spark `div`; the oracle
# mirrors with exact_math.trunc_div_sql because the TREND state goes
# negative and DuckDB // floors)
_HOLT_LNEW_SPARK = "(3 * x.y + 7 * (acc.l + acc.b)) div 10"
_HOLT_ZERO_INIT = (
    "named_struct('l', CAST(0 AS BIGINT), 'b', CAST(0 AS BIGINT),"
    " 'sae', CAST(0 AS BIGINT), 'n', 0)"
)


def _holt_fold_expr(init: str = _HOLT_ZERO_INIT) -> str:
    """The Holt fold with an injectable initial state — the zero init's
    n=0 branch seeds from the first observation; a resumed fold passes
    the prior (l, b, sae, n) and the recurrence continues exactly (the
    incremental-equivalence hook)."""
    return f"""
aggregate(s,
  {init},
  (acc, x) -> IF(acc.n = 0,
    named_struct('l', x.y, 'b', CAST(0 AS BIGINT),
                 'sae', CAST(0 AS BIGINT), 'n', 1),
    named_struct(
      'l', {_HOLT_LNEW_SPARK},
      'b', (2 * (({_HOLT_LNEW_SPARK}) - acc.l) + 8 * acc.b) div 10,
      'sae', acc.sae + abs(x.y - (acc.l + acc.b)),
      'n', acc.n + 1)))
"""


_HOLT_FOLD = _holt_fold_expr()


def _holt_oracle_sql() -> str:
    from nilm_data_framework_spark.operators.exact_math import trunc_div_sql

    lnew = trunc_div_sql("3*d.y + 7*(s.l + s.b)", "10")
    bnew = trunc_div_sql(f"2*(({lnew}) - s.l) + 8*s.b", "10")
    return f"""
    WITH RECURSIVE daily AS MATERIALIZED (
      SELECT CAST(row_number() OVER (ORDER BY o_orderdate) AS INT) AS t, y
      FROM (SELECT o_orderdate,
                   CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT))
                        AS BIGINT) AS y
            FROM orders GROUP BY o_orderdate)
    ),
    st AS (
      SELECT 1 AS t, y AS l, CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS sae
      FROM daily WHERE t = 1
      UNION ALL
      SELECT s.t + 1, {lnew} AS l, {bnew} AS b,
             s.sae + abs(d.y - (s.l + s.b))
      FROM st s JOIN daily d ON d.t = s.t + 1
    ),
    fin AS (SELECT * FROM st ORDER BY t DESC LIMIT 1)
    SELECT CAST((SELECT max(t) FROM daily) AS BIGINT) AS n_days,
           l AS l_final, b AS b_final, sae,
           l + b AS fc_1, l + 7 * b AS fc_7
    FROM fin
    """


@query(
    "holt_forecast_exact",
    oracle=_holt_oracle_sql(),
    survey_ref="§2 time-series extension: Holt double exponential "
    "smoothing (level+trend ETS) as an exact BIGINT recurrence over the "
    "daily-revenue series — the forecasting member of the iterated-"
    "numeric-fixpoint family (pagerank / gram power iteration); oracle = "
    "recursive-CTE replay with trunc_div_sql carrying Spark's signed "
    "truncating division",
)
def holt_forecast_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method (α=0.3, β=0.2 as exact rationals) over daily
    order revenue in cents: level/trend recurrences with TRUNCATING
    integer division, one-step-ahead absolute-error sum, and 1/7-day
    forecasts. The sequential fold runs over the DAY-GRAIN series — a
    bounded value domain (the order calendar spans a fixed ~2.4k days at
    every sf, so the collected array is constant-sized while the per-day
    aggregation underneath absorbs the sf-scaled rows; at 100 TB the agg
    shuffles, the fold doesn't grow). Kernel: groupBy(day) exact-cents
    sums → ONE sorted collect + aggregate() HOF fold carrying
    (l, b, sae, n). The trend state goes NEGATIVE, so the division inside
    the recurrence cannot be deferred as num/den — Spark `div` truncates
    toward zero and the oracle replays it via exact_math.trunc_div_sql
    (the r9 sign-magnitude discipline); the gate is bit-exact over ~2.4k
    chained divisions. Smoothing weights are the rational dial: any a/10,
    b/10 pair works unchanged."""
    daily = load_table(spark, sf_dir, "orders").groupBy("o_orderdate").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y")
    )
    arr = daily.agg(
        F.array_sort(F.collect_list(F.struct("o_orderdate", "y"))).alias("s")
    )
    return arr.select(F.expr(_HOLT_FOLD).alias("r")).select(
        F.col("r.n").cast("long").alias("n_days"),
        F.col("r.l").alias("l_final"),
        F.col("r.b").alias("b_final"),
        F.col("r.sae").alias("sae"),
        (F.col("r.l") + F.col("r.b")).alias("fc_1"),
        (F.col("r.l") + 7 * F.col("r.b")).alias("fc_7"),
    )


# --- incremental Holt fold (resumable forecasting state) ------------------------

_HOLT_CUTS = ("1994-01-01", "1996-01-01")  # 3 time slices


@query(
    "holt_incremental_equiv",
    oracle=_holt_oracle_sql(),
    survey_ref="§2 time-series extension: INCREMENTAL Holt fold — the "
    "(l, b, sae, n) state resumes across time-sliced batches and lands "
    "bit-identical to the one-shot recurrence (oracle shared verbatim "
    "with holt_forecast_exact); the checkpointed-forecasting-state member "
    "of the incremental-fold family (SCD2/CC/interval-union/Gram)",
)
def holt_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of the forecaster: each ingest batch folds only
    ITS days, seeded with the persisted (l, b, sae, n) state — closed
    history is never re-read (cost O(batch days), the SCD2-fold
    discipline). Exactness is by construction — the recurrence is a left
    fold and fold(s1 ++ s2) = fold(fold(s1), s2) — but the gate proves
    the IMPLEMENTATION: three date-sliced folds with injected initial
    state (_holt_fold_expr(init)) must land bit-identical to the one-shot
    fold, across the slice boundaries where (l, b) carry live trend.
    Slices partition the calendar (date ranges), so each day lands in
    exactly one batch; a LATE day would violate the fold's in-order
    precondition — the recovery is the SCD2-late-arrivals pattern
    (re-fold from the last state before the late day), documented here,
    not gated."""
    orders = load_table(spark, sf_dir, "orders")
    lo = [None, *_HOLT_CUTS]
    hi = [*_HOLT_CUTS, None]
    st = None
    for lo_d, hi_d in zip(lo, hi):
        sl = orders
        if lo_d is not None:
            sl = sl.filter(F.col("o_orderdate") >= F.lit(lo_d))
        if hi_d is not None:
            sl = sl.filter(F.col("o_orderdate") < F.lit(hi_d))
        daily = sl.groupBy("o_orderdate").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y")
        )
        arr = daily.agg(
            F.array_sort(F.collect_list(F.struct("o_orderdate", "y"))).alias("s")
        )
        if st is None:
            folded = arr.select(F.expr(_holt_fold_expr()).alias("r"))
        else:
            init = "named_struct('l', pl, 'b', pb, 'sae', psae, 'n', pn)"
            folded = arr.crossJoin(F.broadcast(st)).select(
                F.expr(_holt_fold_expr(init)).alias("r")
            )
        st = folded.select(
            F.col("r.l").alias("pl"),
            F.col("r.b").alias("pb"),
            F.col("r.sae").alias("psae"),
            F.col("r.n").alias("pn"),
        ).localCheckpoint(eager=True)
    return st.select(
        F.col("pn").cast("long").alias("n_days"),
        F.col("pl").alias("l_final"),
        F.col("pb").alias("b_final"),
        F.col("psae").alias("sae"),
        (F.col("pl") + F.col("pb")).alias("fc_1"),
        (F.col("pl") + 7 * F.col("pb")).alias("fc_7"),
    )


# --- exact MAP@k retrieval evaluation -------------------------------------------

_MAP_Q = 16
_MAP_K = 10
_MAP_LCM = 2520  # lcm(1..10)


def _map_oracle() -> str:
    from nilm_data_framework_spark.queries.similarity import _brute_oracle_sql

    return f"""
    WITH topk AS (
      SELECT query_id, match_id, rk
      FROM ({_brute_oracle_sql(n_queries=_MAP_Q, k=_MAP_K)}) b
    ),
    ql AS (SELECT vec_id, label FROM embeddings),
    hits AS (
      SELECT t.query_id, t.rk,
             CAST(row_number() OVER (PARTITION BY t.query_id ORDER BY t.rk)
                  AS BIGINT) AS i
      FROM topk t
      JOIN ql q ON q.vec_id = t.query_id
      JOIN ql m ON m.vec_id = t.match_id
      WHERE q.label = m.label
    ),
    perq AS (
      SELECT query_id,
             CAST(count(*) AS BIGINT) AS r_k,
             CAST(sum({_MAP_LCM} * i // rk) AS BIGINT) AS s_q
      FROM hits GROUP BY 1
    )
    SELECT CAST({_MAP_Q} AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_with_hits,
           CAST(coalesce(sum(s_q * ({_MAP_LCM} // r_k)), 0) AS BIGINT)
             AS map_num,
           CAST({_MAP_Q} AS BIGINT) * {_MAP_LCM} * {_MAP_LCM} AS map_den
    FROM perq
    """


@query(
    "knn_map_exact",
    oracle=_map_oracle(),
    survey_ref="§2.10 eval extension: exact mean average precision @ k "
    "(the ranking-quality metric beside knn_mrr_exact) — every i/r_i "
    "precision term and the per-query 1/R_q normalization carried as "
    "lcm(1..k)-scaled exact integers",
)
def knn_map_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP@10 over the 16-query brute-force neighbor lists (relevant =
    same-label): AP_q = (1/R_q)·Σ_i i/r_i at the ranks r_i of the R_q
    relevant hits. Floats never appear: with k ≤ 10, 2520·i div r_i and
    2520 div R_q are exact integers, so map_num/map_den is the exact
    rational Σ_q AP_q with map_den = Q·2520² (magnitudes ≤ ~1e10, far
    inside int64 to thousands of queries — past that, emit per-query
    S_q/R_q pairs). The hit-index window partitions by query (≤ k rows
    per partition); queries with zero relevant hits contribute 0 (the
    standard convention, same as MRR). Cost: rides the same brute-force
    top-k as knn_mrr_exact + two label joins + one bounded window."""
    from nilm_data_framework_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    topk = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _MAP_Q), k=_MAP_K
    )
    lab = emb.select("vec_id", "label")
    hits = (
        topk.join(
            lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql")),
            "query_id",
        )
        .join(
            lab.select(F.col("vec_id").alias("match_id"), F.col("label").alias("ml")),
            "match_id",
        )
        .filter(F.col("ql") == F.col("ml"))
        .withColumn(
            "i",
            F.row_number()
            .over(Window.partitionBy("query_id").orderBy("rk"))
            .cast("long"),
        )
    )
    perq = hits.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("r_k"),
        F.sum(F.expr(f"{_MAP_LCM} * i div rk")).alias("s_q"),
    )
    return perq.agg(
        F.lit(_MAP_Q).cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_with_hits"),
        F.coalesce(F.sum(F.expr(f"s_q * ({_MAP_LCM} div r_k)")), F.lit(0))
        .cast("long")
        .alias("map_num"),
        F.lit(_MAP_Q * _MAP_LCM * _MAP_LCM).cast("long").alias("map_den"),
    )


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
    self-join (extra_ops_r8c._radius_pairs_frame — cell-local candidates,
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
    (degrees, core edges, border attach) — localCheckpointed once per
    the fan-out rule. Scale: every stage is the audited kernel's shape;
    the quadratic closure exists only in the oracle."""
    from nilm_data_framework_spark.operators import dedup as D
    from nilm_data_framework_spark.queries.extra_ops_r8c import (
        _hash_points,
        _radius_pairs_frame,
    )

    import math

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
        .localCheckpoint(eager=True)
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


# --- streaming Holt ingest (foreachBatch twin of the incremental fold) ----------


@query(
    "streaming_holt_ingest_equiv",
    oracle=_holt_oracle_sql(),
    survey_ref="§2.9 + time-series: the Holt fold as a STREAM — "
    "foreachBatch over event-time-sliced micro-batches, (l, b, sae, n) "
    "state versioned by batch id (read v{id-1}, overwrite v{id} — "
    "replay-idempotent); final state == the one-shot recurrence (oracle "
    "shared verbatim with holt_forecast_exact); completes the streaming "
    "story for the forecasting fold like the SCD2/near-dup twins",
)
def streaming_holt_ingest_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-state maintenance as a stream: each micro-batch reduces to
    ITS daily sums and folds them onto the persisted (l, b, sae, n) state.
    Event-time slicing (calendar cuts) + FileStreamSource's mtime
    delivery order license the fold's strictly-later precondition across
    batch boundaries — the same argument streaming_scd2_ingest_equiv
    makes; state is a 1-ROW parquet (the smallest state table in the
    repo), versioned per batch id so replays overwrite instead of
    double-counting. Per-batch cost O(batch days); the gate lands
    bit-identical to the one-shot recurrence across both boundaries
    where live trend carries."""
    import hashlib
    import os
    import shutil
    import tempfile

    from nilm_data_framework_spark.queries.streaming_equiv import (
        _staged_stream_dir,
    )
    from nilm_data_framework_spark.sources.testdata import _ensure_session_confs
    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

    _ensure_session_confs(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderdate", "o_totalprice"
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    lo = [None, *_HOLT_CUTS]
    hi = [*_HOLT_CUTS, None]
    slices = {}
    for i, (lo_d, hi_d) in enumerate(zip(lo, hi)):
        sl = orders
        if lo_d is not None:
            sl = sl.filter(F.col("o_orderdate") >= F.lit(lo_d))
        if hi_d is not None:
            sl = sl.filter(F.col("o_orderdate") < F.lit(hi_d))
        slices[f"b{i}"] = sl
    d = _staged_stream_dir(f"holt3_{tag}", slices)
    scratch = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_holt_stream"), "st_"
    )
    state_root = os.path.join(scratch, "hs")
    shutil.rmtree(state_root, ignore_errors=True)
    os.makedirs(state_root, exist_ok=True)
    seen: set[int] = set()

    def ingest(batch: DataFrame, batch_id: int) -> None:
        daily = batch.groupBy("o_orderdate").agg(
            F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("y")
        )
        arr = daily.agg(
            F.array_sort(F.collect_list(F.struct("o_orderdate", "y"))).alias("s")
        )
        if batch_id == 0:
            folded = arr.select(F.expr(_holt_fold_expr()).alias("r"))
        else:
            prev = spark.read.parquet(
                os.path.join(state_root, f"v{batch_id - 1}")
            )
            init = "named_struct('l', pl, 'b', pb, 'sae', psae, 'n', pn)"
            folded = arr.crossJoin(F.broadcast(prev)).select(
                F.expr(_holt_fold_expr(init)).alias("r")
            )
        folded.select(
            F.col("r.l").alias("pl"),
            F.col("r.b").alias("pb"),
            F.col("r.sae").alias("psae"),
            F.col("r.n").alias("pn"),
        ).write.mode("overwrite").parquet(os.path.join(state_root, f"v{batch_id}"))
        seen.add(batch_id)

    schema = spark.read.parquet(os.path.join(d, "b0.parquet")).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(d)
    )
    q = stream.writeStream.foreachBatch(ingest).trigger(availableNow=True).start()
    q.awaitTermination()
    assert seen == {0, 1, 2}, f"expected 3 fold rounds, got {seen}"
    st = spark.read.parquet(os.path.join(state_root, "v2"))
    return st.select(
        F.col("pn").cast("long").alias("n_days"),
        F.col("pl").alias("l_final"),
        F.col("pb").alias("b_final"),
        F.col("psae").alias("sae"),
        (F.col("pl") + F.col("pb")).alias("fc_1"),
        (F.col("pl") + 7 * F.col("pb")).alias("fc_7"),
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
    import math

    from nilm_data_framework_spark.queries.extra_ops_r8c import (
        _hash_points,
        _radius_pairs_frame,
    )

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


# --- tamper-evident per-user hash chain -----------------------------------------

_CHAIN_SEED = "genesis"


@query(
    "ledger_hash_chain",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, event_id,
             CAST(event_id AS VARCHAR) || '|' || event_type || '|'
               || CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR)
               AS x
      FROM events
    ),
    arr AS (
      SELECT user_id, list(x ORDER BY us, event_id) AS lx
      FROM e GROUP BY user_id
    )
    SELECT user_id, CAST(len(lx) AS BIGINT) AS n_events,
           list_reduce(list_prepend('{_CHAIN_SEED}', lx),
                       (a, b) -> md5(a || b)) AS chain
    FROM arr
    """,
    survey_ref="§2 governance extension: per-key tamper-evident hash "
    "chain (blockchain-style ledger head: h_i = md5(h_{{i-1}} || "
    "serialized event_i)) — the audit-log integrity / dataset-lineage-"
    "receipt primitive; oracle = DuckDB list_reduce over the identically "
    "ordered, identically serialized event list",
)
def ledger_hash_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every user's event history reduced to a chain head: any
    re-ordering, mutation, insertion or deletion of a past event changes
    the head — the receipt a pipeline publishes so a consumer can verify
    the exact event sequence that produced a dataset (audit-log
    integrity; also the dataset-provenance 'content hash' for training
    runs). Determinism is total: serialization is exact integers + the
    type string, order is the (event-time, event_id) total key (collected
    as sorted structs — Spark's collect_list has no ORDER BY; the oracle
    uses DuckDB's ordered list() instead, two independent orderings that
    must agree), and md5 is byte-identical cross-engine. The chain is
    inherently sequential PER KEY (that's the tamper-evidence), but keys
    parallelize: one hash agg + one per-row fold, per-user history
    bounded by retention. u6 value quantization keeps the serialized
    payload float-free."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP))").alias("us"),
        "event_id",
        F.concat_ws(
            "|",
            F.col("event_id").cast("string"),
            F.col("event_type"),
            F.floor(F.col("value") * 1000000).cast("long").cast("string"),
        ).alias("x"),
    )
    arr = e.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("us", "event_id", "x"))).alias("a")
    )
    return arr.select(
        "user_id",
        F.size("a").cast("long").alias("n_events"),
        F.expr(
            f"aggregate(transform(a, e -> e.x), '{_CHAIN_SEED}',"
            f" (acc, s) -> md5(concat(acc, s)))"
        ).alias("chain"),
    )
