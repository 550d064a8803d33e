"""§2.10 retrieval queries over ``documents`` and ``embeddings``.

Lexical ranking: an inverted-index build, Okapi BM25 top-k over the full
corpus and over the PERSISTED term-partitioned index (plain, filtered by a
metadata predicate, phrase shingles, pseudo-relevance-feedback expansion),
best-passage selection, reciprocal-rank fusion and MMR re-ranking, and the
end-to-end RAG pipeline (quality gate → BM25 + exact dense candidates → RRF
→ MMR), exact and over the persisted BM25/IVF layouts.

Index lifecycle: CREATE, APPEND, copy-on-write DELETE, small-file
COMPACTION, UPDATE (upsert) and IVF RETRAIN → REBUILD over the persisted
layouts (operators/index_maintenance.py). A maintained layout must equal an
index built from scratch over the surviving corpus, so each lifecycle gate's
oracle is the indexed-probe oracle with its corpus CTE restricted to the
survivors (spliced with asserted single-occurrence replaces, the
``_bm25_indexed_oracle`` pattern); the file-count claims of compaction are
pinned by tests/test_index_lifecycle.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.layouts import read_parquet
from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.embed_stats import u6_components
from nilm_data_framework_spark.operators.exact_math import ratio_e4
from nilm_data_framework_spark.operators.index_maintenance import (
    compact_bm25_postings,
    compact_ivf_corpus,
    delete_bm25_docs,
    delete_ivf_vecs,
)
from nilm_data_framework_spark.operators.scale_windows import (
    exact_ranks_for_candidates,
    exact_ranks_for_candidates_pair,
)
from nilm_data_framework_spark.operators.text import (
    append_bm25_batch,
    bm25_hits_indexed,
    bm25_scores,
    bm25_topk_indexed,
    quality_classifier_score,
    token_count,
    write_bm25_index,
)
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _TOKS, _emb
from nilm_data_framework_spark.queries.similarity import (
    _FLT_CENTROIDS,
    _FLT_PROBE,
    N_QUERIES,
    TOP_K,
    _ivf_oracle_sql,
)
from nilm_data_framework_spark.sources.testdata import load_table
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir


# --- inverted index ----------------------------------------------------------


@query(
    "inverted_index_stats",
    oracle="""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
    per_doc AS (
      SELECT tok, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    idx AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS tf_total,
             md5(array_to_string(list(doc_id ORDER BY doc_id), ','))
               AS posting_md5
      FROM per_doc GROUP BY tok
    )
    SELECT tok, df, tf_total, posting_md5
    FROM idx ORDER BY df DESC, tok ASC LIMIT 50
    """,
    survey_ref="§2.10 text retrieval: inverted-index build (per-term df / "
    "tf / exact posting-list digest, top-50 terms) — the BM25/retrieval "
    "prerequisite; digest pins exact posting membership+order",
)
def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py::inverted_index over documents: explode → two
    hash aggs → TakeOrdered(50). The md5-of-sorted-postings column proves
    both engines build IDENTICAL posting lists without emitting arrays
    (the r3 unhashable-list driver lesson)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return T.inverted_index(docs, top_terms=50)


# --- BM25 lexical retrieval --------------------------------------------------

_BM25_TERMS = ["vector", "join", "stream"]


_BM25_K = 20


def _bm25_oracle(
    terms: list[str] | None = None,
    corpus: str = "documents",
    k: int | None = None,
) -> str:
    """Full-scan BM25 oracle. Parameterized (r9) so derived indexes over a
    TRANSFORMED corpus (e.g. the bigram phrase index) and non-default term
    sets can share the generator; the no-arg call is byte-identical to the
    r1 text, which the splice-based derived oracles assert on."""
    terms_ = _BM25_TERMS if terms is None else terms
    k_ = _BM25_K if k is None else k
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    per_cols = ",\n         ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in terms_
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms_
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    score = "\n    + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{t} AS DOUBLE) * 2.2) / (CAST(tf_{t} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / {avgdl}))))"
        for t in terms_
    )
    tf_out = ", ".join(f"tf_{t}" for t in terms_)
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS t FROM {corpus}),
    per AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
         {per_cols}
      FROM toks
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_cols}
      FROM per
    ),
    scored AS (
      SELECT doc_id, dl, {tf_out},
        ( {score} ) AS bm25_raw
      FROM per, stats
    )
    SELECT doc_id, dl, {tf_out}, round(bm25_raw, 4) AS bm25, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY bm25_raw DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {k_}
    """


@query(
    "bm25_topk",
    oracle=_bm25_oracle(),
    survey_ref="§2.10 text retrieval: Okapi BM25 top-k for a fixed term "
    "query (Robertson & Zaragoza 2009; the Lucene default) — the lexical "
    "half of a RAG retrieval stack beside the ANN family; tf/df/dl exact "
    "integers, score evaluated in a FIXED term order so both engines run "
    "the identical IEEE op sequence, ranked on the raw (bit-stable) score",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py::bm25_scores + top-k: map-only per-doc tf/dl, one
    single-row corpus agg broadcast back, fixed-order float score. The
    global top-k is TakeOrderedAndProject-shaped (rank over one ordering);
    ordering uses bm25_raw (bit-stable cross-engine; measured min gap
    between DISTINCT scores is ~2e-6 at sf0.01 vs ~1e-16 engine noise,
    and equal (tf..., dl) tuples are EXACTLY equal in each engine, so the
    doc_id tiebreak replays). Reference analog: none (pure LLM-pipeline
    extension)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    scored = bm25_scores(docs, _BM25_TERMS)
    w = Window.orderBy(F.col("bm25_raw").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_K)
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _BM25_TERMS],
            "bm25",
            "rk",
        )
    )


# --- reciprocal-rank fusion --------------------------------------------------


@query(
    "rrf_fusion_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, n_chars,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars, n_tok,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
               AS rank_chars,
             CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id) AS BIGINT)
               AS rank_tokens
      FROM toks
    ),
    fused AS (
      SELECT doc_id, rank_chars, rank_tokens,
             CAST(1000000 // (60 + rank_chars)
                  + 1000000 // (60 + rank_tokens) AS BIGINT) AS rrf_e6
      FROM ranked
    )
    SELECT doc_id, rank_chars, rank_tokens, rrf_e6, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rk
      FROM fused
    ) WHERE rk <= 20
    """,
    survey_ref="§2.10 text retrieval: reciprocal-rank fusion (Cormack et "
    "al. 2009) of two deterministic rankers — THE standard hybrid "
    "lexical+vector result merge; each 1/(60+rank) term is an exact "
    "integer floor(1e6/(60+r)), so the fused score is pure BIGINT and "
    "the top-k replays bit-identically",
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF of two rankings of the documents table (by n_chars and by token
    count, both id-tiebroken): score = Σ 1e6 div (60 + rank). Integer-
    scaled so no float ever enters the fusion.

    Scale shape (r5 verdict item 4 — shortlist fusion, no full-corpus
    rank window): candidates = union of each ranker's top-128
    (TakeOrderedAndProject, map-side partial top-k); their EXACT global
    ranks come from exact_ranks_for_candidates (support inequality join +
    value equi-join tie count — two linear passes, no global sort); the
    fused top-20 then ranks ≤256 coalesced rows. Completeness is provable
    because RRF is monotone in both ranks: a doc outside BOTH top-128
    lists scores ≤ 2·(1e6 div (60+129)) = 10582, while the docs at
    chars-ranks 1..20 are all candidates scoring ≥ 1e6 div 80 = 12500 —
    strictly more — so the global top-20 is contained in the candidate
    set for ANY data. The oracle keeps the full-corpus double-rank
    construction; hash equality proves the shortlist swap exact."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # checkpoint the tokenizing scan once: it feeds both top-k passes and
    # both rank reconstructions (narrow 3-long-column frame)
    base = docs.select(
        "doc_id", "n_chars", token_count(F.col("text")).cast("long").alias("n_tok")
    ).transform(checkpoint)
    cand_c = base.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(128)
    cand_t = base.orderBy(F.col("n_tok").desc(), F.col("doc_id")).limit(128)
    cands = (
        cand_c.unionByName(cand_t).distinct().coalesce(1).transform(checkpoint)
    )
    rc = exact_ranks_for_candidates(base, cands, "n_chars", "doc_id", out="rank_chars")
    rt = exact_ranks_for_candidates(base, cands, "n_tok", "doc_id", out="rank_tokens")
    fused = (
        cands.select("doc_id")
        .join(rc.select("doc_id", "rank_chars"), "doc_id")
        .join(rt.select("doc_id", "rank_tokens"), "doc_id")
        .withColumn(
            "rrf_e6",
            F.expr(
                "1000000 div (60 + rank_chars) + 1000000 div (60 + rank_tokens)"
            ).cast("long"),
        )
    )
    w = Window.orderBy(F.col("rrf_e6").desc(), F.col("doc_id"))
    return (
        fused.coalesce(1)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "rank_chars", "rank_tokens", "rrf_e6", "rk")
    )


# --- MMR diversified retrieval -----------------------------------------------

_MMR_QUERIES = 8


_MMR_SHORTLIST = 20


_MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in SQL: the same fixed K−1 selection stages the
    Spark side builds, each stage an argmax of (rel − max sim to selected)
    over the remaining shortlist. λ = 1/2, so 2·MMR = rel − maxsim stays
    in exact BIGINT."""
    head = f"""
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    rels AS (
      SELECT a.vec_id AS query_id, b.vec_id AS match_id,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS rel
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_MMR_QUERIES}
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, match_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, match_id) AS rk
        FROM rels) WHERE rk <= {_MMR_SHORTLIST}
    ),
    pairs AS (
      SELECT s.query_id, s.match_id AS id_i, t.match_id AS id_j,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS sim
      FROM short s
      JOIN short t ON t.query_id = s.query_id AND t.match_id <> s.match_id
      JOIN u a ON a.vec_id = s.match_id
      JOIN u b ON b.vec_id = t.match_id AND b.i = a.i
      GROUP BY 1, 2, 3
    ),
    sel1 AS (
      SELECT query_id, match_id, 1 AS step, rel, rel AS mmr2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, match_id) AS rk
        FROM short) WHERE rk = 1
    )"""
    stages = []
    prev_union = "SELECT query_id, match_id, step, rel, mmr2 FROM sel1"
    for k in range(2, _MMR_K + 1):
        sel_prev = f"selu{k - 1}"
        stages.append(f", {sel_prev} AS ({prev_union})")
        stages.append(
            f""", cand{k} AS (
      SELECT s.query_id, s.match_id, s.rel,
             max(p.sim) AS msim
      FROM short s
      LEFT JOIN {sel_prev} e
        ON e.query_id = s.query_id AND e.match_id = s.match_id
      JOIN pairs p ON p.query_id = s.query_id AND p.id_i = s.match_id
      JOIN {sel_prev} e2
        ON e2.query_id = p.query_id AND e2.match_id = p.id_j
      WHERE e.match_id IS NULL
      GROUP BY 1, 2, 3
    ), sel{k} AS (
      SELECT query_id, match_id, {k} AS step, rel, rel - msim AS mmr2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel - msim DESC, match_id) AS rk
        FROM cand{k}) WHERE rk = 1
    )"""
        )
        prev_union += f" UNION ALL SELECT query_id, match_id, step, rel, mmr2 FROM sel{k}"
    return (
        head
        + "".join(stages)
        + f"""
    SELECT query_id, match_id, CAST(step AS BIGINT) AS step,
           rel, CAST(mmr2 AS BIGINT) AS mmr2
    FROM ({prev_union}) final
    """
    )


@query(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    survey_ref="§2.10 retrieval: Maximal Marginal Relevance re-rank "
    "(Carbonell & Goldstein 1998) — the standard diversity-aware top-k "
    "for RAG context selection; λ=1/2 makes 2·MMR = rel − max-sim-to-"
    "selected pure BIGINT, and the K−1 greedy stages are UNROLLED "
    "identically in both engines (shortlist-sized work per stage)",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR over the exact-dot shortlist: top-20 candidates per
    query (brute_force_topk topology — corpus never pair-shuffled), then
    K−1 = 4 unrolled argmax stages, each joining the remaining candidates
    to the already-selected set's pairwise sims (shortlist² per query =
    ≤400 rows). Every score is an exact integer; ties break on match_id.
    At 100 TB the shortlist comes from any ANN path and the MMR stages
    stay candidate-list-sized — greedy selection never touches the
    corpus."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"), u6_components("embedding").alias("c6")
    )
    q = emb.where(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), u6_components("embedding").alias("q6")
    )
    dot_qc = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("match_id"))
    short = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .withColumn("rel", dot_qc)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MMR_SHORTLIST)
        .select("query_id", "match_id", "rel", "c6")
        .transform(checkpoint)  # feeds pairs + every greedy stage
    )
    s_i = short.select(
        "query_id", F.col("match_id").alias("id_i"), F.col("c6").alias("v_i")
    )
    s_j = short.select(
        "query_id", F.col("match_id").alias("id_j"), F.col("c6").alias("v_j")
    )
    dot_ij = F.aggregate(
        F.zip_with("v_i", "v_j", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        s_i.join(s_j, ["query_id"])
        .where(F.col("id_i") != F.col("id_j"))
        .withColumn("sim", dot_ij)
        .select("query_id", "id_i", "id_j", "sim")
        .transform(checkpoint)  # reused by K-1 stages
    )
    sel = (
        short.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "match_id",
            F.lit(1).cast("long").alias("step"),
            "rel",
            F.col("rel").alias("mmr2"),
        )
    )
    shortlist = short.select("query_id", "match_id", "rel")
    for k in range(2, _MMR_K + 1):
        remaining = shortlist.join(
            sel.select("query_id", "match_id"), ["query_id", "match_id"], "left_anti"
        )
        cand = (
            remaining.join(
                pairs.withColumnRenamed("id_i", "match_id"), ["query_id", "match_id"]
            )
            .join(
                sel.select(
                    "query_id", F.col("match_id").alias("id_j")
                ),
                ["query_id", "id_j"],
            )
            .groupBy("query_id", "match_id", "rel")
            .agg(F.max("sim").alias("msim"))
        )
        w_k = Window.partitionBy("query_id").orderBy(
            (F.col("rel") - F.col("msim")).desc(), F.col("match_id")
        )
        pick = (
            cand.withColumn("rk", F.row_number().over(w_k))
            .filter(F.col("rk") == 1)
            .select(
                "query_id",
                "match_id",
                F.lit(k).cast("long").alias("step"),
                "rel",
                (F.col("rel") - F.col("msim")).cast("long").alias("mmr2"),
            )
        )
        sel = sel.unionByName(pick).transform(checkpoint, eager=False)
    return sel.select(
        "query_id", "match_id", F.col("step").cast("long"), "rel",
        F.col("mmr2").cast("long"),
    )


# --- end-to-end RAG retrieval pipeline ---------------------------------------

_RAG_QVEC = 0


_RAG_CANDS = 20


_RAG_K = 5


# per-ranker exact shortlist size (top-N per ranking stage; the RRF
# completeness bound 2·(1e6 div (61+N)) < 1e6 div (60+_RAG_CANDS) holds at
# N=128, k=20)
_RAG_SHORTLIST = 128


# provable upper bound on |cand_ids| across every _rag_tail caller: two
# exact top-_RAG_SHORTLIST shortlists plus the persisted twin's
# ≤_RAG_SHORTLIST-row IVF probe (3×128 = 384 ≤ 512); used as a
# semantic-no-op limit() that carries the bound into the planner's size
# estimate (see _rag_tail). GUARD: tests/test_plan_quality.py pins
# 3·_RAG_SHORTLIST ≤ _RAG_CANDS_BOUND — if a future change raises the
# shortlist, the limit() would silently DROP candidates (wrong fused
# ranks, no error) unless this bound grows with it.
_RAG_CANDS_BOUND = 512


def _rag_oracle() -> str:
    """Full retrieval chain in SQL: quality gate → BM25-over-kept ∪ exact
    cosine → RRF(60) with integer weights → MMR diversity re-rank (λ=1/2,
    rel = exact query dot) — every stage the same construction its
    standalone oracle uses."""
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    per_cols = ",\n         ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    score = "\n    + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{t} AS DOUBLE) * 2.2) / (CAST(tf_{t} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / {avgdl}))))"
        for t in _BM25_TERMS
    )
    head = f"""
    WITH ft AS (
      SELECT doc_id, text, {toks} AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN length(text)::DOUBLE / len(toks) ELSE 0.0 END AS mean_tok,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS punct,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS upper_r,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN ('the','a','of','and',
                       'to','in','is','that','it','for')))::DOUBLE / len(toks)
                  ELSE 0.0 END AS stop_r,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks)
                  ELSE 0.0 END AS dtr
      FROM ft
    ),
    kept AS (
      SELECT doc_id FROM (
        SELECT doc_id, 0.5 + 4.0*stop_r + 2.0*dtr + (-6.0)*punct
               + (-2.0)*upper_r + (-0.25)*mean_tok AS z
        FROM feats)
      WHERE (1.0 / (1.0 + exp(-z))) >= 0.5 AND doc_id <> {_RAG_QVEC}
    ),
    per AS (
      SELECT f.doc_id, CAST(len(toks) AS BIGINT) AS dl,
         {per_cols}
      FROM ft f JOIN kept k ON k.doc_id = f.doc_id,
           LATERAL (SELECT f.toks AS t) lt
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_cols}
      FROM per
    ),
    bm AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_raw DESC, doc_id)
                          AS BIGINT) AS rank_bm25
      FROM (SELECT doc_id, ( {score} ) AS bm25_raw FROM per, stats)
    ),
    u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    rels AS (
      SELECT b.vec_id AS doc_id, CAST(sum(a.q6 * b.q6) AS BIGINT) AS rel
      FROM u a
      JOIN u b ON a.i = b.i
      JOIN kept k ON k.doc_id = b.vec_id
      WHERE a.vec_id = {_RAG_QVEC}
      GROUP BY b.vec_id
    ),
    cs AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
                          AS BIGINT) AS rank_cos
      FROM rels
    ),
    fused AS (
      SELECT k.doc_id,
             coalesce(b.rank_bm25, 0) AS rank_bm25,
             coalesce(c.rank_cos, 0) AS rank_cos,
             CAST(coalesce(1000000 // (60 + b.rank_bm25), 0)
                  + coalesce(1000000 // (60 + c.rank_cos), 0) AS BIGINT)
               AS rrf_e6
      FROM kept k
      LEFT JOIN bm b ON b.doc_id = k.doc_id
      LEFT JOIN cs c ON c.doc_id = k.doc_id
    ),
    short AS (
      SELECT f.doc_id AS match_id, f.rank_bm25, f.rank_cos, f.rrf_e6, r.rel
      FROM (
        SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rk
        FROM fused) f
      JOIN rels r ON r.doc_id = f.doc_id
      WHERE f.rk <= {_RAG_CANDS}
    ),
    pairs AS (
      SELECT s.match_id AS id_i, t.match_id AS id_j,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS sim
      FROM short s
      JOIN short t ON t.match_id <> s.match_id
      JOIN u a ON a.vec_id = s.match_id
      JOIN u b ON b.vec_id = t.match_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    sel1 AS (
      SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel,
             1 AS step, rel AS mmr2
      FROM (SELECT *, row_number() OVER (ORDER BY rel DESC, match_id) AS rk
            FROM short) WHERE rk = 1
    )"""
    stages = []
    prev_union = (
        "SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel, step, mmr2 FROM sel1"
    )
    for k in range(2, _RAG_K + 1):
        sel_prev = f"rselu{k - 1}"
        stages.append(f", {sel_prev} AS ({prev_union})")
        stages.append(
            f""", rcand{k} AS (
      SELECT s.match_id, s.rank_bm25, s.rank_cos, s.rrf_e6, s.rel,
             max(p.sim) AS msim
      FROM short s
      LEFT JOIN {sel_prev} e ON e.match_id = s.match_id
      JOIN pairs p ON p.id_i = s.match_id
      JOIN {sel_prev} e2 ON e2.match_id = p.id_j
      WHERE e.match_id IS NULL
      GROUP BY 1, 2, 3, 4, 5
    ), rsel{k} AS (
      SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel,
             {k} AS step, rel - msim AS mmr2 FROM (
        SELECT *, row_number() OVER (ORDER BY rel - msim DESC, match_id) AS rk
        FROM rcand{k}) WHERE rk = 1
    )"""
        )
        prev_union += (
            f" UNION ALL SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel,"
            f" step, mmr2 FROM rsel{k}"
        )
    return (
        head
        + "".join(stages)
        + f"""
    SELECT match_id AS doc_id, rank_bm25, rank_cos, rrf_e6, rel,
           CAST(step AS BIGINT) AS step, CAST(mmr2 AS BIGINT) AS mmr2
    FROM ({prev_union}) final
    """
    )


@query(
    "rag_retrieval_pipeline",
    oracle=_rag_oracle(),
    survey_ref="§2.10 retrieval, end-to-end: classifier quality gate → "
    "BM25-over-kept + exact-cosine rankings → reciprocal-rank fusion "
    "(integer weights) → MMR diversity re-rank — the complete hybrid RAG "
    "context-selection chain, every stage the same oracled construction "
    "as its standalone query, composed and re-gated as one unit",
)
def rag_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition proof: the standalone gates verify each operator; this
    query verifies the INTERFACES — keep-set feeds BM25's corpus stats,
    both rankers feed RRF over the kept union, the fused shortlist feeds
    MMR with exact query-dot relevance. Plan (r5 verdict item 4 —
    shortlist fusion): each ranker contributes a top-128 TakeOrdered
    shortlist, the candidate union's EXACT global ranks are rebuilt by
    exact_ranks_for_candidates (support inequality join + tie equi-join,
    two linear passes), and fusion/MMR only ever see ≤256 coalesced rows.
    Completeness: RRF is monotone in both ranks, so a doc outside both
    top-128 lists scores ≤ 2·(1e6 div 189) = 10582 < 12500 = 1e6 div 80
    ≤ the 20th candidate's score (the bm25-top-20 are all candidates) —
    the fused top-20 is provably inside the candidate set for any data.
    The only corpus-sized work left is the two ranking scans; at 100 TB
    those swap to the inverted index + the persisted-IVF ANN path
    (ivf_topk_persisted), and fusion/MMR are unchanged. The oracle keeps
    the full-corpus global-rank construction; hash equality proves the
    swap exact.

    ASSUMPTION (r6 advice): every document row has an embedding row
    (vec_id == doc_id, 1:1 — true of the driver fixture and of any corpus
    embedded before retrieval). Under partial coverage the engines would
    diverge at the shortlist cut: the oracle's LEFT-JOIN fusion gives an
    embedding-less doc a bm25-only rrf_e6 that consumes a fused-rank slot
    before the inner JOIN rels drops it, while this plan's inner-join
    candidate set never admits it — same final doc set only when coverage
    is total. Embed-before-retrieve is the pipeline contract."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    kept_ids = (
        quality_classifier_score(docs)
        .where(F.col("keep") & (F.col("doc_id") != _RAG_QVEC))
        .select("doc_id")
    )
    kept_docs = docs.join(kept_ids, "doc_id")
    # narrow (doc_id, bm25_raw) frame feeds a top-k pass + two rank-
    # reconstruction passes — checkpoint the scoring scan once
    bmscored = (
        bm25_scores(kept_docs, _BM25_TERMS)
        .select("doc_id", "bm25_raw")
        .transform(checkpoint)
    )
    qv = emb.where(F.col("vec_id") == _RAG_QVEC).select(
        u6_components("embedding").alias("qv6")
    )
    dot_q = F.aggregate(
        F.zip_with("qv6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rels = (
        emb.join(kept_ids, emb["vec_id"] == kept_ids["doc_id"])
        .select(
            F.col("vec_id").alias("rdoc_id"), u6_components("embedding").alias("c6")
        )
        # vec_id is the key: the limit only makes the 1-row bound visible
        .crossJoin(F.broadcast(qv.limit(1)))
        .select(F.col("rdoc_id").alias("doc_id"), dot_q.alias("rel"))
        .transform(checkpoint)
    )
    cand_ids = (
        bmscored.orderBy(F.col("bm25_raw").desc(), "doc_id")
        .limit(_RAG_SHORTLIST)
        .select("doc_id")
        .unionByName(
            rels.orderBy(F.col("rel").desc(), "doc_id")
            .limit(_RAG_SHORTLIST)
            .select("doc_id")
        )
        .distinct()
        .coalesce(1)
        .transform(checkpoint, eager=False)
    )
    cvec = emb.select(
        F.col("vec_id").alias("match_id"), u6_components("embedding").alias("c6")
    )
    return _rag_tail(bmscored, rels, cand_ids, cvec)


def _rag_tail(
    bmscored: DataFrame,
    rels: DataFrame,
    cand_ids: DataFrame,
    cvec: DataFrame,
) -> DataFrame:
    """Fusion + MMR tail shared by rag_retrieval_pipeline and its
    persisted-index twin (rag_persisted_pipeline): exact candidate ranks
    via exact_ranks_for_candidates over the two scoring frames, integer
    RRF, top-_RAG_CANDS shortlist, pairwise sims, _RAG_K-step MMR. Inputs:
    bmscored (doc_id, bm25_raw) and rels (doc_id, rel) covering the FULL
    kept corpus (exact global ranks need the whole multiset), cand_ids a
    bounded superset of the two exact top-128 shortlists, cvec (match_id,
    c6) covering at least the kept docs. Any SUPERSET candidate set yields
    the identical output: a doc outside both exact top-128s has rrf ≤
    2·(1e6 div 189) = 10582 < 12500 = 1e6 div 80 ≤ every bm25-top-20
    candidate's score, so extras sit strictly below the shortlist cut."""
    # The value-attach join (cand_ids ⋈ scoring frame) multiplies the two
    # sides' size estimates (size-only join stats), so the candidate frame
    # looked corpus-sized to the planner and the support-inequality join
    # inside exact_ranks_for_candidates planned as CartesianProduct instead
    # of a broadcast nested-loop build (guide §3.1 — pick the strategy
    # deliberately). cand_ids is ≤ 3×128 rows BY CONSTRUCTION (union of two
    # exact top-128 lists plus, in the persisted twin, a ≤128-row IVF probe,
    # then distinct), and doc_id is unique in bmscored/rels, so a
    # limit(_RAG_CANDS_BOUND) on the joined frame drops nothing — it only
    # hands the planner the true bound, which flips both exact_ranks joins
    # to broadcast builds with the ≤384-row side as the build side.
    cand_b = cand_ids.join(bmscored, "doc_id").limit(_RAG_CANDS_BOUND)
    # the pair ranking needs both value columns in one type: rel (a bigint
    # u6 dot) goes to double, the widening the fused union used to apply
    # implicitly — exact while |rel| < 2^53, i.e. dim · 1e12 for unit-range
    # components
    rels_d = rels.select("doc_id", F.col("rel").cast("double").alias("rel"))
    cand_r = cand_ids.join(rels_d, "doc_id").limit(_RAG_CANDS_BOUND)
    # both exact rankings from ONE tagged strict join + ONE tagged tie join
    # (r10, VERDICT r9 item 7): the two exact_ranks_for_candidates calls
    # each paid two broadcast-build joins — four broadcast jobs on every
    # serve call; the fused form halves that and drops the rb ⋈ rc
    # re-attach join too (the pair operator returns both ranks wide,
    # property-pinned bit-identical in tests/test_scale_windows.py).
    ranks = exact_ranks_for_candidates_pair(
        bmscored, cand_b, "bm25_raw",
        rels_d, cand_r, "rel",
        "doc_id", out_a="rank_bm25", out_b="rank_cos",
    )
    fused = ranks.select(
        "doc_id",
        "rank_bm25",
        "rank_cos",
        (
            F.expr("1000000 div (60 + rank_bm25)")
            + F.expr("1000000 div (60 + rank_cos)")
        )
        .cast("long")
        .alias("rrf_e6"),
    )
    short = (
        fused.coalesce(1)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("rrf_e6").desc(), "doc_id")),
        )
        .filter(F.col("rk") <= _RAG_CANDS)
        .join(rels, "doc_id")
        .select(
            F.col("doc_id").alias("match_id"),
            "rank_bm25",
            "rank_cos",
            "rrf_e6",
            "rel",
        )
    )
    # MMR tail as ONE fold (guide §5 — job-count collapse, r9 opt round):
    # the shortlist is ≤ _RAG_CANDS rows, so the greedy K-step selection is
    # constant-size sequential work; running it as _RAG_K-1 rounds of
    # anti-join + pair-join + groupBy + window (the previous form) cost a
    # pairs crossJoin checkpoint plus ~(_RAG_K-1) lazy checkpoints of pure
    # job dispatch at ANY scale. Instead: collect the shortlist WITH its
    # u6 vectors into a single row and run the exact greedy recurrence as
    # an aggregate() HOF over sequence(1, K) (the bounded-domain fold
    # pattern from operators/forecast.py). Per step the pick is the argmax
    # over remaining by (rel - coalesce(msim, 0)) desc with match_id asc
    # tiebreak — identical to the old windows: at step 1 msim is null for
    # every row (rel - 0 = rel, the (rel desc, match_id) window) and
    # afterwards msim is the running max sim over selected, maintained
    # incrementally by folding the pick's dot product into each survivor
    # (the same zip_with/aggregate bigint expression the pairs frame
    # computed — exact integer arithmetic, so the fold is bit-identical to
    # the joined form; the shared oracle gates all three RAG queries).
    # The argmax reduce is order-insensitive (total order via the
    # match_id tiebreak), so collect_list's nondeterministic order is
    # immaterial. All fields are bigint (doc_id INT64, ranks/rrf/rel/sim
    # products of u6 casts).
    items = short.join(cvec, "match_id").select(
        "match_id", "rank_bm25", "rank_cos", "rrf_e6", "rel", "c6"
    )
    rem_t = (
        "struct<match_id:bigint,rank_bm25:bigint,rank_cos:bigint,"
        "rrf_e6:bigint,rel:bigint,c6:array<bigint>,msim:bigint>"
    )
    sel_t = (
        "struct<match_id:bigint,rank_bm25:bigint,rank_cos:bigint,"
        "rrf_e6:bigint,rel:bigint,step:bigint,mmr2:bigint>"
    )
    dot_p = "aggregate(zip_with(r.c6, p.c6, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    fold = f"""
    aggregate(
      sequence(1, {_RAG_K}),
      struct(
        cast(array() as array<{sel_t}>) as sel,
        transform(items, r -> struct(
          r.match_id as match_id, r.rank_bm25 as rank_bm25,
          r.rank_cos as rank_cos, r.rrf_e6 as rrf_e6, r.rel as rel,
          r.c6 as c6, cast(null as bigint) as msim)) as rem),
      (st, k) -> transform(
        array(aggregate(
          st.rem, cast(null as {rem_t}),
          (b, r) -> case
            when b is null then r
            when (r.rel - coalesce(r.msim, 0L))
                 > (b.rel - coalesce(b.msim, 0L)) then r
            when (r.rel - coalesce(r.msim, 0L))
                 = (b.rel - coalesce(b.msim, 0L))
                 and r.match_id < b.match_id then r
            else b end)),
        p -> case when p is null then st else struct(
          concat(st.sel, array(struct(
            p.match_id as match_id, p.rank_bm25 as rank_bm25,
            p.rank_cos as rank_cos, p.rrf_e6 as rrf_e6, p.rel as rel,
            cast(k as bigint) as step,
            p.rel - coalesce(p.msim, 0L) as mmr2))) as sel,
          transform(
            filter(st.rem, r -> r.match_id != p.match_id),
            r -> struct(
              r.match_id as match_id, r.rank_bm25 as rank_bm25,
              r.rank_cos as rank_cos, r.rrf_e6 as rrf_e6, r.rel as rel,
              r.c6 as c6,
              case when r.msim is null then {dot_p}
                   else greatest(r.msim, {dot_p}) end as msim)) as rem)
        end)[0]
    ).sel
    """
    return (
        items.agg(F.collect_list(F.struct(*items.columns)).alias("items"))
        .select(F.inline(F.expr(fold)))
        .where(F.col("match_id").isNotNull())
        .select(
            F.col("match_id").alias("doc_id"),
            "rank_bm25",
            "rank_cos",
            "rrf_e6",
            "rel",
            "step",
            F.col("mmr2").cast("long"),
        )
    )


# --- persisted inverted-index BM25 (partition-pruned probe) --------------------


def _bm25_indexed_oracle(
    terms: list[str] | None = None,
    corpus: str = "documents",
    k: int | None = None,
) -> str:
    """The full-scan BM25 oracle restricted to docs holding ≥1 query term
    — exactly the candidate set the inverted index can ever surface (a
    zero-hit doc scores exactly 0 under the non-negative Lucene idf).
    Parameterized (r9) like _bm25_oracle; no-arg output byte-identical."""
    terms_ = _BM25_TERMS if terms is None else terms
    k_ = _BM25_K if k is None else k
    full = _bm25_oracle(terms_, corpus, k_)
    match = " + ".join(f"tf_{t}" for t in terms_)
    old_rank = f"""FROM (
      SELECT *, row_number() OVER (ORDER BY bm25_raw DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {k_}"""
    new_rank = f"""FROM (
      SELECT *, row_number() OVER (ORDER BY bm25_raw DESC, doc_id) AS rk
      FROM scored WHERE {match} > 0
    ) WHERE rk <= {k_}"""
    assert old_rank in full
    return full.replace(old_rank, new_rank)


@query(
    "bm25_topk_indexed",
    oracle=_bm25_indexed_oracle(),
    survey_ref="§2.10 text retrieval: BM25 over the PERSISTED inverted "
    "index (postings partitioned by term; probe = parquet partition "
    "pruning, df from the pruned partitions, score replaying the "
    "full-scan op order via the shared expression) — the lexical twin of "
    "ivf_topk_persisted and the production form the RAG pipeline's "
    "100 TB note names; result-invariant vs bm25_topk on every "
    "positively-scored rank, gated by the full-scan oracle restricted to "
    "matching docs",
)
def bm25_topk_indexed_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write the inverted-index layout, then serve the query from it: the
    corpus text is touched ONCE at write time; the probe reads only the
    three query-term partitions plus the 1-row stats table. Same
    write-then-probe gate pattern as ivf_topk_persisted /
    incremental_neardup_persisted — the layout must be RESULT-invariant
    against the full-scan construction the oracle replays."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_idx"), "idx_"
    )
    write_bm25_index(docs, path)
    out = bm25_topk_indexed(spark, path, _BM25_TERMS, k=_BM25_K)
    return out.select(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        "bm25",
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "bm25_append_probe_equiv",
    oracle=_bm25_indexed_oracle(),
    survey_ref="§2.10 text retrieval: incremental append into the "
    "persisted BM25 index — write corpus-minus-batch, append the batch "
    "(postings land in their term directories; stats table replaced with "
    "the exact merged totals), probe; must equal the one-shot index over "
    "the full corpus (same oracle verbatim — the lexical twin of "
    "ivf_append_probe_equiv's ingest-invariance gate)",
)
def bm25_append_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-invariance for the persisted BM25 layout: the index is
    written WITHOUT a ~10% batch, the batch is appended with
    operators/text.py::append_bm25_batch, and the partition-pruned probe
    over the grown layout must hash-match the full-corpus oracle —
    proving appended postings land in the pruned directories, df derived
    from postings reflects them, and the merged stats keep idf/avgdl
    exact."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_app"), "idx_"
    )
    write_bm25_index(docs.filter(F.col("doc_id") % 10 != 7), path)
    append_bm25_batch(docs.filter(F.col("doc_id") % 10 == 7), path)
    out = bm25_topk_indexed(spark, path, _BM25_TERMS, k=_BM25_K)
    return out.select(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        "bm25",
        F.col("rk").cast("int").alias("rk"),
    )


# --- RAG pipeline over the persisted indexes ---------------------------------


def build_rag_persisted_frames(spark: SparkSession, sf_dir: str) -> dict:
    """Build the persisted-index RAG pipeline and return its named frames
    (exposed so tests/test_plan_quality.py can pin PartitionFilters on the
    two PRE-checkpoint index-probe plans: ``bm25_hits`` and ``ivf_probe``).

    Construction — every stage is the production form:

    1. quality gate → kept_ids (one corpus scan, checkpointed: it feeds
       both index WRITES, which are separate jobs Catalyst cannot reuse
       exchanges across).
    2. BM25 leg: write_bm25_index over the kept docs, then
       bm25_hits_indexed — the probe reads ONLY the query-term partition
       directories (term partition filter, plan-pinned). The exact-rank
       contract needs the full score multiset, so the hit frame is
       completed with a 0.0-filled complement of kept_ids (a zero-hit doc
       scores exactly +0.0 under the full scan — Lucene idf · 0/denom);
       the union is bit-identical to bm25_scores over the kept corpus, at
       the cost of an id-only anti-join instead of re-tokenizing the
       corpus.
    3. Cosine leg: write_ivf_corpus (cid-partitioned) over the kept
       embeddings; candidate generation probes n_probe=4 of 16 lists
       (cid partition filter, plan-pinned); the exact rel frame — global
       cosine ranks are information-theoretically one linear pass — scans
       the SAME persisted layout exhaustively (nprobe=all, the layout as
       the single storage), not the raw table.
    4. Candidates = exact-bm25-top-128 ∪ exact-cos-top-128 ∪ the pruned
       IVF probe's top-128, then the shared _rag_tail. The IVF extras are
       provably inert: a doc outside both exact top-128s scores rrf ≤
       2·(1e6 div 189) = 10582 < 12500 = 1e6 div 80 ≤ every bm25-top-20
       candidate, so no superset member can enter or re-number the
       top-20 shortlist — approximateness of the ANN probe CANNOT leak
       into the output, which is why the exact pipeline's oracle gates
       this twin verbatim (hash equality, not fixture luck; the
       embedding-coverage assumption is inherited from the original).

    Steps 1 and the two writes are :func:`build_rag_indexes`; the probes,
    the zero-fill, the rels pass and the tail are
    :func:`rag_persisted_pipeline`. At 100 TB the only corpus-sized passes
    left are the quality gate, the one-off index writes, and the
    exact-rel scan demanded by the exact fusion-rank contract; dropping
    that contract (ANN ranks) removes the last one — the candidate
    machinery is already served by pruned reads.
    """
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    return rag_persisted_pipeline(spark, emb, **build_rag_indexes(spark, docs, emb))


def build_rag_indexes(spark: SparkSession, docs: DataFrame, emb: DataFrame) -> dict:
    """Index time of the persisted RAG pipeline: run the quality gate, then
    write the BM25 and IVF layouts of the kept corpus to per-pid scratch
    directories. Returns the keyword arguments of
    :func:`rag_persisted_pipeline`: ``kept_ids`` (the checkpointed gated id
    frame), ``bm_path``, ``ivf_path`` and the IVF ``centroids`` (the
    oracle-replayable hash sample of the kept embeddings). The caller owns
    their identity: the serve call trusts that the layouts hold exactly
    the kept docs, under these centroids."""
    kept_ids = (
        quality_classifier_score(docs)
        .where(F.col("keep") & (F.col("doc_id") != _RAG_QVEC))
        .select("doc_id")
        .transform(checkpoint)
    )
    bm_path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_rag_bm25"), "idx_"
    )
    write_bm25_index(docs.join(kept_ids, "doc_id"), bm_path)
    kept_emb = emb.join(kept_ids, emb["vec_id"] == kept_ids["doc_id"]).select(
        "vec_id", "embedding"
    )
    cents = S.sample_centroids(kept_emb, 16)
    ivf_path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_rag_ivf"), "corpus_"
    )
    S.write_ivf_corpus(kept_emb, ivf_path, cents)
    return {"kept_ids": kept_ids, "bm_path": bm_path, "ivf_path": ivf_path, "centroids": cents}


def rag_persisted_pipeline(
    spark: SparkSession,
    emb: DataFrame,
    kept_ids: DataFrame,
    bm_path: str,
    ivf_path: str,
    centroids: list[list[float]],
) -> dict[str, DataFrame]:
    """Serve time of the persisted RAG pipeline (see
    build_rag_persisted_frames for the full construction + proof) over the
    layouts :func:`build_rag_indexes` wrote: the pruned probes, the id-only
    zero-fill, the layout rels pass and fusion/MMR — no corpus gate, no
    index write, no centroid pick. Index writes amortize across serves
    (the mode the rag_retrieval_pipeline_serve gate times).
    Returns the ``result`` frame plus the two pre-checkpoint probe frames
    ``bm25_hits`` and ``ivf_probe``."""
    hits = bm25_hits_indexed(spark, bm_path, _BM25_TERMS).select(
        "doc_id", "bm25_raw"
    )
    zero = kept_ids.join(hits, "doc_id", "left_anti").select(
        "doc_id", F.lit(0.0).alias("bm25_raw")
    )
    bmscored = hits.unionByName(zero).transform(checkpoint)

    qdf = emb.where(F.col("vec_id") == _RAG_QVEC)
    ivf_probe = S.ivf_topk_partitioned(
        spark, ivf_path, qdf, k=_RAG_SHORTLIST, centroids=centroids, n_probe=4
    )

    lay = read_parquet(spark, ivf_path)
    qv = qdf.select(u6_components("embedding").alias("qv6"))
    dot_q = F.aggregate(
        F.zip_with("qv6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rels = (
        lay.select(
            F.col("vec_id").alias("rdoc_id"), u6_components("embedding").alias("c6")
        )
        # vec_id is the key: the limit only makes the 1-row bound visible
        .crossJoin(F.broadcast(qv.limit(1)))
        .select(F.col("rdoc_id").alias("doc_id"), dot_q.alias("rel"))
        .transform(checkpoint)
    )
    cand_ids = (
        bmscored.orderBy(F.col("bm25_raw").desc(), "doc_id")
        .limit(_RAG_SHORTLIST)
        .select("doc_id")
        .unionByName(
            rels.orderBy(F.col("rel").desc(), "doc_id")
            .limit(_RAG_SHORTLIST)
            .select("doc_id")
        )
        .unionByName(ivf_probe.select(F.col("match_id").alias("doc_id")))
        .distinct()
        .coalesce(1)
        .transform(checkpoint, eager=False)
    )
    cvec = lay.select(
        F.col("vec_id").alias("match_id"), u6_components("embedding").alias("c6")
    )
    return {
        "bm25_hits": hits,
        "ivf_probe": ivf_probe,
        "result": _rag_tail(bmscored, rels, cand_ids, cvec),
    }


# The two gates run identical code (index build, then serve); both names
# stay registered because each has its own CORRECTNESS attestation rows.
@query(
    "rag_retrieval_pipeline_serve",
    oracle=_rag_oracle(),
    survey_ref="§2.10 retrieval, SERVE mode of rag_retrieval_pipeline_persisted: "
    "the layouts are built once (build_rag_indexes), then served from with "
    "the trained centroids and kept ids passed in (pruned probes, "
    "zero-fill, layout rels, fusion/MMR only) — same oracle verbatim",
)
@query(
    "rag_retrieval_pipeline_persisted",
    oracle=_rag_oracle(),
    survey_ref="§2.10 retrieval, end-to-end over the PERSISTED indexes: "
    "quality gate → term-partition-pruned BM25 probe + cid-partition-"
    "pruned IVF probe for candidates, exact ranks from the hit∪zero-fill "
    "frame and the layout's exhaustive pass → RRF → MMR — hash-identical "
    "to rag_retrieval_pipeline (same oracle verbatim; superset bound "
    "proves the ANN candidates inert)",
)
def rag_retrieval_pipeline_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """See build_rag_persisted_frames for the construction and the
    superset-inertness proof: the BM25 and IVF layouts are built once,
    then served from, with both index scans partition-pruned (plan-pinned
    in tests/test_plan_quality.py::test_rag_persisted_scans_pruned).
    bench.py times the serve half alone as its
    ``rag_retrieval_pipeline_serve`` row. Results equal the exact
    pipeline's, so its oracle gates both names verbatim."""
    return build_rag_persisted_frames(spark, sf_dir)["result"]


# deleted-id predicate shared by the delete/lifecycle gates and their
# oracles: every 10th id (disjoint from the append batches' % 10 == 7)
_DEL_MOD = 3


def _bm25_survivor_oracle() -> str:
    """The indexed-BM25 probe oracle over the post-delete corpus: the
    full-scan oracle's corpus CTE restricted to surviving doc_ids. The
    stats/df CTEs downstream then recompute n_docs/sum_dl/df over the
    survivors — exactly the totals delete_bm25_docs maintains by exact
    integer decrement."""
    full = _bm25_indexed_oracle()
    target = "FROM documents)"
    assert full.count(target) == 1
    return full.replace(
        target, f"FROM documents WHERE doc_id % 10 <> {_DEL_MOD})"
    )


def _ivf_survivor_oracle() -> str:
    """The IVF probe oracle with the CORPUS side (cassign) restricted to
    surviving vec_ids. cents and qprobe stay on the FULL table on
    purpose: centroids were trained before the delete and are kept (the
    no-retrain contract of delete_ivf_vecs), and queries come from the
    embeddings table, not the index — a deleted vector may still query."""
    full = _ivf_oracle_sql()
    target = "FROM e, cents c\n      ) WHERE rn = 1"
    assert full.count(target) == 1
    return full.replace(
        target,
        f"FROM e, cents c WHERE e.vec_id % 10 <> {_DEL_MOD}\n"
        "      ) WHERE rn = 1",
    )


def _bm25_probe_frame(spark: SparkSession, path: str) -> DataFrame:
    out = bm25_topk_indexed(spark, path, _BM25_TERMS, k=_BM25_K)
    return out.select(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        "bm25",
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "bm25_delete_probe_equiv",
    oracle=_bm25_survivor_oracle(),
    survey_ref="§2.10 text retrieval: copy-on-write DELETE from the "
    "persisted BM25 index (one locating scan, rewrite of affected term "
    "partitions only, emptied directories dropped, stats exactly "
    "decremented) — probe must equal a from-scratch index over the "
    "surviving corpus; the erasure half of the append gate",
)
def bm25_delete_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-invariance for the persisted BM25 layout: build the index
    on the FULL corpus, delete every doc_id % 10 == 3 with
    operators/index_maintenance.py::delete_bm25_docs, probe. The
    partition-pruned probe over the maintained layout must hash-match
    the indexed oracle over the surviving corpus — proving victim
    postings left every term directory, df derived from postings
    reflects the erasure, and the decremented stats keep idf/avgdl
    exactly equal to a rebuild's."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_del"), "idx_"
    )
    write_bm25_index(docs, path)
    delete_bm25_docs(
        spark, path, docs.filter(F.col("doc_id") % 10 == _DEL_MOD).select("doc_id")
    )
    return _bm25_probe_frame(spark, path)


def _bm25_full_oracle() -> str:
    return _bm25_indexed_oracle()


def _ivf_full_oracle() -> str:
    return _ivf_oracle_sql()


@query(
    "bm25_compact_probe_equiv",
    oracle=_bm25_full_oracle(),
    survey_ref="§2.10 text retrieval: small-file compaction of the "
    "persisted BM25 postings (write-new-then-swap, one file per term "
    "directory) after fragmenting appends — probe invariant vs the one-shot "
    "index (same oracle as bm25_topk_indexed verbatim); file counts "
    "pinned by tests/test_index_lifecycle.py",
)
def bm25_compact_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction-invariance: build the index WITHOUT two ~10% batches,
    append both (each append lands one more file in every touched term
    directory), compact with
    operators/index_maintenance.py::compact_bm25_postings (rewrite into
    a sibling dir, swap), probe. Row-preserving by construction — the
    gate proves it by sharing the one-shot full-corpus oracle."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_cmp"), "idx_"
    )
    write_bm25_index(docs.filter(~(F.col("doc_id") % 10).isin([7, 8])), path)
    append_bm25_batch(docs.filter(F.col("doc_id") % 10 == 7), path)
    append_bm25_batch(docs.filter(F.col("doc_id") % 10 == 8), path)
    compact_bm25_postings(spark, path)
    return _bm25_probe_frame(spark, path)


@query(
    "bm25_index_lifecycle",
    oracle=_bm25_survivor_oracle(),
    survey_ref="§2.10 text retrieval: the FULL index lifecycle composed "
    "— CREATE (corpus minus batch), APPEND (batch), DELETE (erasure "
    "set), COMPACT, then probe once: (corpus − B) ∪ B − D = corpus − D, "
    "so the composed gate shares the delete gate's oracle verbatim — "
    "the CRUD closure of the r5/r7 ingest-invariance story",
)
def bm25_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All four lifecycle operations against ONE layout, in the order a
    production index lives them: bootstrap write without a ~10% batch,
    incremental append of that batch, copy-on-write delete of the
    erasure set, small-file compaction, partition-pruned probe. The
    append batch (doc_id % 10 == 7) and the erasure set (% 10 == 3) are
    disjoint, so set algebra gives survivors = corpus − D regardless of
    ingest path — which is exactly what the shared oracle replays."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_lc"), "idx_"
    )
    write_bm25_index(docs.filter(F.col("doc_id") % 10 != 7), path)
    append_bm25_batch(docs.filter(F.col("doc_id") % 10 == 7), path)
    delete_bm25_docs(
        spark, path, docs.filter(F.col("doc_id") % 10 == _DEL_MOD).select("doc_id")
    )
    compact_bm25_postings(spark, path)
    return _bm25_probe_frame(spark, path)


@query(
    "bm25_delete_then_append_equiv",
    oracle=_bm25_survivor_oracle(),
    survey_ref="§2.10 text retrieval: maintenance-order commutativity — "
    "DELETE first, then APPEND a disjoint batch into the post-delete "
    "layout; must equal the same from-scratch survivor oracle as "
    "bm25_index_lifecycle (which proves the append-then-delete order). "
    "Together the two gates prove disjoint maintenance operations "
    "commute on the layout",
)
def bm25_delete_then_append_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ordering bm25_index_lifecycle does NOT exercise: erasure runs
    BEFORE the ingest batch arrives, so the append lands in a layout
    whose affected term directories were already rewritten (and some
    dropped). Set algebra: (corpus − B − D) ∪ B = corpus − D when
    B ∩ D = ∅ (batch % 10 == 7, erasure % 10 == 3) — the same survivor
    oracle verbatim. Exactness hinges on the delete's stats decrement
    and the append's stats merge composing: n_docs/sum_dl are plain
    integer sums, df always derives from postings."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_da"), "idx_"
    )
    write_bm25_index(docs.filter(F.col("doc_id") % 10 != 7), path)
    delete_bm25_docs(
        spark, path, docs.filter(F.col("doc_id") % 10 == _DEL_MOD).select("doc_id")
    )
    append_bm25_batch(docs.filter(F.col("doc_id") % 10 == 7), path)
    return _bm25_probe_frame(spark, path)


@query(
    "ivf_delete_probe_equiv",
    oracle=_ivf_survivor_oracle(),
    survey_ref="§2.10 ANN: copy-on-write DELETE from the persisted "
    "cid-partitioned IVF corpus (locating scan, rewrite of affected "
    "lists only, centroids NOT retrained) — probe with the original "
    "trained centroids must equal the IVF oracle over the surviving "
    "corpus; the erasure half of ivf_append_probe_equiv",
)
def ivf_delete_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Erasure-invariance for the persisted IVF layout: write the FULL
    corpus partitioned by centroid id, delete every vec_id % 10 == 3
    with operators/index_maintenance.py::delete_ivf_vecs, probe with the
    SAME centroids. Deleted vectors must vanish from every list they
    occupied while untouched lists keep their files; a deleted vector
    may still arrive as a QUERY (queries come from the embeddings table,
    not the index) — the oracle keeps qprobe unfiltered for exactly that
    reason."""
    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, 16)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_ivf_del"), "corpus_"
    )
    S.write_ivf_corpus(emb, path, cents)
    delete_ivf_vecs(
        spark, path, emb.filter(F.col("vec_id") % 10 == _DEL_MOD).select("vec_id")
    )
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=TOP_K, centroids=cents, n_probe=4
    )
    return out.select(
        "query_id",
        "match_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "ivf_compact_probe_equiv",
    oracle=_ivf_full_oracle(),
    survey_ref="§2.10 ANN: small-file compaction of the persisted IVF "
    "corpus after fragmenting appends (write-new-then-swap, one file "
    "per list restored) — probe invariant vs the one-shot layout (same "
    "oracle as ivf_topk_persisted verbatim); file counts pinned by "
    "tests/test_index_lifecycle.py",
)
def ivf_compact_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction-invariance for the IVF layout: write WITHOUT two ~10%
    batches, append both (each append adds one file per touched cid
    directory), compact with
    operators/index_maintenance.py::compact_ivf_corpus, probe with the
    same centroids — must equal the one-shot full-corpus IVF."""
    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, 16)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_ivf_cmp"), "corpus_"
    )
    S.write_ivf_corpus(emb.filter(~(F.col("vec_id") % 10).isin([7, 8])), path, cents)
    S.append_ivf_batch(emb.filter(F.col("vec_id") % 10 == 7), path, cents)
    S.append_ivf_batch(emb.filter(F.col("vec_id") % 10 == 8), path, cents)
    compact_ivf_corpus(spark, path)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=TOP_K, centroids=cents, n_probe=4
    )
    return out.select(
        "query_id",
        "match_id",
        F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- filtered vector search over the persisted IVF layout ------------------------

# label 3 keeps ~12% of the corpus at every sf (labels are uniform deciles)
_FLT_LABEL = 3


_FLT_K = 5


_FLT_QUERIES = 8


def _filtered_brute_oracle_sql(
    k: int = _FLT_K, n_queries: int = _FLT_QUERIES, label: int = _FLT_LABEL
) -> str:
    """Exact filtered top-k: candidates restricted to the predicate, query
    side unrestricted — the brute-force spec of PRE-filter semantics."""
    return f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {n_queries}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             list_dot_product(q.qv, c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
               AS cos
      FROM embeddings c, q
      WHERE c.label = {label} AND c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, match_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS rk
      FROM scored
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {k}
    """


def _ivf_filtered_oracle_sql(label: int = _FLT_LABEL) -> str:
    """The IVF probe oracle with the CANDIDATE side (cassign) restricted to
    the predicate. Centroids and query probes stay on the FULL table on
    purpose: the quantizer was trained on the whole corpus and a query's
    probe set is filter-independent — only which candidates inside the
    probed lists may be RETURNED changes (pre-filter semantics). Spliced
    with asserted single-occurrence replaces, the _bm25_survivor_oracle
    pattern."""
    full = _ivf_oracle_sql(
        k=_FLT_K, n_queries=_FLT_QUERIES,
        n_centroids=_FLT_CENTROIDS, n_probe=_FLT_PROBE,
    )
    t_e = "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
    assert full.count(t_e) == 1
    full = full.replace(
        t_e,
        "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v"
        " FROM embeddings),",
    )
    t_ca = "FROM e, cents c\n      ) WHERE rn = 1"
    assert full.count(t_ca) == 1
    return full.replace(
        t_ca,
        f"FROM e, cents c WHERE e.label = {label}\n      ) WHERE rn = 1",
    )


def _write_filtered_layout(spark: SparkSession, sf_dir: str, tag: str):
    """(path, centroids, queries) for the filtered-search gates: the SAME
    write_ivf_corpus layout the unfiltered probes use — metadata columns
    (label) ride along into the partition files, which is exactly what
    makes filtered search a pushdown instead of a join."""

    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, _FLT_CENTROIDS)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), f"nilm_spark_ivf_{tag}"), "corpus_"
    )
    S.write_ivf_corpus(emb, path, cents)
    queries_df = emb.filter(F.col("vec_id") < _FLT_QUERIES)
    return path, cents, queries_df


@query(
    "cosine_topk_ivf_filtered",
    oracle=_ivf_filtered_oracle_sql(),
    survey_ref="§2.10 ANN extension: FILTERED vector search — IVF top-k "
    "under a metadata predicate over the persisted cid-partitioned layout; "
    "probe = parquet partition pruning, predicate = parquet pushdown into "
    "the same pruned scan, PRE-filter semantics (candidates restricted "
    "before ranking, so up to k MATCHING results per query); the "
    "reference's P4/P6 metadata selectors composed with §2.10 similarity",
)
def cosine_topk_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every real RAG deployment's query shape: "nearest k among documents
    with lang/source/tenant = X". Operator:
    operators/similarity.py::ivf_topk_partitioned(pre_filter=...) — the
    label predicate lands in the SAME scan as the cid partition filter
    (plan-pinned by tests/test_plan_quality.py::
    test_ivf_filtered_scan_prunes_and_pushes), so at 100 TB the probe
    reads n_probe/n_centroids of the directories and the pushed filter
    skips row groups inside them; cosine evaluates only on surviving
    rows. Pre- vs post-filter: see the operator docstring — this is
    pre-filter (k matching results, recall bounded by the probe dial);
    post-filtering an unfiltered top-k would return ≤ k·selectivity rows
    (~0.6 of 5 here) and can't be fixed by re-ranking. Recall vs the
    exact filtered baseline is gated in ivf_filtered_recall_at_k."""
    path, cents, queries_df = _write_filtered_layout(spark, sf_dir, "flt")
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=_FLT_K, centroids=cents, n_probe=_FLT_PROBE,
        pre_filter=F.col("label") == _FLT_LABEL,
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "cosine_topk_filtered_exact",
    oracle=_filtered_brute_oracle_sql(),
    survey_ref="§2.10 ANN extension: exact filtered top-k over the SAME "
    "persisted layout (predicate pushed into a full scan — no partition "
    "pruning, no recall loss); the fallback a deployment serves when the "
    "filter is selective enough to starve the probed lists, and the "
    "baseline the filtered recall gate measures against",
)
def cosine_topk_filtered_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute_force_topk over the persisted layout filtered to label=3:
    the scan touches every cid directory but the pushed predicate skips
    non-matching row groups (plan-pinned PushedFilters), and only the
    ~12% surviving vectors reach the cosine — at 100 TB this is a
    selectivity-scaled exact scan, the right choice whenever
    |matching| ≈ k·fanout (the classic pre-filter-vs-ANN crossover; cf.
    Qdrant/Weaviate filtered-search strategy selection). Identical
    ranking spec to cosine_topk_bruteforce restricted to the predicate,
    which the oracle replays verbatim."""
    path, _cents, queries_df = _write_filtered_layout(spark, sf_dir, "fex")
    corpus = read_parquet(spark, path).filter(F.col("label") == _FLT_LABEL)
    out = S.brute_force_topk(corpus, queries_df, k=_FLT_K)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "ivf_filtered_recall_at_k",
    oracle=f"""
    SELECT e.query_id,
           CAST(count(i.match_id) AS BIGINT) AS hits,
           CAST({_FLT_K} AS BIGINT) AS k,
           CAST((count(i.match_id) * 20000 + {_FLT_K}) // (2 * {_FLT_K})
                AS BIGINT) AS recall_e4
    FROM ({_filtered_brute_oracle_sql()}) e
    LEFT JOIN ({_ivf_filtered_oracle_sql()}) i
      ON e.query_id = i.query_id AND e.match_id = i.match_id
    GROUP BY e.query_id
    """,
    survey_ref="§2.10 ANN evaluation: recall@k of FILTERED IVF against the "
    "exact filtered top-k, per query — quantifies the pre-filter recall "
    "trade (probed-list starvation under a selective predicate) the "
    "operator docstring describes; the filtered twin of ivf_recall_at_k",
)
def ivf_filtered_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both legs run against ONE persisted layout (written once in-gate):
    the filtered partition-pruned probe and the exact filtered full scan.
    recall_e4 = round(hits/k) as an exact scaled integer
    (operators/exact_math.py::ratio_e4). This is the dial a deployment
    watches when tuning n_probe for filtered traffic — selective filters
    need more probes for the same recall, and the exact leg is the
    fallback past the crossover."""
    path, cents, queries_df = _write_filtered_layout(spark, sf_dir, "frc")
    pred = F.col("label") == _FLT_LABEL
    exact = S.brute_force_topk(
        read_parquet(spark, path).filter(pred), queries_df, k=_FLT_K
    ).select("query_id", "match_id")
    ivf = S.ivf_topk_partitioned(
        spark, path, queries_df, k=_FLT_K, centroids=cents, n_probe=_FLT_PROBE,
        pre_filter=pred,
    ).select(F.col("query_id").alias("i_qid"), F.col("match_id").alias("i_mid"))
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["i_qid"]) & (exact["match_id"] == ivf["i_mid"]),
        "left",
    )
    agg = hits.groupBy("query_id").agg(
        F.count("i_mid").alias("hits"), F.lit(_FLT_K).cast("long").alias("k")
    )
    return agg.select(
        "query_id", "hits", "k", ratio_e4("hits", "k").alias("recall_e4")
    )


# --- persisted-index UPSERT: delete(old) ∘ append(new) == rebuild -----------------

# upsert set: every doc_id % 10 == 4 — chosen disjoint from the append-batch
# (% 10 == 7/8) and erasure (% 10 == 3) constants of the r8 lifecycle gates
# so composed reasoning across gates stays easy
_UPS_MOD = 4


# the changed version APPENDS query terms so the update is VISIBLE to the
# probe (tf/dl/df of 'vector' and 'stream' all move — a no-op rewrite would
# gate vacuously)
_UPS_SUFFIX = " vector stream vector"


def _bm25_upsert_oracle() -> str:
    """The indexed-probe oracle over the UPSERTED corpus: the corpus CTE
    rewrites each changed doc's text to its new version — an index rebuilt
    from scratch on (corpus − U) ∪ U′ is the spec the maintained layout
    must match. Spliced with the asserted single-occurrence replace, the
    _bm25_survivor_oracle pattern."""
    full = _bm25_indexed_oracle()
    target = "FROM documents)"
    assert full.count(target) == 1
    return full.replace(
        target,
        f"FROM (SELECT doc_id, CASE WHEN doc_id % 10 = {_UPS_MOD}"
        f" THEN text || '{_UPS_SUFFIX}' ELSE text END AS text"
        f" FROM documents))",
    )


@query(
    "bm25_upsert_probe_equiv",
    oracle=_bm25_upsert_oracle(),
    survey_ref="§2.10 text retrieval: persisted-index UPDATE (upsert) — "
    "re-ingesting a CHANGED document as delete(old) ∘ append(new version); "
    "probe must equal a from-scratch index over the upserted corpus "
    "(corpus − U) ∪ U′. Completes CRUD semantics for the BM25 layout "
    "(CREATE/APPEND r5-r7, DELETE/COMPACT r8, UPDATE here)",
)
def bm25_upsert_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE = the composition of the two maintained halves: the old
    version's postings leave every term directory via the copy-on-write
    delete (stats exactly decremented by the OLD dl), then the new
    version appends like any fresh batch (stats merged with the NEW dl).
    append_bm25_batch's disjoint-doc_id precondition is satisfied BY the
    delete — the ids were just erased — which is exactly why upsert must
    run delete-first (append-first would double-count n_docs/sum_dl and
    duplicate postings). The changed text appends query terms, so the
    gate sees tf, dl, df, idf and avgdl ALL move and still hash-match
    the rebuild. Cost: one locating scan + rewrite of affected term
    partitions (delete) + one batch append — O(changed docs), never a
    rebuild; at 100 TB this is the nightly re-crawl / document-refresh
    path."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_ups"), "idx_"
    )
    write_bm25_index(docs, path)
    changed = docs.filter(F.col("doc_id") % 10 == _UPS_MOD)
    delete_bm25_docs(spark, path, changed.select("doc_id"))
    append_bm25_batch(
        changed.withColumn("text", F.concat(F.col("text"), F.lit(_UPS_SUFFIX))),
        path,
    )
    return _bm25_probe_frame(spark, path)


# --- filtered lexical retrieval over the persisted BM25 index ---------------------

_BM25_FLT_LANG = "de"


def _bm25_filtered_oracle(lang: str = _BM25_FLT_LANG) -> str:
    """The indexed-probe oracle re-ranked over matching docs that ALSO
    satisfy the metadata predicate. Corpus-wide stats on purpose: the
    filter restricts CANDIDATES, not the score function — idf/avgdl stay
    global so a doc scores identically under any filter (the Lucene
    filter-query semantics; per-filter idf would make scores
    incomparable across filters and unable to reuse the shared stats
    table). Spliced with the asserted single-occurrence replace."""
    full = _bm25_indexed_oracle()
    match = " + ".join(f"tf_{t}" for t in _BM25_TERMS)
    target = f"FROM scored WHERE {match} > 0"
    assert full.count(target) == 1
    return full.replace(
        target,
        f"FROM scored JOIN (SELECT doc_id AS f_id, lang FROM documents) f"
        f" ON scored.doc_id = f.f_id"
        f" WHERE {match} > 0 AND f.lang = '{lang}'",
    )


@query(
    "bm25_topk_filtered",
    oracle=_bm25_filtered_oracle(),
    survey_ref="§2.10 text retrieval: FILTERED lexical search — BM25 top-k "
    "under a metadata predicate over the persisted inverted index (pruned "
    "term-partition probe, then a doc-dim semi-join restricts candidates "
    "BEFORE ranking; corpus-wide idf/avgdl by the Lucene filter-query "
    "semantics); the lexical twin of cosine_topk_ivf_filtered — together "
    "they make BOTH legs of the RAG stack filter-aware",
)
def bm25_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inverted index is keyed by term, not metadata, so the filter is
    a semi-join against the (doc_id) ids satisfying the predicate — the
    posting-list ∩ doc-store shape every lexical engine runs. Unlike the
    IVF case there is NO recall trade: posting probes are exact, so
    filtered top-k == full-scan top-k restricted to matching docs, which
    is literally what the oracle replays. Scale: probe reads q term
    directories; the filter side is a metadata scan pruned to (doc_id)
    by column pruning (predicate pushed); the semi-join is AQE-decided
    (both sides sf-scaled — no broadcast hint per the repo rule); at
    100 TB a high-traffic predicate column graduates into the postings
    as a partition key (term, lang), the same evolution as the IVF
    layout's metadata ride-along."""


    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_flt"), "idx_"
    )
    write_bm25_index(docs, path)
    hits = bm25_hits_indexed(spark, path, _BM25_TERMS)
    keep = docs.filter(F.col("lang") == _BM25_FLT_LANG).select("doc_id")
    flt = hits.join(keep, "doc_id", "left_semi")
    top = flt.orderBy(F.col("bm25_raw").desc(), "doc_id").limit(_BM25_K).coalesce(1)
    w = Window.orderBy(F.col("bm25_raw").desc(), "doc_id")
    out = top.withColumn("rk", F.row_number().over(w)).drop("bm25_raw")
    return out.select(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _BM25_TERMS],
        "bm25",
        F.col("rk").cast("int").alias("rk"),
    )


# --- IVF upsert: the vector twin of bm25_upsert_probe_equiv -----------------------


def _ivf_upsert_oracle() -> str:
    """The IVF probe oracle with the CANDIDATE corpus rewritten to the
    upserted embeddings (re-crawled docs arrive with fresh vectors —
    modeled as list_reverse, which moves both the assignment and the
    scores). Centroids and query probes stay on the ORIGINAL table: the
    quantizer was trained before the upsert (the no-retrain contract of
    delete_ivf_vecs) and queries are external vectors. Spliced with
    asserted single-occurrence replaces."""
    full = _ivf_oracle_sql()
    t_e = "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),"
    assert full.count(t_e) == 1
    full = full.replace(
        t_e,
        t_e
        + f"\n    eu AS (SELECT vec_id, CASE WHEN vec_id % 10 = {_UPS_MOD}"
        " THEN list_reverse(v) ELSE v END AS v FROM e),",
    )
    t_ca = "FROM e, cents c\n      ) WHERE rn = 1"
    assert full.count(t_ca) == 1
    return full.replace(t_ca, "FROM eu e, cents c\n      ) WHERE rn = 1")


@query(
    "ivf_upsert_probe_equiv",
    oracle=_ivf_upsert_oracle(),
    survey_ref="§2.10 ANN: persisted-index UPDATE for the IVF layout — "
    "re-embedding a changed document as delete(old vector) ∘ append(new "
    "vector, SAME trained centroids); probe must equal a from-scratch "
    "layout over the upserted corpus. With bm25_upsert_probe_equiv (same "
    "doc_id % 10 == 4 upsert set) a re-crawl refreshes BOTH retrieval "
    "layouts through gated paths — CRUD complete on both",
)
def ivf_upsert_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The new embedding (list reversal — deterministic in both engines,
    norm-preserving, assignment-moving) usually lands in a DIFFERENT
    centroid list than the old one: the delete rewrites the old list's
    directory, the append adds a file to the new list's — which is
    exactly the failure surface this gate pins (a stale old-list row
    would surface in probes of the old centroid). Cost: O(affected cid
    partitions + batch); centroids are NOT retrained (re-clustering
    after drift is an offline rebuild, per append_ivf_batch)."""
    path, cents, queries_df = _write_filtered_layout(spark, sf_dir, "ups")
    emb = _emb(spark, sf_dir)
    changed = emb.filter(F.col("vec_id") % 10 == _UPS_MOD).withColumn(
        "embedding", F.reverse("embedding")
    )
    delete_ivf_vecs(
        spark, path, emb.filter(F.col("vec_id") % 10 == _UPS_MOD).select("vec_id")
    )
    S.append_ivf_batch(changed, path, cents)
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=_FLT_K, centroids=cents, n_probe=_FLT_PROBE
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- phrase search via a bigram (shingle) index -------------------------------------

# fixed phrase literals present at every sf (the synthetic vocab is fixed;
# these are among its most frequent adjacent pairs)
_PHRASES = ["table_hash", "customer_join", "vector_small"]


_PHRASE_IN = ", ".join(f"'{p}'" for p in _PHRASES)


# the corpus TRANSFORM (DuckDB text): each doc's token stream rewritten as
# its adjacent-bigram stream (underscore-joined so each bigram is one
# whitespace-token for the standard indexer), KEPT only for the declared
# phrase set — the tracked-phrase-field form (see the query docstring for
# why the unrestricted shingle index is the wrong gate shape). DuckDB
# list_transform's lambda index is 1-based, so tk[i + 1] is the NEXT token.
_PHRASE_CORPUS_SQL = (
    "(SELECT doc_id, array_to_string(list_filter(list_transform("
    "list_slice(tk, 1, len(tk) - 1), (x, i) -> x || '_' || tk[i + 1]),"
    f" x -> x IN ({_PHRASE_IN})), ' ')"
    " AS text FROM (SELECT doc_id,"
    " list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    " AS tk FROM documents))"
)


def _phrase_oracle() -> str:
    """The indexed-BM25 oracle generated over the bigram-transformed
    corpus with the phrase literals as terms (the r9 parameterization of
    _bm25_indexed_oracle)."""
    return _bm25_indexed_oracle(terms=_PHRASES, corpus=_PHRASE_CORPUS_SQL)


@query(
    "bm25_phrase_shingle_topk",
    oracle=_phrase_oracle(),
    survey_ref="§2.10 text retrieval: PHRASE search without positional "
    "postings — each doc's adjacent word bigrams (Lucene ShingleFilter "
    "technique), restricted to the DECLARED phrase set, indexed with the "
    "UNCHANGED write_bm25_index; an exact 2-word phrase query becomes a "
    "single term lookup, tf = phrase occurrence count, scored by the same "
    "BM25 over phrase-df / tracked-phrase-stream dl",
)
def bm25_phrase_shingle_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic space/positions trade: positional postings store every
    occurrence offset; the shingle index instead makes a phrase a TERM —
    probe = partition pruning on the phrase literal, identical plan shape
    to bm25_topk_indexed (one indexer, two tokenizations — the point).
    The shingle DOMAIN is the declared phrase list, the tracked-phrase-
    field form real engines ship: the UNRESTRICTED bigram index is
    ~vocab² terms, and because this layout partitions postings BY TERM
    that means ~vocab² partition directories — measured 1,600 dirs and a
    ~15 s write/probe at a 500-doc gate (pure filesystem metadata, the
    small-file problem in term-key form). Declaring the phrases keeps the
    layout at |phrases| directories; a production middle ground hashes
    terms into bucket directories (partition key = hash(term) % B,
    pushed filter on term inside each bucket). dl = the tracked-phrase
    stream length per doc (the phrase-field scoring model); df = phrase
    document frequency; the oracle replays the whole construction over
    the SQL-transformed corpus via the parameterized
    _bm25_indexed_oracle."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    bigrams = F.transform(
        T.word_ngrams_all(F.col("text"), 2),
        lambda g: F.translate(g, " ", "_"),
    )
    bg_docs = docs.select(
        "doc_id",
        F.array_join(
            F.filter(bigrams, lambda g: g.isin(*_PHRASES)), " "
        ).alias("text"),
    )
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_phr"), "idx_"
    )
    write_bm25_index(bg_docs, path)
    out = bm25_topk_indexed(spark, path, _PHRASES, k=_BM25_K)
    return out.select(
        "doc_id",
        "dl",
        *[f"tf_{t}" for t in _PHRASES],
        "bm25",
        F.col("rk").cast("int").alias("rk"),
    )


# --- IVF retrain → rebuild: the last ungated lifecycle operation -------------------


def _ivf_retrain_oracle() -> str:
    """The IVF probe oracle with centroids REFINED by one Lloyd step in
    SQL: seed centroids = the hash sample, assignment argmax, per-(cid,
    pos) exact fixed-point means (the kmeans_centroid_update arithmetic),
    re-assembled as double arrays (list(... ORDER BY pos)); empty
    clusters keep their seed centroid. Everything downstream (assignment,
    probing, ranking) then runs against the refined quantizer."""
    cos = (
        "list_dot_product({a}, {b})"
        " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )
    c_vs_cent = cos.format(a="e.v", b="c.cv")
    q_vs_m = cos.format(a="qv", b="mv")
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT v AS cv, rn - 1 AS cid FROM (
        SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
        FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
      ) WHERE rn <= {_FLT_CENTROIDS}
    ),
    assign0 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {c_vs_cent} DESC, c.cid) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    flat AS (SELECT cid, v, unnest(range(0, 64)) AS pos FROM assign0),
    refined AS (
      SELECT cid, CAST(pos AS INT) AS pos,
             CAST(sum(CAST(floor(v[pos + 1] * 1000000) AS BIGINT)) AS BIGINT)
               AS c_num,
             CAST(count(*) AS BIGINT) AS c_den
      FROM flat GROUP BY 1, 2
    ),
    cnew0 AS (
      SELECT cid,
             list(CAST(c_num AS DOUBLE) / CAST(c_den AS DOUBLE) ORDER BY pos)
               AS cv
      FROM refined GROUP BY cid
    ),
    cnew AS (
      SELECT c.cid, coalesce(n.cv, c.cv) AS cv
      FROM cents c LEFT JOIN cnew0 n ON n.cid = c.cid
    ),
    cassign AS (
      SELECT match_id, mv, cid FROM (
        SELECT e.vec_id AS match_id, e.v AS mv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {c_vs_cent} DESC, c.cid) AS rn
        FROM e, cnew c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, qv, cid FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {c_vs_cent} DESC, c.cid) AS rn
        FROM e, cnew c WHERE e.vec_id < {_FLT_QUERIES}
      ) WHERE rn <= {_FLT_PROBE}
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.match_id, q.qv, c.mv
      FROM cassign c JOIN qprobe q ON c.cid = q.cid
      WHERE c.match_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, match_id, {q_vs_m} AS cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY {q_vs_m} DESC, match_id) AS rk
      FROM cand
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_FLT_K}
    """


@query(
    "ivf_retrain_rebuild_equiv",
    oracle=_ivf_retrain_oracle(),
    survey_ref="§2.10 ANN lifecycle, completed: RETRAIN → REBUILD — the "
    "quantizer is refined by one exact-arithmetic Lloyd step "
    "(kmeans_step's fixed-point means), the layout rebuilt under the "
    "refined centroids, and the probe gated against a from-scratch "
    "oracle that replays the training itself; the offline re-clustering "
    "path every docstring in the IVF family promises "
    "(append_ivf_batch: 'centroid drift after heavy growth is an "
    "offline rebuild') — now gated, so the full lifecycle is "
    "CREATE/APPEND/DELETE/COMPACT/UPSERT/RETRAIN, all hash-checked",
)
def ivf_retrain_rebuild_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training in-gate, exactly: refined centroid components are the
    EXACT fixed-point means c_num/c_den (sum of 1e-6-floored components
    over the assigned vectors — the kmeans_centroid_update discipline;
    a float avg's accumulation order diverges cross-engine), divided
    once as IEEE doubles identically in Python and SQL, so both engines
    derive bit-equal refined centroids and therefore bit-equal
    assignments, probes and rankings. The 16×64 c_num/c_den collect is
    the sanctioned bounded pull (centroids are driver-side lists in this
    API by design); c_num stays exact below ~2^53/1e6 ≈ 9e9 rows per
    cluster — decompose per exact_math past that. Empty clusters keep
    their seed centroid (both sides). Scale: retrain = one corpus pass
    (argmax + (cid, pos) agg), rebuild = write_ivf_corpus — the same
    one-pass costs as CREATE."""
    emb = _emb(spark, sf_dir)
    cents0 = S.sample_centroids(emb, _FLT_CENTROIDS)
    cents0_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents0)], "cid int, cv array<double>"
    )
    km = (
        S.kmeans_step(emb, cents0_df)
        .select("cid", "pos", "c_num", "c_den")
        .collect()
    )
    acc: dict[int, list[float]] = {}
    for r in km:
        acc.setdefault(r["cid"], [0.0] * 64)[r["pos"]] = r["c_num"] / r["c_den"]
    refined = [acc.get(i, cents0[i]) for i in range(_FLT_CENTROIDS)]


    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_ivf_rt"), "corpus_"
    )
    S.write_ivf_corpus(emb, path, refined)
    queries_df = emb.filter(F.col("vec_id") < _FLT_QUERIES)
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=_FLT_K, centroids=refined, n_probe=_FLT_PROBE
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- pseudo-relevance feedback (RM3-style) query expansion over the index ----------

_PRF_EXPAND = 2


# the per-(doc, term) quantized BM25 contribution — ONE shared SQL text so
# Spark and DuckDB run the textually identical IEEE op sequence (the
# _bm25_score_expr discipline), then floor to an e6 integer IMPACT whose
# per-doc sum is order-free (integer addition commutes; a float Σ over
# dynamic per-term ROWS would be accumulation-order nondeterministic —
# impact quantization is exactly how production impact-ordered indexes
# solve this, cf. Anh & Moffat's quantized impact scores)
_PRF_CONTRIB = (
    "CAST(floor((ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)"
    " / (CAST(df AS DOUBLE) + 0.5))"
    " * ((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE)"
    " + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)"
    " / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)))))))"
    " * 1000000.0) AS BIGINT)"
)


def _prf_oracle() -> str:
    """Pass 1 = the registered indexed-BM25 oracle NESTED verbatim (top-20
    matching docs as the feedback set); expansion = top-2 feedback tokens
    by total tf (base terms excluded, token-string tiebreak); pass 2 =
    generic term-set scoring with the shared quantized-impact expression."""
    base_not_in = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    base_union = " UNION ALL ".join(f"SELECT '{t}' AS term" for t in _BM25_TERMS)
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    return f"""
    WITH fb AS (SELECT doc_id FROM ({_bm25_indexed_oracle()}) pass1),
    toks2 AS (SELECT doc_id, {toks} AS t FROM documents),
    dld AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks2),
    fbtok AS (
      SELECT unnest(t) AS tok FROM toks2 JOIN fb USING (doc_id)
    ),
    expt AS (
      SELECT tok FROM (
        SELECT tok, CAST(count(*) AS BIGINT) AS c FROM fbtok
        WHERE tok NOT IN ({base_not_in}) GROUP BY 1
      ) ORDER BY c DESC, tok LIMIT {_PRF_EXPAND}
    ),
    termset AS ({base_union} UNION ALL SELECT tok FROM expt),
    occ AS (
      SELECT u.doc_id, u.tok AS term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS tok FROM toks2) u
      JOIN termset ON u.tok = termset.term
      GROUP BY 1, 2
    ),
    dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM occ GROUP BY 1),
    gst AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS sum_dl FROM dld),
    contrib AS (
      SELECT occ.doc_id, {_PRF_CONTRIB} AS c
      FROM occ JOIN dfq USING (term) JOIN dld USING (doc_id) CROSS JOIN gst
    ),
    agg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_q6
            FROM contrib GROUP BY 1)
    SELECT doc_id, dl, score_q6, CAST(rk AS INT) AS rk FROM (
      SELECT a.doc_id, d.dl, a.score_q6,
             row_number() OVER (ORDER BY a.score_q6 DESC, a.doc_id) AS rk
      FROM agg a JOIN dld d USING (doc_id)
    ) WHERE rk <= {_BM25_K}
    """


@query(
    "bm25_prf_expanded_topk",
    oracle=_prf_oracle(),
    survey_ref="§2.10 text retrieval: pseudo-relevance-feedback query "
    "expansion (the RM3/Rocchio family) served from the persisted index — "
    "pass 1 probes the base terms (the registered bm25_topk_indexed "
    "ranking, oracle nested verbatim), the top feedback docs vote 2 "
    "expansion terms by exact tf counts, pass 2 re-probes with the "
    "expanded term set and ranks by order-free QUANTIZED per-term impacts "
    "(Anh & Moffat impact quantization — what makes a dynamic term set's "
    "score sum deterministic cross-engine)",
)
def bm25_prf_expanded_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two probe passes against one layout, corpus text touched only at
    feedback-token counting over the 20 feedback docs (a LIMIT-bounded
    semi-join — at 100 TB this reads 20 documents). The 2 expansion terms
    collect to the driver (the sanctioned bounded collect: 2 strings) and
    become pass-2 partition-filter literals — total postings read = 5
    term directories. Exactness: expansion picks are exact-integer tf
    counts with a token-string tiebreak (both engines recompute the same
    set, or the gate fails loudly); pass-2 per-(doc, term) contributions
    evaluate the textually shared _PRF_CONTRIB expression and quantize to
    e6 integers BEFORE the per-doc sum, so the ranking key is an
    order-free BIGINT. Output carries (doc_id, dl, score_q6, rk) — no
    per-term tf columns, since the schema must not depend on which terms
    the data votes in."""


    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_prf"), "idx_"
    )
    write_bm25_index(docs, path)
    fb = bm25_topk_indexed(spark, path, _BM25_TERMS, k=_BM25_K).select("doc_id")
    fbtok = (
        docs.join(fb, "doc_id", "left_semi")
        .select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .filter(~F.col("tok").isin(_BM25_TERMS))
    )
    exp_rows = (
        fbtok.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_PRF_EXPAND)
        .collect()
    )
    terms5 = list(_BM25_TERMS) + [r["tok"] for r in exp_rows]
    post = spark.read.schema(T.BM25_POSTINGS_SCHEMA).parquet(f"{path}/postings").filter(
        F.col("term").isin(terms5)
    )
    dfq = post.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    stats = spark.read.schema(T.BM25_STATS_SCHEMA).parquet(f"{path}/stats")
    contrib = (
        post.join(dfq, "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "dl", F.expr(_PRF_CONTRIB).alias("c"))
    )
    agg = contrib.groupBy("doc_id").agg(
        # dl is denormalized identically into every posting of a doc —
        # first() over equal values (the BM25 F.first("dl") TIES.md rule)
        F.first("dl").alias("dl"),
        F.sum("c").cast("long").alias("score_q6"),
    )
    top = (
        agg.orderBy(F.col("score_q6").desc(), "doc_id")
        .limit(_BM25_K)
        .coalesce(1)
    )
    w = Window.orderBy(F.col("score_q6").desc(), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("int")).select(
        "doc_id", "dl", "score_q6", "rk"
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
