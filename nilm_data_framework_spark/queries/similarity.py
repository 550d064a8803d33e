"""§2.10 similarity-search queries over ``embeddings`` (array<float>, dim 64).

ALL variants — brute force AND the LSH / IVF approximate paths — are fully
oracle-checked: the hyperplanes and centroid choices are deterministic, so
DuckDB replays bucketing/probing/ranking end-to-end. Their
recall-vs-bruteforce contracts are additionally tested in
tests/test_similarity.py. Embedding evaluation (k-NN accuracy, confusion
margins, reliability bins, MRR, MAP), multi-vector MaxSim, scalar
quantization, batch kNN joins, and exact embedding statistics (Gram matrix,
its incremental fold and power iteration, norms, label centroids, k-center
coresets) live here too.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import embed_stats as ES
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators.embed_stats import u6_components
from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4,
    ratio_e4_sql,
    trunc_div_sql,
)
from nilm_data_framework_spark.operators.similarity import dot
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _emb
from nilm_data_framework_spark.sources.testdata import load_table
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir


N_QUERIES = 8
TOP_K = 5


def _brute_oracle_sql(n_queries: int = N_QUERIES, k: int = TOP_K) -> str:
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
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, match_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS rk
      FROM scored
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, rk
    FROM ranked WHERE rk <= {k}
    """


@query(
    "cosine_topk_bruteforce",
    oracle=_brute_oracle_sql(),
    survey_ref="§2.10 similarity search: brute-force cosine top-k baseline",
)
def cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.brute_force_topk(emb, queries_df, k=TOP_K)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("long").alias("rk"),
    )


_PREFIX_DIM = 16
_SHORTLIST = 48


@query(
    "truncated_rerank_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id, q.qv, c.cv,
             list_dot_product(q.qv[1:{_PREFIX_DIM}], c.cv[1:{_PREFIX_DIM}])
               / (sqrt(list_dot_product(q.qv[1:{_PREFIX_DIM}], q.qv[1:{_PREFIX_DIM}]))
                  * sqrt(list_dot_product(c.cv[1:{_PREFIX_DIM}], c.cv[1:{_PREFIX_DIM}])))
               AS cos_prefix
      FROM c, q WHERE c.vec_id <> q.query_id
    ),
    short AS (
      SELECT query_id, match_id, qv, cv FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_prefix DESC, match_id) AS rk_p
        FROM scored
      ) WHERE rk_p <= {_SHORTLIST}
    ),
    rer AS (
      SELECT query_id, match_id,
             list_dot_product(qv, cv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv)))
               AS cos
      FROM short
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, match_id) AS rk
      FROM rer
    ) WHERE rk <= {TOP_K}
    """,
    survey_ref="§2.10 similarity search: matryoshka prefix shortlist + full-width re-rank (arXiv:2205.13147 serving shape)",
)
def truncated_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.truncated_prefix_topk(
        emb, queries_df, k=TOP_K, prefix_dim=_PREFIX_DIM, shortlist=_SHORTLIST
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("long").alias("rk"),
    )


@query(
    "embedding_neardup_pairs",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4)
             AS cosine
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
    """,
    survey_ref="§2.10 embedding-cosine near-dup (label-blocked exact pairs)",
)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select("vec_id", "label", "embedding")
    a = e.alias("a")
    b = e.alias("b")
    cos = F.expr(S.cosine("a.embedding", "b.embedding"))
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= 0.35)
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round("_cos", 4).alias("cosine"),
        )
    )


# The SRP hyperplanes are seed-deterministic doubles, so the full LSH
# pipeline — bucketing, candidate join, scoring, ranking — replays exactly
# in DuckDB with the plane matrices embedded as SQL literals.


def _lsh_oracle_sql(
    k: int = TOP_K, n_queries: int = N_QUERIES, n_planes: int = 4,
    n_tables: int = 4, dim: int = 64,
) -> str:
    tables = [S._hyperplanes(dim, n_planes, S.LSH_SEED + 1000 * t) for t in range(n_tables)]

    def bucket_expr(planes: list[list[float]], vcol: str) -> str:
        terms = []
        for i, plane in enumerate(planes):
            lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
            terms.append(
                f"CASE WHEN list_dot_product({vcol}, {lit}) > 0 THEN {1 << i} ELSE 0 END"
            )
        return "(" + " + ".join(terms) + ")"

    def case_bkt(vcol: str) -> str:
        whens = "".join(
            f" WHEN {t} THEN {bucket_expr(planes, vcol)}"
            for t, planes in enumerate(tables)
        )
        return f"CASE tbl{whens} END"

    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    tbls AS (SELECT unnest(range(0, {n_tables})) AS tbl),
    cb AS (
      SELECT e.vec_id AS match_id, e.v AS mv, tbls.tbl, {case_bkt('e.v')} AS bkt
      FROM e, tbls
    ),
    qb AS (
      SELECT e.vec_id AS query_id, e.v AS qv, tbls.tbl, {case_bkt('e.v')} AS bkt
      FROM e, tbls WHERE e.vec_id < {n_queries}
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.match_id, q.qv, c.mv
      FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bkt = q.bkt
      WHERE c.match_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, match_id,
             list_dot_product(qv, mv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(mv, mv))) AS cos
      FROM cand
    ),
    ranked AS (
      SELECT query_id, match_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS rk
      FROM scored
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {k}
    """


@query(
    "cosine_topk_lsh",
    oracle=_lsh_oracle_sql(),
    survey_ref="§2.10 ANN: random-hyperplane LSH-bucketed top-k (scale path)",
)
def cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    # 4 planes × 4 tables: on weakly-similar random data SRP needs coarse
    # buckets for usable recall (see tests/test_similarity.py)
    out = S.lsh_topk(emb, queries_df, k=TOP_K, dim=64, n_planes=4, n_tables=4)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# IVF centroids are "the 16 smallest md5(vec_id) among rows with
# md5(vec_id) < '2'" — a content-addressed 1/8 pre-filter plus ordered take
# that DuckDB recomputes exactly, so assignment + probing + the final
# ranking all replay in SQL (operators/similarity.py::sample_centroids,
# method="hash"; production passes trained centroids instead).


def _ivf_oracle_sql(
    k: int = TOP_K, n_queries: int = N_QUERIES, n_centroids: int = 16, n_probe: int = 4
) -> str:
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
      ) WHERE rn <= {n_centroids}
    ),
    cassign AS (
      SELECT match_id, mv, cid FROM (
        SELECT e.vec_id AS match_id, e.v AS mv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {c_vs_cent} DESC, c.cid) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, qv, cid FROM (
        SELECT e.vec_id AS query_id, e.v AS qv, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {c_vs_cent} DESC, c.cid) AS rn
        FROM e, cents c WHERE e.vec_id < {n_queries}
      ) WHERE rn <= {n_probe}
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
    FROM ranked WHERE rk <= {k}
    """


@query(
    "cosine_topk_ivf",
    oracle=_ivf_oracle_sql(),
    survey_ref="§2.10 ANN: IVF coarse-quantized top-k (partition-pruned search)",
)
def cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk(emb, queries_df, k=TOP_K, n_centroids=16, n_probe=4)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- k-means refinement step for the IVF quantizer (iterative algorithm demo) -------

@query(
    "kmeans_centroid_update",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT v AS cv, rn - 1 AS cid FROM (
        SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
        FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
      ) WHERE rn <= 16
    ),
    assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_dot_product(e.v, c.cv)
                   / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv)))
                 DESC, c.cid) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    flat AS (SELECT cid, v, unnest(range(0, 64)) AS pos FROM assigned)
    SELECT cid, CAST(pos AS INT) AS pos,
           CAST(sum(CAST(floor(v[pos + 1] * 1000000) AS BIGINT)) AS BIGINT)
             AS c_num,
           count(*) AS c_den
    FROM flat GROUP BY cid, pos
    """,
    survey_ref="§2.10 ANN: one Lloyd iteration refining the IVF coarse quantizer",
)
def kmeans_centroid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, 16, method="hash")
    cents_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], "cid int, cv array<double>"
    )
    out = S.kmeans_step(emb, cents_df)
    # exact fixed-point centroid means (c_num/c_den): embedding components
    # are signed, so the rational is emitted as num/den instead of a
    # scaled-integer round (Spark div truncates, DuckDB // floors — signed
    # integer division diverges; see operators/exact_math.py)
    return out.select("cid", "pos", "c_num", "c_den")


# --- SemDeDup: semantic dedup via k-means blocking ---------------------------

_SEMDEDUP_TAU = 0.35
_COS_SQL = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "semantic_dedup_survivors",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    cents AS (
      SELECT v AS cv, rn - 1 AS cid FROM (
        SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
        FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
      ) WHERE rn <= 16
    ),
    assigned AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS_SQL.format(a="e.v", b="c.cv")} DESC,
                                           c.cid) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a.v", b="b.v")} >= {_SEMDEDUP_TAU}
    )
    SELECT vec_id, CAST(cid AS INT) AS cid FROM assigned
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """,
    survey_ref="§2.10 SemDeDup: embedding dedup with k-means blocking (arXiv:2303.09540)",
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.semantic_dedup(
        _emb(spark, sf_dir), n_centroids=16, threshold=_SEMDEDUP_TAU
    )


# --- product quantization (ADC) ----------------------------------------------
# The PQ codebook is the same content-addressed sample as IVF's centroids
# (md5-prefix filter + ordered take — operators/similarity.py::
# sample_centroids, method="hash"), so codebook construction, encoding
# (argmin per subspace) and asymmetric-distance scoring all replay in
# DuckDB. Sum orders are pinned (list_aggregate over the subspace list =
# Spark's sequential F.aggregate) so distances are bit-comparable.

_PQ_M = 8       # subspaces (64-dim → 8 dims each)
_PQ_K = 16      # codes per subspace
_PQ_DSUB = 8


@query(
    "pq_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    samp AS (
      SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
      FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
    ),
    cbl AS (
      SELECT list(v ORDER BY rn) AS cbv FROM samp WHERE rn <= {_PQ_K}
    ),
    enc AS (
      SELECT e.vec_id, ms.m, cb.j,
             list_aggregate(list_transform(range(1, {_PQ_DSUB} + 1),
               i -> (e.v[ms.m * {_PQ_DSUB} + i] - cbl.cbv[cb.j + 1][ms.m * {_PQ_DSUB} + i])
                  * (e.v[ms.m * {_PQ_DSUB} + i] - cbl.cbv[cb.j + 1][ms.m * {_PQ_DSUB} + i])),
               'sum') AS d
      FROM e CROSS JOIN range(0, {_PQ_M}) ms(m)
             CROSS JOIN range(0, {_PQ_K}) cb(j) CROSS JOIN cbl
    ),
    codes AS (
      SELECT vec_id, list(code ORDER BY m) AS codes FROM (
        SELECT vec_id, m, j AS code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM enc
      ) WHERE rn = 1 GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, ca.vec_id AS match_id,
             list_aggregate(list_transform(range(0, {_PQ_M}), m ->
               list_aggregate(list_transform(range(1, {_PQ_DSUB} + 1), i ->
                 (q.qv[m * {_PQ_DSUB} + i] - cbl.cbv[ca.codes[m + 1] + 1][m * {_PQ_DSUB} + i])
               * (q.qv[m * {_PQ_DSUB} + i] - cbl.cbv[ca.codes[m + 1] + 1][m * {_PQ_DSUB} + i])),
               'sum')), 'sum') AS approx_d
      FROM codes ca CROSS JOIN cbl CROSS JOIN q
      WHERE ca.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, match_id, approx_d,
             row_number() OVER (PARTITION BY query_id ORDER BY approx_d, match_id) AS rk
      FROM scored
    )
    SELECT query_id, match_id, round(approx_d, 4) AS approx_d, rk
    FROM ranked WHERE rk <= {TOP_K}
    """,
    survey_ref="§2.10 similarity search: product quantization / ADC (compressed-domain top-k)",
)
def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.pq_topk(emb, queries_df, k=TOP_K, n_sub=_PQ_M, ksub=_PQ_K)
    return out.select(
        "query_id", "match_id", F.round("approx_d", 4).alias("approx_d"),
        F.col("rk").cast("long").alias("rk"),
    )


_PQ_RERANK = 50


@query(
    "pq_topk_rerank",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    samp AS (
      SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
      FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
    ),
    cbl AS (
      SELECT list(v ORDER BY rn) AS cbv FROM samp WHERE rn <= {_PQ_K}
    ),
    enc AS (
      SELECT e.vec_id, ms.m, cb.j,
             list_aggregate(list_transform(range(1, {_PQ_DSUB} + 1),
               i -> (e.v[ms.m * {_PQ_DSUB} + i] - cbl.cbv[cb.j + 1][ms.m * {_PQ_DSUB} + i])
                  * (e.v[ms.m * {_PQ_DSUB} + i] - cbl.cbv[cb.j + 1][ms.m * {_PQ_DSUB} + i])),
               'sum') AS d
      FROM e CROSS JOIN range(0, {_PQ_M}) ms(m)
             CROSS JOIN range(0, {_PQ_K}) cb(j) CROSS JOIN cbl
    ),
    codes AS (
      SELECT vec_id, list(code ORDER BY m) AS codes FROM (
        SELECT vec_id, m, j AS code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM enc
      ) WHERE rn = 1 GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT q.query_id, ca.vec_id AS match_id,
             list_aggregate(list_transform(range(0, {_PQ_M}), m ->
               list_aggregate(list_transform(range(1, {_PQ_DSUB} + 1), i ->
                 (q.qv[m * {_PQ_DSUB} + i] - cbl.cbv[ca.codes[m + 1] + 1][m * {_PQ_DSUB} + i])
               * (q.qv[m * {_PQ_DSUB} + i] - cbl.cbv[ca.codes[m + 1] + 1][m * {_PQ_DSUB} + i])),
               'sum')), 'sum') AS approx_d
      FROM codes ca CROSS JOIN cbl CROSS JOIN q
      WHERE ca.vec_id <> q.query_id
    ),
    shortlist AS (
      SELECT query_id, match_id FROM (
        SELECT query_id, match_id,
               row_number() OVER (PARTITION BY query_id ORDER BY approx_d, match_id) AS rk
        FROM scored
      ) WHERE rk <= {_PQ_RERANK}
    ),
    exact AS (
      SELECT s.query_id, s.match_id,
             list_aggregate(list_transform(range(1, 65),
               i -> (q.qv[i] - c.v[i]) * (q.qv[i] - c.v[i])), 'sum') AS dist
      FROM shortlist s
      JOIN e c ON c.vec_id = s.match_id
      JOIN q ON q.query_id = s.query_id
    ),
    reranked AS (
      SELECT query_id, match_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rk
      FROM exact
    )
    SELECT query_id, match_id, round(dist, 4) AS dist, rk
    FROM reranked WHERE rk <= {TOP_K}
    """,
    survey_ref="§2.10 similarity search: PQ shortlist + exact re-rank (IVF-PQ shape)",
)
def pq_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.pq_rerank_topk(
        emb, queries_df, k=TOP_K, rerank=_PQ_RERANK, n_sub=_PQ_M, ksub=_PQ_K
    )
    return out.select(
        "query_id", "match_id", F.round("dist", 4).alias("dist"),
        F.col("rk").cast("long").alias("rk"),
    )


# --- IVF-PQ: the full production composition ----------------------------------
# Coarse-quantizer pruning (IVF) + compressed-domain ADC within probed lists
# (PQ) + exact re-rank — the FAISS IVFPQ read path. Centroids and codebook
# are the same deterministic hash sample, so DuckDB replays pruning,
# encoding, ADC, and re-rank end-to-end.

_IVFPQ_RERANK = 20
_COS = (
    "list_dot_product({a}, {b})"
    " / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


@query(
    "ivf_pq_topk",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    ),
    cents AS (
      SELECT v AS cv, rn - 1 AS cid FROM (
        SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
        FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
      ) WHERE rn <= 16
    ),
    cassign AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cid) AS rn
        FROM e, cents c
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT query_id, cid FROM (
        SELECT e.vec_id AS query_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_COS.format(a="e.v", b="c.cv")} DESC, c.cid) AS rn
        FROM e, cents c WHERE e.vec_id < {N_QUERIES}
      ) WHERE rn <= 4
    ),
    samp AS (
      SELECT v, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR))) AS rn
      FROM e WHERE md5(CAST(vec_id AS VARCHAR)) < '2'
    ),
    cbl AS (
      SELECT list(v ORDER BY rn) AS cbv FROM samp WHERE rn <= {_PQ_K}
    ),
    enc AS (
      SELECT e.vec_id, ms.m, cb.j,
             list_aggregate(list_transform(range(1, {_PQ_DSUB} + 1),
               i -> (e.v[ms.m * {_PQ_DSUB} + i] - cbl.cbv[cb.j + 1][ms.m * {_PQ_DSUB} + i])
                  * (e.v[ms.m * {_PQ_DSUB} + i] - cbl.cbv[cb.j + 1][ms.m * {_PQ_DSUB} + i])),
               'sum') AS d
      FROM e CROSS JOIN range(0, {_PQ_M}) ms(m)
             CROSS JOIN range(0, {_PQ_K}) cb(j) CROSS JOIN cbl
    ),
    codes AS (
      SELECT vec_id, list(code ORDER BY m) AS codes FROM (
        SELECT vec_id, m, j AS code,
               row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rn
        FROM enc
      ) WHERE rn = 1 GROUP BY vec_id
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
      SELECT qp.query_id, ca.vec_id AS match_id,
             list_aggregate(list_transform(range(0, {_PQ_M}), m ->
               list_aggregate(list_transform(range(1, {_PQ_DSUB} + 1), i ->
                 (q.qv[m * {_PQ_DSUB} + i] - cbl.cbv[ca.codes[m + 1] + 1][m * {_PQ_DSUB} + i])
               * (q.qv[m * {_PQ_DSUB} + i] - cbl.cbv[ca.codes[m + 1] + 1][m * {_PQ_DSUB} + i])),
               'sum')), 'sum') AS approx_d
      FROM cassign a
      JOIN qprobe qp ON a.cid = qp.cid
      JOIN codes ca ON ca.vec_id = a.vec_id
      JOIN q ON q.query_id = qp.query_id
      CROSS JOIN cbl
      WHERE a.vec_id <> qp.query_id
    ),
    shortlist AS (
      SELECT query_id, match_id FROM (
        SELECT query_id, match_id,
               row_number() OVER (PARTITION BY query_id ORDER BY approx_d, match_id) AS rk
        FROM scored
      ) WHERE rk <= {_IVFPQ_RERANK}
    ),
    exact AS (
      SELECT s.query_id, s.match_id,
             list_aggregate(list_transform(range(1, 65),
               i -> (q.qv[i] - c.v[i]) * (q.qv[i] - c.v[i])), 'sum') AS dist
      FROM shortlist s
      JOIN e c ON c.vec_id = s.match_id
      JOIN q ON q.query_id = s.query_id
    ),
    reranked AS (
      SELECT query_id, match_id, dist,
             row_number() OVER (PARTITION BY query_id ORDER BY dist, match_id) AS rk
      FROM exact
    )
    SELECT query_id, match_id, round(dist, 4) AS dist, rk
    FROM reranked WHERE rk <= {TOP_K}
    """,
    survey_ref="§2.10 similarity search: IVF-PQ (probe pruning + ADC + exact re-rank)",
)
def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_pq_topk(
        emb, queries_df, k=TOP_K, n_centroids=16, n_probe=4,
        rerank=_IVFPQ_RERANK, n_sub=_PQ_M, ksub=_PQ_K,
    )
    return out.select(
        "query_id", "match_id", F.round("dist", 4).alias("dist"),
        F.col("rk").cast("long").alias("rk"),
    )


# --- contrastive hard-negative mining (§2.10 extension) ------------------------------

@query(
    "hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             list_dot_product(q.qv, c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
               AS cos
      FROM embeddings c, q WHERE c.label <> q.q_label
    ),
    ranked AS (
      SELECT query_id, match_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id) AS rk
      FROM scored
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    """,
    survey_ref="§2.10 similarity search: contrastive hard-negative mining",
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.hard_negatives(emb, anchors, k=TOP_K)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("long").alias("rk"),
    )


@query(
    "contrastive_triplets",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, c.vec_id AS match_id,
             c.label = q.q_label AS same,
             list_dot_product(q.qv, c.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
               AS cos
      FROM embeddings c, q WHERE c.vec_id <> q.query_id
    ),
    top AS (
      SELECT query_id, match_id, same, cos FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id, same
                                     ORDER BY cos DESC, match_id) AS rk
        FROM scored
      ) WHERE rk = 1
    )
    SELECT p.query_id, p.match_id AS pos_id, n.match_id AS neg_id,
           round(p.cos, 4) AS pos_cos, round(n.cos, 4) AS neg_cos,
           round(p.cos - n.cos, 4) AS margin
    FROM (SELECT * FROM top WHERE same) p
    JOIN (SELECT * FROM top WHERE NOT same) n USING (query_id)
    """,
    survey_ref="§2.10 similarity search: contrastive triplet materialization (anchor, hardest positive, hardest negative)",
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data artifact a retrieval/embedding fine-tune consumes:
    per anchor, the hardest in-class positive and the hardest out-of-class
    negative with the margin between them (InfoNCE/triplet-loss input;
    mining strategy per Xiong et al., ANCE, arXiv:2007.00808). Single scored
    pass — one broadcast of the anchor batch, one corpus scan, one rank
    window per (anchor, side) — then a self-join of the two 1-row-per-anchor
    sides. The corpus is never shuffled by pair at any scale."""
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("qv"),
    )
    c = emb.select(
        F.col("vec_id").alias("match_id"), F.col("label").alias("c_label"),
        F.col("embedding").alias("cv"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .withColumn("cos", F.expr(S.cosine("qv", "cv")))
        .withColumn("same", F.col("c_label") == F.col("q_label"))
    )
    w = Window.partitionBy("query_id", "same").orderBy(
        F.col("cos").desc(), F.col("match_id")
    )
    top = scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
    pos = top.filter(F.col("same")).select(
        "query_id", F.col("match_id").alias("pos_id"), F.col("cos").alias("p_cos")
    )
    neg = top.filter(~F.col("same")).select(
        "query_id", F.col("match_id").alias("neg_id"), F.col("cos").alias("n_cos")
    )
    return pos.join(neg, "query_id").select(
        "query_id", "pos_id", "neg_id",
        F.round("p_cos", 4).alias("pos_cos"),
        F.round("n_cos", 4).alias("neg_cos"),
        F.round(F.col("p_cos") - F.col("n_cos"), 4).alias("margin"),
    )


# --- ANN recall harness (r5) --------------------------------------------------


@query(
    "ivf_recall_at_k",
    oracle=f"""
    SELECT e.query_id,
           CAST(count(i.match_id) AS BIGINT) AS hits,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST((count(i.match_id) * 20000 + {TOP_K}) // (2 * {TOP_K})
                AS BIGINT) AS recall_e4
    FROM ({_brute_oracle_sql()}) e
    LEFT JOIN ({_ivf_oracle_sql()}) i
      ON e.query_id = i.query_id AND e.match_id = i.match_id
    GROUP BY e.query_id
    """,
    survey_ref="§2.10 ANN evaluation harness: recall@k of the IVF "
    "probe-pruned path against the exact brute-force top-k, per query — "
    "the accuracy/cost dial every approximate index ships with",
)
def ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of IVF(16 centroids, 4 probes) vs exact top-k, per query,
    as an exact e4 integer (hits/k). This is the evaluation harness an ANN
    deployment runs after every index build — the measurement half of the
    accuracy/cost dial (tests/test_similarity.py pins aggregate recall
    floors; this query makes the per-query numbers a first-class,
    oracle-replayed dataset). Cost: both paths touch only the Q-row query
    set against the corpus (brute force scans once; IVF scans probed
    lists); the recall join is |Q|×k rows — negligible."""
    emb = _emb(spark, sf_dir)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    exact = S.brute_force_topk(emb, queries_df, k=TOP_K).select(
        "query_id", "match_id"
    )
    ivf = S.ivf_topk(emb, queries_df, k=TOP_K, n_centroids=16, n_probe=4).select(
        F.col("query_id").alias("i_qid"), F.col("match_id").alias("i_mid")
    )
    hits = exact.join(
        ivf,
        (exact["query_id"] == ivf["i_qid"]) & (exact["match_id"] == ivf["i_mid"]),
        "left",
    )
    agg = hits.groupBy("query_id").agg(
        F.count("i_mid").alias("hits"), F.lit(TOP_K).cast("long").alias("k")
    )
    return agg.select(
        "query_id", "hits", "k", ratio_e4("hits", "k").alias("recall_e4")
    )


# --- persisted IVF layout: probe = partition pruning --------------------------------


@query(
    "ivf_topk_persisted",
    oracle=_ivf_oracle_sql(),
    survey_ref="§2.10 ANN: IVF over the PERSISTED cid-partitioned layout "
    "(probe = parquet partition pruning; result-invariant vs "
    "cosine_topk_ivf by construction — same oracle)",
)
def ivf_topk_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same search as cosine_topk_ivf, but against the production layout:
    the corpus is WRITTEN partitioned by centroid id
    (operators/similarity.py::write_ivf_corpus) and each query's probes
    become a literal partition filter — the scan reads only the probed
    directories (plan-pinned). Shares cosine_topk_ivf's oracle verbatim:
    the persisted layout must be RESULT-invariant, exactly like the
    persisted LSH reference."""

    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, 16)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_ivf"), "corpus_"
    )
    S.write_ivf_corpus(emb, path, cents)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=TOP_K, centroids=cents, n_probe=4
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


@query(
    "ivf_append_probe_equiv",
    oracle=_ivf_oracle_sql(),
    survey_ref="§2.10 ANN: incremental append into the persisted IVF "
    "layout — write corpus-minus-batch, append the batch, probe; must "
    "equal the one-shot IVF over the full corpus (same oracle verbatim)",
)
def ivf_append_probe_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest invariance for the persisted IVF layout: the
    corpus is written WITHOUT a ~10% batch, the batch is appended with
    operators/similarity.py::append_ivf_batch (same centroids), and the
    partition-pruned probe over the grown layout must hash-match the
    one-shot IVF oracle over the FULL corpus — proving appends land in the
    right cid directories and probing sees them (the IVF twin of
    incremental_neardup_persisted's result-invariance gate)."""

    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, 16)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_ivf_app"), "corpus_"
    )
    S.write_ivf_corpus(emb.filter(F.col("vec_id") % 10 != 7), path, cents)
    S.append_ivf_batch(emb.filter(F.col("vec_id") % 10 == 7), path, cents)
    queries_df = emb.filter(F.col("vec_id") < N_QUERIES)
    out = S.ivf_topk_partitioned(
        spark, path, queries_df, k=TOP_K, centroids=cents, n_probe=4
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- distributed Gram matrix (PCA building block) ----------------------------


_GRAM_SQL = """
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    )
    SELECT a.i AS i, b.i AS j,
           CAST(sum(a.q * b.q) AS BIGINT) AS g,
           CAST(count(*) AS BIGINT) AS n
    FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """


@query(
    "embedding_gram_matrix",
    oracle=_GRAM_SQL,
    survey_ref="§2.10 embedding stats: exact upper-triangle Gram (second "
    "moment) matrix over 1e-6-quantized components — the PCA/whitening/"
    "covariance building block (one linear pass, d²-bounded shuffle)",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment matrix (operators/embed_stats.py): two
    chained posexplodes (join-free) + one (i,j) hash agg whose map-side
    combine bounds the shuffle at d(d+1)/2 rows per partition. The oracle
    replays it as a position self-join — same exact BIGINT arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    return ES.gram_matrix_u6(emb, "embedding")


# --- per-class embedding statistics ------------------------------------------


@query(
    "label_centroid_stats",
    oracle="""
    WITH u AS (
      SELECT label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    )
    SELECT CAST(label AS BIGINT) AS label, i,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q * q) AS BIGINT) AS sum_q2
    FROM u GROUP BY 1, 2
    """,
    survey_ref="§2.10 embedding stats: per-class centroid + scatter "
    "numerators (exact u6 first/second moments per (label, dim)) — the "
    "class-separability / embedding-quality audit for labeled training "
    "data; one linear pass, output |labels|·d rows",
)
def label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(label, dimension) count / Σq / Σq² over 1e-6-floored
    components: class centroids (sum_q/n) and within-class variance
    ((sum_q2 − sum_q²/n)/n) derive exactly, and the numerators MERGE
    associatively across shards (the partial_agg_merge contract). One
    posexplode + one hash agg whose map-side combine bounds the shuffle
    at |labels|·d rows per partition — the grouped-first-moment sibling
    of embedding_gram_matrix."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    q = emb.select(
        F.col("label").cast("long").alias("label"),
        ES.u6_components("embedding").alias("q"),
    )
    flat = q.select("label", F.posexplode("q").alias("i", "qi"))
    return flat.groupBy("label", F.col("i").cast("int").alias("i")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qi").cast("long").alias("sum_q"),
        F.sum(F.col("qi") * F.col("qi")).cast("long").alias("sum_q2"),
    )


# --- scalar-quantization (SQ8) ANN -------------------------------------------

_SQ8_QUERIES = 8


_SQ8_RERANK = 32


_SQ8_K = 10


@query(
    "sq8_topk_rerank",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    dim AS (
      SELECT i, CAST(min(q6) AS BIGINT) AS mn,
             CAST(greatest(max(q6) - min(q6), 1) AS BIGINT) AS span
      FROM u GROUP BY i
    ),
    codes AS (
      SELECT u.vec_id, u.i, ((u.q6 - d.mn) * 255) // d.span AS c
      FROM u JOIN dim d ON d.i = u.i
    ),
    qs AS (SELECT vec_id AS query_id, i, c FROM codes
           WHERE vec_id < {_SQ8_QUERIES}),
    d8 AS (
      SELECT q.query_id, c.vec_id AS match_id,
             CAST(sum(q.c * c.c) AS BIGINT) AS dot8
      FROM qs q JOIN codes c ON q.i = c.i AND c.vec_id <> q.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, match_id FROM (
        SELECT query_id, match_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot8 DESC, match_id) AS rs
        FROM d8) WHERE rs <= {_SQ8_RERANK}
    ),
    ex AS (
      SELECT s.query_id, s.match_id, CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot_u12
      FROM short s
      JOIN u a ON a.vec_id = s.query_id
      JOIN u b ON b.vec_id = s.match_id AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT query_id, match_id, dot_u12, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_u12 DESC, match_id) AS rk
      FROM ex) WHERE rk <= {_SQ8_K}
    """,
    survey_ref="§2.10 similarity/ANN: int8 scalar-quantization shortlist "
    "(FAISS ScalarQuantizer / vector-DB 'SQ8 + rescore') + exact integer "
    "re-rank — the middle member of the 1-bit(hamming)/8-bit(SQ)/PQ "
    "compression family; codes and both dot products are pure BIGINT, so "
    "shortlist membership and ranking replay bit-identically",
)
def sq8_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/similarity.py::sq8_rerank_topk with the codebook trained
    by sq8_dim_stats (a d-row collect — schema-sized, not data-sized).
    Queries broadcast, corpus scanned once; the int8 code column is the
    only thing the shortlist stage reads (8× smaller than float32)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    stats = S.sq8_dim_stats(emb)
    q = emb.where(F.col("vec_id") < _SQ8_QUERIES)
    return S.sq8_rerank_topk(
        emb, q, k=_SQ8_K, stats=stats, rerank=_SQ8_RERANK
    )


# --- kNN label-vote classification eval --------------------------------------

_KNN_QUERIES = 50


_KNN_K = 5


_KNN_ACCURACY_SQL = f"""
    WITH u AS (
      SELECT vec_id, label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    d AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.vec_id AS match_id, b.label AS c_label,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_KNN_QUERIES}
      GROUP BY 1, 2, 3, 4
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, match_id) AS rk
        FROM d) WHERE rk <= {_KNN_K}
    ),
    votes AS (
      SELECT query_id, true_label, c_label, CAST(count(*) AS BIGINT) AS votes
      FROM top GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label, c_label AS pred_label, votes,
           c_label = true_label AS correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, c_label) AS r2
      FROM votes) WHERE r2 = 1
    """


@query(
    "knn_label_accuracy",
    oracle=_KNN_ACCURACY_SQL,
    survey_ref="§2.10 embedding evaluation: k-NN majority-vote label "
    "prediction (the standard embedding-quality probe — kNN accuracy is "
    "THE linear-probe-free eval) over exact u6 integer dot products; "
    "votes tie-break (count desc, label asc) so predictions replay "
    "bit-identically",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN label vote per held-out query vector: exact integer dots →
    per-query top-k (queries broadcast, corpus scanned once, never
    shuffled by pair — the brute_force_topk topology) → vote counting on
    (query, label) → deterministic argmax. At 100 TB the neighbor stage
    swaps to any of the bucketed ANN paths (IVF/SQ8/hamming) unchanged —
    the vote/argmax layers are candidate-list-sized."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        u6_components("embedding").alias("c6"),
        F.col("label").alias("c_label"),
    )
    q = emb.where(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        u6_components("embedding").alias("q6"),
        F.col("label").alias("true_label"),
    )
    dot = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.join(
        F.broadcast(q), F.col("match_id") != F.col("query_id")
    ).withColumn("dot", dot)
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("match_id"))
    top = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KNN_K
    )
    votes = top.groupBy("query_id", "true_label", "c_label").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("c_label")
    )
    return (
        votes.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("c_label").alias("pred_label"),
            "votes",
            (F.col("c_label") == F.col("true_label")).alias("correct"),
        )
    )


# --- kNN confusion matrix + per-class precision/recall -----------------------


@query(
    "knn_confusion_matrix",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    d AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.vec_id AS match_id, b.label AS c_label,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      GROUP BY 1, 2, 3, 4
    ),
    top AS (
      SELECT query_id, true_label, c_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, match_id) AS rk
        FROM d) WHERE rk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, c_label, count(*) AS v
      FROM top GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, c_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY v DESC, c_label) AS r2
        FROM votes) WHERE r2 = 1
    ),
    cells AS (
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    margins AS (
      SELECT true_label AS label,
             CAST(sum(n) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN pred_label = true_label THEN n ELSE 0 END)
                  AS BIGINT) AS tp
      FROM cells GROUP BY 1
    ),
    pmarg AS (
      SELECT pred_label AS label, CAST(sum(n) AS BIGINT) AS n_pred
      FROM cells GROUP BY 1
    )
    SELECT m.label, m.n_true,
           coalesce(p.n_pred, 0) AS n_pred, m.tp,
           CAST((m.tp * 20000 + greatest(coalesce(p.n_pred, 0), 1))
                // (2 * greatest(coalesce(p.n_pred, 0), 1)) AS BIGINT)
             AS precision_e4,
           CAST((m.tp * 20000 + m.n_true) // (2 * m.n_true) AS BIGINT)
             AS recall_e4
    FROM margins m LEFT JOIN pmarg p ON p.label = m.label
    """,
    survey_ref="§2.10 embedding evaluation: full-corpus 5-NN confusion "
    "margins — per class, exact support / predicted-count / true-positive "
    "counts with e4 precision and recall; the per-class companion of "
    "knn_label_accuracy's per-query predictions",
)
def knn_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same all-pairs exact-dot baseline as label_noise_screen (no
    broadcast hint — planner-decided; ANN is the scale path), majority
    vote per vector, then confusion-cell margins. The rollups are
    prediction-count-sized; only the neighbor stage sees the corpus."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        u6_components("embedding").alias("c6"),
        F.col("label").alias("c_label"),
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        u6_components("embedding").alias("q6"),
        F.col("label").alias("true_label"),
    )
    dot = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("match_id"))
    top = (
        c.join(q, F.col("match_id") != F.col("query_id"))
        .withColumn("dot", dot)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "true_label", "c_label")
    )
    votes = top.groupBy("query_id", "true_label", "c_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("v").desc(), F.col("c_label"))
    pred = (
        votes.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") == 1)
        .select("query_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    # Margins in ONE aggregation over a 2-way tagged union of the per-query
    # predictions (r10 optimization, guide §2.4): the old cells→margins ⋈
    # cells→pmarg form referenced the N²-dot prediction subtree from TWO
    # branches of a self-join — correctness relied on runtime exchange
    # reuse, and it paid three exchanges plus a sort-merge join for what is
    # one label-keyed agg. Each prediction contributes a true-label-tagged
    # row (counts n_true, and tp when the prediction is correct) and a
    # pred-label-tagged row (counts n_pred); labels that are only ever
    # predicted (n_true = 0) are filtered exactly as the old margins LEFT
    # JOIN pmarg kept only true-label rows. Identical integer outputs.
    # explode, not union: a union would still reference the expensive pred
    # subtree twice — the explode emits both tagged rows in ONE pass
    tagged = pred.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("true_label").alias("label"),
                    F.lit(1).cast("long").alias("is_true"),
                    (F.col("pred_label") == F.col("true_label"))
                    .cast("long")
                    .alias("tp_flag"),
                ),
                F.struct(
                    F.col("pred_label").alias("label"),
                    F.lit(0).cast("long").alias("is_true"),
                    F.lit(0).cast("long").alias("tp_flag"),
                ),
            )
        ).alias("t")
    ).select("t.label", "t.is_true", "t.tp_flag")
    out = (
        tagged.groupBy("label")
        .agg(
            F.sum("is_true").cast("long").alias("n_true"),
            F.sum(F.lit(1) - F.col("is_true")).cast("long").alias("n_pred"),
            F.sum("tp_flag").cast("long").alias("tp"),
        )
        .filter(F.col("n_true") > 0)
        .select(
            "label",
            "n_true",
            "n_pred",
            "tp",
            F.expr(
                "(tp * 20000 + greatest(n_pred, 1))"
                " div (2 * greatest(n_pred, 1))"
            )
            .cast("long")
            .alias("precision_e4"),
            F.expr("(tp * 20000 + n_true) div (2 * n_true)")
            .cast("long")
            .alias("recall_e4"),
        )
    )
    return out


# --- reciprocal best match (mutual nearest neighbors) -------------------------


@query(
    "reciprocal_best_match",
    oracle="""
    WITH a AS (
      SELECT vec_id AS a_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * 1000000))
               AS qa
      FROM embeddings WHERE vec_id < 128
    ),
    b AS (
      SELECT vec_id AS b_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * 1000000))
               AS qb
      FROM embeddings WHERE vec_id >= 128
    ),
    scored AS (
      SELECT a_id, b_id, CAST(list_dot_product(qa, qb) AS BIGINT) AS dot_q
      FROM a CROSS JOIN b
    ),
    r AS (
      SELECT a_id, b_id, dot_q,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY dot_q DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY dot_q DESC, a_id) AS rb
      FROM scored
    )
    SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id, dot_q
    FROM r WHERE ra = 1 AND rb = 1
    """,
    survey_ref="§2.10 similarity: reciprocal best match (mutual nearest "
    "neighbor) between a bounded probe slice and the rest of the corpus "
    "— the bitext-mining / cross-source alignment shape; matching is by "
    "exact u6-quantized integer dot product (every product ≤ 1e12, the "
    "64-term sum ≤ 6.4e13 — exact in BIGINT and in float64 alike, so "
    "argmax ties break identically in both engines)",
)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-NN pairs A↔B: a's best b AND b's best a (the global best
    pair always qualifies, so never vacuous). One bounded crossJoin
    (|A| = 128 constant slice, broadcast — exempt per the plan-quality
    guard) + two rank windows over |A|·|B| scored rows. At 100 TB the
    scored set is the product of a BOUNDED probe batch and the corpus —
    the documented ANN swap (IVF/LSH shortlist before the exact rerank)
    applies verbatim to the corpus side."""

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    a = (
        emb.where(F.col("vec_id") < 128)
        .select(F.col("vec_id").alias("a_id"), u6_components("embedding").alias("qa"))
        .coalesce(1)
    )
    b = emb.where(F.col("vec_id") >= 128).select(
        F.col("vec_id").alias("b_id"), u6_components("embedding").alias("qb")
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = b.crossJoin(F.broadcast(a)).select(
        "a_id", "b_id", dot.alias("dot_q")
    )
    w_a = Window.partitionBy("a_id").orderBy(F.col("dot_q").desc(), "b_id")
    w_b = Window.partitionBy("b_id").orderBy(F.col("dot_q").desc(), "a_id")
    return (
        scored.withColumn("ra", F.row_number().over(w_a))
        .withColumn("rb", F.row_number().over(w_b))
        .where((F.col("ra") == 1) & (F.col("rb") == 1))
        .select("a_id", "b_id", "dot_q")
    )


# --- embedding norm drift by source ----------------------------------------------


@query(
    "embedding_norm_by_source",
    oracle="""
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    norms AS (
      SELECT vec_id, CAST(sum(q6 * q6) AS BIGINT) AS norm2
      FROM u GROUP BY vec_id
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n.norm2) AS BIGINT) AS sum_norm2,
           CAST(min(n.norm2) AS BIGINT) AS min_norm2,
           CAST(max(n.norm2) AS BIGINT) AS max_norm2,
           CAST(sum(n.norm2) // count(*) AS BIGINT) AS mean_norm2
    FROM norms n JOIN documents d ON d.doc_id = n.vec_id
    GROUP BY 1
    """,
    survey_ref="§2.10 embedding ops: per-source squared-norm profile on "
    "the u6 integer scale — the drift/QA check that one source's encoder "
    "output isn't systematically off-scale before cosine comparisons "
    "(norms exact BIGINT; mean as floor quotient of non-negative ints — "
    "identical div semantics both engines)",
)
def embedding_norm_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Squared L2 norms of every embedding (exact u6 integers), profiled
    per document source: count, sum, min/max, floor-mean. One zip-free
    aggregate over the array per row (F.aggregate, JVM-side), one join to
    the source dim, one agg — linear, no pair work. Norm magnitudes:
    64 · (1e6)² ≈ 6.4e13 per vector, summed over corpus rows — int64-safe
    past 1e5 vectors per source at gate scales (overflow point ~1.4e5
    vectors × max-norm; production rescales to u3 first, documented)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    docs = load_table(spark, sf_dir, "documents")
    norm2 = F.aggregate(
        u6_components("embedding"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    norms = emb.select(F.col("vec_id").alias("doc_id"), norm2.alias("norm2"))
    j = norms.join(docs.select("doc_id", "source"), "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("norm2").cast("long").alias("sum_norm2"),
        F.min("norm2").cast("long").alias("min_norm2"),
        F.max("norm2").cast("long").alias("max_norm2"),
        F.expr("sum(norm2) div count(1)").cast("long").alias("mean_norm2"),
    )


# --- multi-probe SRP-LSH ANN ----------------------------------------------------

_MP_PLANES = 4


_MP_TABLES = 2


_MP_K = 5


_MP_QUERIES = 8


def _lsh_multiprobe_oracle() -> str:
    """DuckDB twin of lsh_topk_multiprobe: same plane literals (the seeded
    generator is shared Python), corpus bucketed once per table, query
    buckets expanded with xor(bkt, 2^i) Hamming-1 probes, exact cosine
    over the candidate union, rank by raw cosine with id tiebreak (the
    r5 ln()-rank rule: never rank by the rounded display value)."""
    tables = [
        S._hyperplanes(64, _MP_PLANES, S.LSH_SEED + 1000 * t) for t in range(_MP_TABLES)
    ]

    def bucket_expr(planes: list[list[float]], vcol: str) -> str:
        terms = []
        for i, plane in enumerate(planes):
            lit = "[" + ",".join(repr(float(x)) for x in plane) + "]"
            terms.append(
                f"CASE WHEN list_dot_product({vcol}, {lit}) > 0"
                f" THEN {1 << i} ELSE 0 END"
            )
        return "(" + " + ".join(terms) + ")"

    def case_bkt(vcol: str) -> str:
        whens = "".join(
            f" WHEN {t} THEN {bucket_expr(planes, vcol)}"
            for t, planes in enumerate(tables)
        )
        return f"CASE tbl{whens} END"

    masks = "[0" + "".join(f", {1 << i}" for i in range(_MP_PLANES)) + "]"
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    tbls AS (SELECT unnest(range(0, {_MP_TABLES})) AS tbl),
    cb AS (
      SELECT e.vec_id AS match_id, e.v AS mv, tbls.tbl, {case_bkt('e.v')} AS bkt
      FROM e, tbls
    ),
    qb0 AS (
      SELECT e.vec_id AS query_id, e.v AS qv, tbls.tbl, {case_bkt('e.v')} AS bkt
      FROM e, tbls WHERE e.vec_id < {_MP_QUERIES}
    ),
    qb AS (
      SELECT query_id, qv, tbl,
             CASE WHEN m = 0 THEN bkt ELSE xor(bkt, m) END AS bkt
      FROM qb0, (SELECT unnest({masks}) AS m)
    ),
    cand AS (
      SELECT DISTINCT q.query_id, c.match_id, q.qv, c.mv
      FROM cb c JOIN qb q ON c.tbl = q.tbl AND c.bkt = q.bkt
      WHERE c.match_id <> q.query_id
    ),
    scored AS (
      SELECT query_id, match_id,
             list_dot_product(qv, mv)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(mv, mv)))
               AS cos
      FROM cand
    ),
    ranked AS (
      SELECT query_id, match_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, match_id)
               AS rk
      FROM scored
    )
    SELECT query_id, match_id, round(cos, 4) AS cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= {_MP_K}
    """


@query(
    "cosine_topk_lsh_multiprobe",
    oracle=_lsh_multiprobe_oracle(),
    survey_ref="§2.10 ANN extension: MULTI-PROBE SRP-LSH top-k — the query "
    "probes its own bucket plus every Hamming-1 neighbor (flip each sign "
    "bit), recovering near neighbors one hyperplane-side away WITHOUT "
    "another stored table; probe count is the query-side dial, table count "
    "the storage dial (Lv et al., VLDB'07, specialized to sign buckets). "
    "Half the tables of cosine_topk_lsh (2 vs 4) at the same plane width",
)
def cosine_topk_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator: operators/similarity.py::lsh_topk_multiprobe. The corpus
    layout (one bucket per table) is UNCHANGED vs plain SRP-LSH — only the
    query's probe set grows, so at 100 TB the stored bucketed corpus and
    its (tbl, bkt)-keyed join shape carry over verbatim while recall is
    tuned per query. Candidate superset of lsh_topk at equal params (test:
    tests/test_extra_ops_r8.py)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    queries_df = emb.filter(F.col("vec_id") < _MP_QUERIES)
    out = S.lsh_topk_multiprobe(
        emb, queries_df, k=_MP_K, dim=64,
        n_planes=_MP_PLANES, n_tables=_MP_TABLES,
    )
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- ColBERT-style MaxSim multi-vector retrieval -----------------------------------

_MAXSIM_K = 5


@query(
    "maxsim_multivector_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id // 3 AS query_id, vec_id % 3 AS tok,
             embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < 6
    ),
    d AS (
      SELECT vec_id // 4 AS mdoc_id, embedding::DOUBLE[] AS dv
      FROM embeddings
    ),
    dots AS (
      SELECT q.query_id, q.tok, d.mdoc_id,
             max(list_dot_product(q.qv, d.dv)) AS mx
      FROM d, q GROUP BY 1, 2, 3
    ),
    sc AS (
      SELECT query_id, mdoc_id,
             max(CASE WHEN tok = 0 THEN mx END)
               + max(CASE WHEN tok = 1 THEN mx END)
               + max(CASE WHEN tok = 2 THEN mx END) AS score
      FROM dots GROUP BY 1, 2
    ),
    ranked AS (
      SELECT query_id, mdoc_id, score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score DESC, mdoc_id) AS rk
      FROM sc
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(mdoc_id AS BIGINT) AS mdoc_id,
           round(score, 4) AS maxsim,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_MAXSIM_K}
    """,
    survey_ref="§2.10 similarity search: ColBERT-style MaxSim late "
    "interaction (Khattab & Zaharia SIGIR'20) — multi-vector documents "
    "(4 token vectors each), 3-token-vector queries, score = Σ_q max_d "
    "⟨q,d⟩ assembled in a FIXED operation order (per-token maxes pivoted "
    "to columns, left-associative sum) so the float replays bit-identically "
    "cross-engine; rank ties break on mdoc_id",
)
def maxsim_multivector_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval over multi-vector documents: the
    embeddings table is regrouped into 'documents' of 4 consecutive token
    vectors (mdoc_id = vec_id div 4) and queried by 2 queries of 3 token
    vectors each (vec_id < 6); MaxSim(q, D) = Σ over query tokens of the
    max dot product against the document's token vectors — the ColBERT
    scoring that beats single-vector retrieval by preserving token-level
    interaction while staying embarrassingly parallel.

    Determinism: per-(query-token, doc) maxes are order-independent; the
    3-term sum is assembled from PIVOTED columns in one left-associative
    expression (never a float groupBy-sum over shuffled rows, whose
    accumulation order is nondeterministic); ranking orders by the raw
    double with an mdoc_id tiebreak (the repo's identical-op-order float
    discipline).

    Scale: the query side is a constant slice (6 rows — broadcast-exempt
    probe pattern); the corpus scans once through a broadcast NL join,
    groups by (query, token, doc) with map-side combine, and the per-query
    top-k shares brute_force_topk's baseline shape (the IVF/LSH variants
    are the scale path for the candidate-generation stage; MaxSim composes
    with them unchanged — this query gates the SCORING kernel)."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    q = emb.where(F.col("vec_id") < 6).select(
        F.expr("vec_id div 3").alias("query_id"),
        (F.col("vec_id") % 3).alias("tok"),
        F.col("embedding").alias("qv"),
    )
    d = emb.select(
        F.expr("vec_id div 4").alias("mdoc_id"),
        F.col("embedding").alias("dv"),
    )
    dots = (
        d.crossJoin(F.broadcast(q))
        .select(
            "query_id",
            "tok",
            "mdoc_id",
            F.expr(f"{dot('qv', 'dv')} AS dp"),
        )
        .groupBy("query_id", "tok", "mdoc_id")
        .agg(F.max("dp").alias("mx"))
    )
    sc = dots.groupBy("query_id", "mdoc_id").agg(
        (
            F.max(F.when(F.col("tok") == 0, F.col("mx")))
            + F.max(F.when(F.col("tok") == 1, F.col("mx")))
            + F.max(F.when(F.col("tok") == 2, F.col("mx")))
        ).alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), "mdoc_id"
    )
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _MAXSIM_K)
        .select(
            "query_id",
            "mdoc_id",
            F.round("score", 4).alias("maxsim"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# --- kNN reliability diagram (calibration bins) -------------------------------------


def _knn_reliability_oracle() -> str:
    """Wrap the knn_label_accuracy oracle (vote-share grain) in a
    calibration rollup."""
    knn = _KNN_ACCURACY_SQL

    acc = ratio_e4_sql("sum(CASE WHEN correct THEN 1 ELSE 0 END)", "count(*)")
    return f"""
    SELECT votes AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(votes * 2000 AS BIGINT) AS conf_e4,
           {acc} AS acc_e4,
           abs(CAST(votes * 2000 AS BIGINT) - {acc}) AS gap_e4
    FROM ({knn}) t
    GROUP BY votes
    """


@query(
    "knn_reliability_bins",
    oracle=_knn_reliability_oracle(),
    survey_ref="§2.10 ML-eval extension: reliability diagram / expected-"
    "calibration-error bins (Guo et al. ICML'17) for the kNN classifier — "
    "predicted confidence = majority vote share (exact votes/5 at e4), "
    "binned against the exact empirical accuracy; gap_e4 per bin is the "
    "ECE integrand",
)
def knn_reliability_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration audit of the 5-NN majority-vote classifier: group the
    per-query predictions by confidence bin (vote count 1..5 → predicted
    probability votes/5) and compare against the bin's exact empirical
    accuracy — the reliability diagram whose weighted gap sum is ECE, the
    standard check before TRUSTING a classifier's scores for curation
    thresholds (an overconfident quality/label model silently biases
    every downstream selection).

    Composition: the prediction grain is the registered
    knn_label_accuracy query REUSED VERBATIM (same spark callable, its
    oracle wrapped as a subquery), so this gate also re-attests that
    kernel; the rollup adds one ≤5-row agg. All quantities exact:
    conf_e4 = votes·2000, acc_e4 the e4 integer ratio, gap their |diff|."""
    preds = knn_label_accuracy(spark, sf_dir)
    conf = (F.col("votes") * 2000).cast("long")
    acc = ratio_e4("sum(CASE WHEN correct THEN 1 ELSE 0 END)", "count(1)")
    return preds.groupBy(F.col("votes").alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("correct"), 1).otherwise(0))
        .cast("long")
        .alias("n_correct"),
        F.max(conf).alias("conf_e4"),
        acc.alias("acc_e4"),
        F.abs(F.max(conf) - acc).alias("gap_e4"),
    )


_FLT_CENTROIDS = 16


_FLT_PROBE = 4


# --- dominant embedding direction: exact integer power iteration ------------------

_GPI_ITERS = 4


_GPI_GCAP = 2 ** 36  # |normalized Gram entry| bound


_GPI_XS = 1024  # per-iteration max-|component| normalization target


def _gram_power_oracle(iters: int = _GPI_ITERS) -> str:
    """Chained-CTE twin of the integer power iteration: Gram build (the
    embedding_gram_matrix SQL), mirror to full symmetric, one-time
    magnitude normalization of G (data-dependent divisor as a 1-row agg —
    keeps every matvec inside int64 at ANY corpus size), then per round
    matvec + max-|y| renormalization. Signed divisions use the
    sign-magnitude form (operators/exact_math.py::trunc_div_sql) because
    Spark `div` truncates toward zero while DuckDB `//` floors."""
    ctes = [
        """u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    )""",
        "gu AS (SELECT a.i AS i, b.i AS j, CAST(sum(a.q * b.q) AS BIGINT) AS g\n"
        "       FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i\n"
        "       GROUP BY 1, 2)",
        "gf AS (SELECT i, j, g FROM gu\n"
        "       UNION ALL SELECT j AS i, i AS j, g FROM gu WHERE j > i)",
        f"nrm AS (SELECT greatest(CAST(1 AS BIGINT),\n"
        f"               CAST(max(abs(g)) // {_GPI_GCAP} AS BIGINT)) AS dd FROM gf)",
        f"gs AS (SELECT i, j, {trunc_div_sql('g', 'dd')} AS gq\n"
        "       FROM gf CROSS JOIN nrm)",
        f"x0 AS (SELECT CAST(unnest(range(0, 64)) AS INT) AS i,\n"
        f"              CAST({_GPI_XS} AS BIGINT) AS x)",
    ]
    for k in range(iters):
        ctes.append(
            f"y{k} AS (SELECT gs.i AS i, CAST(sum(gs.gq * x{k}.x) AS BIGINT) AS y\n"
            f"         FROM gs JOIN x{k} ON gs.j = x{k}.i GROUP BY 1)"
        )
        ctes.append(
            f"m{k} AS (SELECT CAST(max(abs(y)) AS BIGINT) AS m FROM y{k})"
        )
        ctes.append(
            f"x{k + 1} AS (SELECT i, {trunc_div_sql(f'y * {_GPI_XS}', 'm')} AS x\n"
            f"       FROM y{k} CROSS JOIN m{k})"
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT i AS pos, x AS v_q10 FROM x{iters}"
    )


@query(
    "gram_power_iteration",
    oracle=_gram_power_oracle(),
    survey_ref="§2.10 embedding stats extension: dominant principal "
    "direction of the embedding second-moment (Gram) matrix via EXACT "
    f"integer power iteration ({_GPI_ITERS} rounds, per-round max-|x| "
    "renormalization to 1024, one-time data-dependent Gram magnitude cap "
    "keeping every matvec inside int64 at any corpus size) — the "
    "anisotropy / common-direction diagnostic ('All-but-the-Top', Mu & "
    "Viswanath ICLR'18) and the third iterated-numeric-fixpoint family "
    "member beside PageRank and personalized PageRank",
)
def gram_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase shape that scales independently of corpus size: ONE
    linear pass builds the d×d Gram (operators/embed_stats.py::
    gram_matrix_u6 — d²-bounded shuffle), then the iteration runs
    entirely on d²/d-row frames (4096/64 rows at d=64; checkpoint
    per round keeps the plan flat, the pagerank discipline at toy frame
    sizes). Overflow algebra: |gq| ≤ 2^36 (the one-time cap), |x| ≤ 2^10
    (per-round renorm) ⇒ |Σ_j gq·x| ≤ 64·2^46 = 2^52 and the renorm
    numerator |y·1024| ≤ 2^62 < 2^63. Signed renormalization divisions
    match cross-engine via Spark's truncate-toward-zero `div` vs the
    oracle's sign-magnitude `//` form (exact_math.trunc_div_sql). Output
    is the direction at max-|component| = 1024 fixed-point — for Gram
    (PSD) matrices with a non-degenerate spectral gap this converges to
    the top eigenvector; 4 rounds is the gated horizon, not a
    convergence claim."""
    gu = ES.gram_matrix_u6(_emb(spark, sf_dir), "embedding").select("i", "j", "g")
    gf = gu.unionByName(
        gu.filter(F.col("j") > F.col("i")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    )
    nrm = gf.agg(
        F.expr(
            f"greatest(CAST(1 AS BIGINT), max(abs(g)) div {_GPI_GCAP})"
        ).alias("dd")
    )
    gs = (
        gf.crossJoin(F.broadcast(nrm))
        .select("i", "j", F.expr("g div dd").cast("long").alias("gq"))
        .transform(checkpoint)  # feeds every round
    )
    x = spark.range(64).select(
        F.col("id").cast("int").alias("i"),
        F.lit(_GPI_XS).cast("long").alias("x"),
    )
    for _ in range(_GPI_ITERS):
        y = (
            gs.join(x.select(F.col("i").alias("j"), "x"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("gq") * F.col("x")).cast("long").alias("y"))
        )
        m = y.agg(F.max(F.abs(F.col("y"))).cast("long").alias("m"))
        x = (
            y.crossJoin(F.broadcast(m))
            .select("i", F.expr(f"(y * {_GPI_XS}) div m").cast("long").alias("x"))
            .transform(checkpoint)
        )
    return x.select(F.col("i").alias("pos"), F.col("x").alias("v_q10"))


# --- exact MRR@k retrieval evaluation ------------------------------------------------

_MRR_Q = 16


_MRR_K = 10


_MRR_LCM = 2520  # lcm(1..10): every reciprocal rank is an exact integer /2520


def _mrr_oracle() -> str:
    return f"""
    WITH topk AS (
      SELECT query_id, match_id, rk
      FROM ({_brute_oracle_sql(n_queries=_MRR_Q, k=_MRR_K)}) b
    ),
    ql AS (SELECT vec_id, label FROM embeddings),
    rel AS (
      SELECT t.query_id, min(t.rk) AS first_rel
      FROM topk t
      JOIN ql q ON q.vec_id = t.query_id
      JOIN ql m ON m.vec_id = t.match_id
      WHERE q.label = m.label
      GROUP BY 1
    )
    SELECT CAST({_MRR_Q} AS BIGINT) AS n_queries,
           CAST(count(*) AS BIGINT) AS n_hit,
           CAST(coalesce(sum({_MRR_LCM} // first_rel), 0) AS BIGINT) AS mrr_num,
           CAST({_MRR_LCM * _MRR_Q} AS BIGINT) AS mrr_den
    FROM rel
    """


@query(
    "knn_mrr_exact",
    oracle=_mrr_oracle(),
    survey_ref="§2.10 retrieval evaluation: EXACT mean reciprocal rank — "
    "per query the rank of the first same-label neighbor in the "
    "brute-force top-10; reciprocal ranks carried as integers scaled by "
    "lcm(1..10) = 2520 so the MEAN is an exact rational (mrr_num/mrr_den) "
    "— the MRR companion to ivf_recall_at_k and knn_label_accuracy, with "
    "zero float division anywhere",
)
def knn_mrr_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standard retrieval-eval metric made driver-gateable: 1/rank is not
    float-safe to average, but rank ∈ 1..10 makes 2520/rank an exact
    BIGINT, and Σ over queries stays exact. Queries with no same-label
    neighbor in the top-10 contribute 0 (the standard MRR convention).
    Cost: one brute-force top-k over the 16-query set + two label joins
    + one grouped min + one global agg."""
    emb = _emb(spark, sf_dir)
    topk = S.brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _MRR_Q), k=_MRR_K
    )
    lab = emb.select("vec_id", "label")
    rel = (
        topk.join(
            lab.select(F.col("vec_id").alias("query_id"), F.col("label").alias("ql")),
            "query_id",
        )
        .join(
            lab.select(F.col("vec_id").alias("match_id"), F.col("label").alias("ml")),
            "match_id",
        )
        .filter(F.col("ql") == F.col("ml"))
        .groupBy("query_id")
        .agg(F.min("rk").alias("first_rel"))
    )
    return rel.agg(
        F.lit(_MRR_Q).cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_hit"),
        F.coalesce(F.sum(F.expr(f"{_MRR_LCM} div first_rel")), F.lit(0))
        .cast("long")
        .alias("mrr_num"),
        F.lit(_MRR_LCM * _MRR_Q).cast("long").alias("mrr_den"),
    )


# --- all-pairs kNN join (every vector is a query) ----------------------------------

_KNN_JOIN_K = 3


def _knn_join_oracle() -> str:
    """The IVF probe oracle with the query restriction REMOVED — every
    vector probes (spliced from _ivf_oracle_sql so the two stay in sync;
    its DISTINCT over candidates is a no-op here since a pair meets in
    exactly one cid, and k is the only other change)."""
    full = _ivf_oracle_sql(k=_KNN_JOIN_K)
    target = ", cents c WHERE e.vec_id < 8"
    assert full.count(target) == 1
    return full.replace(target, ", cents c")


@query(
    "ivf_knn_self_join",
    oracle=_knn_join_oracle(),
    survey_ref="§2.10 ANN extension: all-pairs batch kNN JOIN — every "
    "corpus vector is a query; candidates via a cid-keyed equi-join with "
    "NEITHER side broadcast (the bounded-query IVF functions broadcast "
    "the query frame — fatal when the query set IS the corpus); the "
    "candidate-generation workhorse behind dedup graphs, related-item "
    "tables and recommendation pipelines",
)
def ivf_knn_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operator: operators/similarity.py::ivf_knn_join (see there for the
    exactly-one-cid no-dedup argument and the AQE-skew note). Same probe
    dial and centroid contract as the interactive IVF path, same
    candidate set per query — this gate's oracle IS the interactive
    oracle with the query filter removed, so the two forms are provably
    the same search at different query-side scales."""
    emb = _emb(spark, sf_dir)
    cents = S.sample_centroids(emb, _FLT_CENTROIDS)
    out = S.ivf_knn_join(emb, k=_KNN_JOIN_K, centroids=cents, n_probe=_FLT_PROBE)
    return out.select(
        "query_id", "match_id", F.round("cosine", 4).alias("cosine"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- incremental Gram fold: mergeable second moments --------------------------------


# Shared VERBATIM with embedding_gram_matrix: merged per-shard Grams must
# equal the one-shot Gram — the moments are associative sums.
@query(
    "gram_incremental_equiv",
    oracle=_GRAM_SQL,
    survey_ref="§2.10 embedding stats: INCREMENTAL Gram maintenance — "
    "per-shard second-moment matrices merged by (i, j) integer addition "
    "must equal the one-shot Gram (oracle shared verbatim with "
    "embedding_gram_matrix); the linear-algebra member of the "
    "incremental-fold family (append_bm25/ivf/scd2/CC/interval-union), "
    "and what lets PCA/whitening stats refresh per ingest batch without "
    "re-touching the corpus",
)
def gram_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G(A ∪ B) = G(A) + G(B) entry-wise because Σ q_i·q_j is associative
    over rows — exact BIGINT, no float drift by construction. The gate
    splits the corpus by vec_id parity, builds each shard's Gram
    independently, and merges with one (i, j)-keyed sum (d²-bounded —
    4160 rows at d=64). Production: persist per-batch Grams next to each
    ingest (the merge_accumulate pattern); the full-corpus matrix is
    always one bounded merge away, and gram_power_iteration's direction
    refreshes from it without a corpus pass."""
    emb = _emb(spark, sf_dir)
    ga = ES.gram_matrix_u6(emb.filter(F.col("vec_id") % 2 == 0), "embedding")
    gb = ES.gram_matrix_u6(emb.filter(F.col("vec_id") % 2 == 1), "embedding")
    return (
        ga.unionByName(gb)
        .groupBy("i", "j")
        .agg(
            F.sum("g").cast("long").alias("g"),
            F.sum("n").cast("long").alias("n"),
        )
    )


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
    fold, checkpoint of the O(n) state vector — the canonical
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
        .transform(checkpoint)
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
            .transform(checkpoint)
        )
    rad = state.agg(F.max("mind").alias("radius2"))
    out = sels[0]
    for s in sels[1:]:
        out = out.unionByName(s)
    return out.crossJoin(F.broadcast(rad))


# --- exact MAP@k retrieval evaluation -------------------------------------------

_MAP_Q = 16


_MAP_K = 10


_MAP_LCM = 2520  # lcm(1..10)


def _map_oracle() -> str:
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
