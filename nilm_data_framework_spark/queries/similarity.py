"""§2.10 similarity-search queries over ``embeddings`` (array<float>, dim 64).

ALL variants — brute force AND the LSH / IVF approximate paths — are fully
oracle-checked: the hyperplanes and centroid choices are deterministic, so
DuckDB replays bucketing/probing/ranking end-to-end. Their
recall-vs-bruteforce contracts are additionally tested in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import dedup  # noqa: F401 (tag grouping)
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table

N_QUERIES = 8
TOP_K = 5


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize: 64-dim dot products over a small single-file scan would
    # otherwise run on one core.
    return load_table(spark, sf_dir, "embeddings", parallelize=True)


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
    cos = S.cosine(F.col("a.embedding"), F.col("b.embedding"))
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
    from pyspark.sql import Window

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
        .withColumn("cos", S.cosine(F.col("qv"), F.col("cv")))
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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

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
    import os
    import tempfile

    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

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
    import os
    import tempfile

    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

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
