"""Similarity search over embedding columns (SURVEY.md §2.10).

Brute-force cosine top-k is the correctness baseline (broadcast the query
set — the corpus never shuffles); random-hyperplane LSH bucketing is the
scale path (candidate generation touches only same-bucket rows).

Column contract: every corpus and query frame carries ``(vec_id,
embedding)`` (plus ``label`` for :func:`hard_negatives`); callers rename
with ``select``/``alias``. Top-k results are per query, ties broken on
match_id.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from nilm_data_framework_spark.layouts import (
    partitioned_writer,
    read_parquet,
    write_schema_sidecar,
)

# seed of the SRP hyperplanes: table t uses LSH_SEED + 1000·t (the oracles
# replay the same planes through _hyperplanes)
LSH_SEED = 42
# bits per packed sign word (sign_words): every word is exact as a BIGINT
# in both engines
WORD_BITS = 32


def dot(a: str, b: str) -> str:
    """Dot product of two array columns, computed in double (JVM-side), as
    SQL text over the SQL operands ``a`` and ``b``: a left fold from 0D in
    component order."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0D, (acc, v) -> acc + v)"
    )


def l2_norm(a: str) -> str:
    """L2 norm of an array column as SQL text (the same left fold as :func:`dot`)."""
    return f"sqrt(aggregate({a}, 0D, (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))"


def cosine(a: str, b: str) -> str:
    """Cosine of two array columns as SQL text; callers wrap it once
    (``F.expr``/``selectExpr``), so building it costs one Py4J call.

    PRECONDITION: non-zero-magnitude vectors. A zero vector divides by
    zero, where the engines DIVERGE: under the session's ANSI mode (the
    Spark 4 default) Spark raises ``[DIVIDE_BY_ZERO]``, while DuckDB yields
    NaN/inf (NaN sorts FIRST), so no oracle can replay a zero vector. Filter
    or impute zero vectors upstream; pinning a semantic in one engine alone
    cannot make the oracles agree."""
    return f"{dot(a, b)} / ({l2_norm(a)} * {l2_norm(b)})"


def _corpus(df: DataFrame, *extra: str) -> DataFrame:
    """Corpus side of a similarity join: ``(match_id, cv, *extra)``, the
    extras as SQL text."""
    return df.selectExpr("vec_id AS match_id", "embedding AS cv", *extra)


def _queries(df: DataFrame, *extra: str) -> DataFrame:
    """Query side of a similarity join: ``(query_id, qv, *extra)``, the
    extras as SQL text."""
    return df.selectExpr("vec_id AS query_id", "embedding AS qv", *extra)


def _topk(df: DataFrame, order: str, k: int) -> DataFrame:
    """Per-query top-k: rank each query's candidates by the SQL score
    ordering ``order`` (e.g. ``"cosine DESC"``; ties → lower match_id) as
    ``rk`` and keep ranks ≤ k — the global top-k merge after local pruning
    (REPOSE, ICDE 2021) every operator here ends with."""
    rank = f"row_number() OVER (PARTITION BY query_id ORDER BY {order}, match_id)"
    return df.withColumn("rk", F.expr(rank)).filter(f"rk <= {int(k)}")


def _join_back(shortlist: DataFrame, corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """Second stage of the shortlist ANN operators: the raw vectors
    (``cv``/``qv``) join back onto a ``(query_id, match_id, …)`` shortlist,
    so the Q×N window shuffle that built it carried ids only and the exact
    re-rank scores Q×shortlist rows."""
    return shortlist.join(_corpus(corpus), "match_id").join(
        F.broadcast(_queries(queries)), "query_id"
    )


def _int_dot(a: Column, b: Column) -> Column:
    """Exact BIGINT dot product of two integer array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k: for each query vector, the k nearest corpus
    vectors (self-matches excluded). The query side broadcasts; scoring is a
    broadcast nested-loop join + per-query row_number — the corpus is
    scanned once, never shuffled by pair."""
    scored = _corpus(corpus).join(
        F.broadcast(_queries(queries)), F.col("match_id") != F.col("query_id")
    ).withColumn("cosine", F.expr(cosine("qv", "cv")))
    return _topk(scored, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def truncated_prefix_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    prefix_dim: int,
    shortlist: int,
) -> DataFrame:
    """Matryoshka-style two-stage ANN (Kusupati et al., arXiv:2205.13147:
    MRL-trained embeddings rank usefully under prefix truncation): shortlist
    per query by cosine over the first ``prefix_dim`` dimensions, then
    re-rank the shortlist with the FULL vector and keep top ``k``.

    Scale shape: identical join topology to :func:`brute_force_topk`
    (queries broadcast, corpus scanned once, never shuffled by pair), but
    the first-stage arithmetic touches prefix_dim/dim of the floats — at
    100 TB the prefix lives as its own column (or a separate narrow table),
    so column pruning makes the shortlist scan read prefix_dim * 4 bytes
    per vector instead of the full embedding; only the shortlist rows
    (|Q| * shortlist of the corpus) ever evaluate the full-width cosine,
    after the shortlist joins the full vectors back (:func:`_join_back`).
    Both stages break ties on match_id, so shortlist membership and the
    final ranking are deterministic and cross-engine replayable.
    """
    scored = _corpus(corpus).join(
        F.broadcast(_queries(queries)), F.col("match_id") != F.col("query_id")
    ).select(
        "query_id",
        "match_id",
        F.expr(
            cosine(f"slice(qv, 1, {prefix_dim})", f"slice(cv, 1, {prefix_dim})")
            + " AS cos_prefix"
        ),
    )
    short = _topk(scored, "cos_prefix DESC", shortlist).select("query_id", "match_id")
    rer = _join_back(short, corpus, queries).withColumn("cosine", F.expr(cosine("qv", "cv")))
    return _topk(rer, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    return [
        [rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)
    ]


def array_lit(nested) -> str:
    """Constant (nested) double-array literal as SQL text, so the caller's
    one ``F.expr`` parses the whole constant JVM-side in ONE Py4J call.

    ``F.lit([...])`` round-trips to the JVM per element (~0.3 ms each), so a
    plane matrix built that way costs seconds of plan-build time. The text
    nests into the SQL-text kernels (:func:`_nearest`, the SRP bucketing)
    unchanged; each element renders as a ``D`` double literal (a bare
    ``0.5`` is a DECIMAL in Spark SQL).
    """

    def render(x) -> str:
        if isinstance(x, (list, tuple)):
            return "array(" + ",".join(render(e) for e in x) + ")"
        return repr(float(x)) + "D"

    return render(nested)


def _bucketize_tables(df: DataFrame, idname: str, tables: list) -> DataFrame:
    """(id, vec) → one row per (id, table, SRP bucket). All tables in one
    nested literal + one transform: the per-table expression-build loop was
    the dominant plan-build cost. Bit i of a table's bucket id is
    sign(vec·plane_i), folded as the sum of 2^i."""
    vec = f"{idname}_v"
    bits = (
        f"transform(planes, (p, i) -> CASE WHEN {dot(vec, 'p')} > 0"
        " THEN power(2D, CAST(i AS DOUBLE)) ELSE 0D END)"
    )
    buckets = (
        f"transform({array_lit(tables)}, (planes, t) -> struct(CAST(t AS INT) AS tbl,"
        f" CAST(aggregate({bits}, 0D, (acc, v) -> acc + v) AS BIGINT) AS bkt))"
    )
    return (
        df.selectExpr(f"vec_id AS {idname}", f"embedding AS {vec}")
        .selectExpr(idname, vec, f"explode({buckets}) AS tb")
        .select(idname, vec, "tb.tbl", "tb.bkt")
    )


def _lsh_rank_candidates(cb: DataFrame, qb: DataFrame, k: int) -> DataFrame:
    """Shared candidate-join + dedup + rank tail of the SRP-LSH top-k
    variants. Scores BEFORE deduping: every duplicate candidate has the
    same cosine, so the dedup shuffle carries one double instead of two
    dim-width vectors (first() is deterministic here — all values equal
    per pair; TIES.md)."""
    cand = (
        cb.join(F.broadcast(qb), on=["tbl", "bkt"])
        .filter("match_id != query_id")
        .withColumn("cosine", F.expr(cosine("query_id_v", "match_id_v")))
        .groupBy("query_id", "match_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    return _topk(cand, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
) -> DataFrame:
    """Approximate cosine top-k: score only candidates sharing an LSH bucket
    with the query in ≥1 of ``n_tables`` hash tables. At 100 TB the corpus
    is bucketed once (a cheap narrow projection) and the join shuffles on
    (table, bucket) — recall tunes with n_planes/n_tables."""
    tables = [
        _hyperplanes(dim, n_planes, LSH_SEED + 1000 * t) for t in range(n_tables)
    ]
    qb = _bucketize_tables(queries, "query_id", tables)
    cb = _bucketize_tables(corpus, "match_id", tables)
    return _lsh_rank_candidates(cb, qb, k)


def lsh_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 2,
) -> DataFrame:
    """Multi-probe SRP-LSH top-k (the Hamming-1 specialization of Lv et
    al., "Multi-Probe LSH", VLDB'07, to sign-bit buckets): the CORPUS
    stores exactly one bucket per table — unchanged layout and storage —
    while each QUERY additionally probes every bucket at Hamming distance
    1 from its own (flip each of the n_planes sign bits). A near neighbor
    that lands one hyperplane-side away from the query is recovered
    without another whole hash table, which is the production tradeoff:
    probe count is a QUERY-side dial (n_planes extra bucket lookups, each
    a key-pruned join), table count is a STORAGE dial (another corpus
    replica per table). The candidate set is a strict superset of
    lsh_topk's at equal (n_planes, n_tables) — recall can only go up.
    Plan shape is identical to lsh_topk: one (tbl, bkt) equi-join, dedup
    agg, per-query rank."""
    tables = [
        _hyperplanes(dim, n_planes, LSH_SEED + 1000 * t) for t in range(n_tables)
    ]
    cb = _bucketize_tables(corpus, "match_id", tables)
    qb0 = _bucketize_tables(queries, "query_id", tables)
    # mask 0 = the base bucket; mask 2^i flips sign bit i. Plain-column
    # outer ref inside the HOF lambda (not a computed array — the repo's
    # HOF let-binding trap does not apply).
    masks = F.array(
        F.lit(0).cast("long"),
        *[F.lit(1 << i).cast("long") for i in range(n_planes)],
    )
    qb = qb0.select(
        "query_id",
        "query_id_v",
        "tbl",
        F.explode(F.transform(masks, lambda m: F.col("bkt").bitwiseXOR(m))).alias(
            "bkt"
        ),
    )
    return _lsh_rank_candidates(cb, qb, k)


def sample_centroids(corpus: DataFrame, n: int, method: str = "hash") -> list[list[float]]:
    """Pick ``n`` corpus vectors as IVF seed centroids, content-addressed:
    keep rows with ``md5(vec_id) < '2'`` (a deterministic 1/8 Bernoulli any
    engine can recompute), then take the ``n`` smallest md5s of that
    subset. Costs one cheap hash per row; the ordered take's heap only sees
    ~N/8 rows, and the DuckDB oracles replay the pick bit for bit.
    ``method`` names that sampler; ``"hash"`` is the only one.

    At 100 TB this does not run per query: centroids are trained once
    (kmeans_step iterations) and passed to :func:`ivf_topk` via
    ``centroids=`` (or to :func:`write_ivf_corpus` /
    :func:`ivf_topk_partitioned`), making per-query centroid cost zero.
    """
    if method != "hash":
        raise ValueError(f"sample_centroids: unknown method {method!r} (only 'hash')")
    h = F.md5(F.col("vec_id").cast("string"))
    rows = (
        corpus.filter(h < F.lit("2"))
        .select("embedding", h.alias("_h"))
        .orderBy("_h")
        .limit(n)
        .collect()
    )
    return [[float(x) for x in row[0]] for row in rows]


def _nearest(cents: str, n: int) -> str:
    """SQL text: the ``n`` centroids nearest to the row's ``embedding`` by
    cosine, nearest first, as (negcos, cid) structs (ties → lower cid, by
    struct ordering; a query's cids are distinct). ``cents`` is the
    operator's one :func:`array_lit` of the centroid list (centroid index =
    cid)."""
    return (
        f"slice(array_sort(transform({cents}, (cv, i) -> struct("
        f"-({cosine('embedding', 'cv')}) AS negcos, CAST(i AS INT) AS cid))), 1, {n})"
    )


def _probe_cids(vecs: list, centroids: list[list[float]], n_probe: int) -> list[list[int]]:
    """The driver twin of :func:`_nearest`: each query vector's ``n_probe``
    nearest centroid ids, nearest first, bit-equal to the JVM pick.

    Spark folds every dot product and squared norm from 0D in component
    order, so each sum here is one vectorised add per dimension in that
    order (``np.dot``/``np.sum`` sum in another order, which can flip a
    near-tie); the products, ``sqrt`` and the division are IEEE on both
    sides. Ranks go by (−cosine, cid), the struct order of ``_nearest``.
    A zero-norm query or centroid raises: NumPy would return NaN where
    Spark's ANSI division raises ``[DIVIDE_BY_ZERO]``."""
    c = np.asarray(centroids, dtype=np.float64)
    q = np.asarray(vecs, dtype=np.float64).reshape(len(vecs), c.shape[1])
    dots = np.zeros((len(q), len(c)))
    q_sq = np.zeros(len(q))
    c_sq = np.zeros(len(c))
    for j in range(c.shape[1]):
        dots += q[:, j, None] * c[:, j]
        q_sq += q[:, j] * q[:, j]
        c_sq += c[:, j] * c[:, j]
    denom = np.sqrt(q_sq)[:, None] * np.sqrt(c_sq)
    if (denom == 0).any():
        raise ZeroDivisionError(
            "[DIVIDE_BY_ZERO] a zero-norm query or centroid has no cosine"
        )
    negcos = -(dots / denom)
    cid = np.broadcast_to(np.arange(len(c)), negcos.shape)
    return np.lexsort((cid, negcos))[:, :n_probe].tolist()


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: assign every corpus vector to its nearest
    centroid (coarse quantizer), search only the ``n_probe`` centroids
    closest to each query. Pass precomputed/trained ``centroids`` for the
    production path (zero per-query selection cost); otherwise they are
    seeded via :func:`sample_centroids`. Scale: corpus partitioned by
    centroid id = partition pruning for vector search.

    PRECONDITION: vec_ids are unique within the corpus and within the
    queries. Each corpus vector then sits in exactly one list and each
    query's probe cids are distinct, so every (query_id, match_id) pair
    meets in exactly one cid and needs no dedup aggregate."""
    cents = centroids if centroids is not None else sample_centroids(corpus, n_centroids)
    # one nested literal (centroid index = cid) — see array_lit on why.
    cent_arr = array_lit(cents)
    c = _corpus(corpus, f"{_nearest(cent_arr, 1)}[0].cid AS cid")
    q = _queries(
        queries, f"explode(transform({_nearest(cent_arr, n_probe)}, s -> s.cid)) AS cid"
    )
    cand = (
        c.join(F.broadcast(q), on="cid")
        .filter("match_id != query_id")
        .withColumn("cosine", F.expr(cosine("qv", "cv")))
    )
    return _topk(cand, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def ivf_knn_join(
    corpus: DataFrame,
    k: int,
    centroids: list[list[float]],
    n_probe: int = 4,
) -> DataFrame:
    """All-pairs approximate kNN over the corpus — EVERY vector is a query
    (the batch kNN-join behind dedup graphs, related-item tables and
    recommendation candidate generation), in the shape that survives an
    sf-scaled query side: a cid-keyed EQUI-JOIN with NEITHER side
    broadcast.

    The bounded-query functions (:func:`ivf_topk`,
    :func:`ivf_topk_partitioned`) broadcast the query frame — correct for
    interactive top-k, fatal when the query set IS the corpus (an
    sf-scaled broadcast is exactly what the repo's hint guard forbids).
    Here both sides shuffle once on cid: the build side carries each
    vector's single assigned list, the probe side explodes each vector
    into its ``n_probe`` nearest lists, so a candidate pair meets in
    EXACTLY one cid (the build vector's own) — no dedup aggregate needed.
    Hot lists (dense regions) are AQE-skew-splittable; at 100 TB this
    composes with the persisted layout (probe side scans the
    cid-partitioned corpus once, already co-located on the join key).
    Returns (query_id, match_id, cosine, rk) with rk ≤ k per query,
    ties broken on match_id (the uniform similarity-family policy)."""
    cent_arr = array_lit(centroids)
    c = _corpus(corpus, f"{_nearest(cent_arr, 1)}[0].cid AS cid")
    q = _queries(
        corpus, f"explode(transform({_nearest(cent_arr, n_probe)}, s -> s.cid)) AS cid"
    )
    cand = (
        c.join(q, on="cid")
        .filter("match_id != query_id")
        .withColumn("cosine", F.expr(cosine("qv", "cv")))
    )
    return _topk(cand, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def assign_centroids(corpus: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine (ties → lower
    centroid index), via a per-row argmax over a one-call centroid literal —
    no shuffle, no join; the centroid list rides into the task closure like
    a broadcast variable. Returns the corpus's columns + cid: metadata
    columns (label/lang/tenant) ride along into the partitioned layout,
    which is what makes FILTERED vector search a parquet pushdown instead
    of a join-back (ivf_topk_partitioned's pre_filter)."""
    return corpus.select("*", F.expr(f"{_nearest(array_lit(centroids), 1)}[0].cid AS cid"))


def semantic_dedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.35,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): embedding-level
    semantic deduplication made tractable by k-means blocking. Every vector
    is assigned to its nearest centroid; within each cluster, a vector is
    DROPPED when a lower-id clustermate has cosine >= ``threshold`` with it
    (keep-min-id, the same survivor rule as exact dedup). Returns survivors
    as (vec_id, cid).

    Scale shape — the whole point of the paper: candidate pairs form ONLY
    inside a cluster (equi-join on cid), never across the corpus, so the
    quadratic term is bounded by the largest cluster, which k (``n_centroids``)
    controls; at 100 TB you raise k so clusters stay ~1e4-1e5 vectors.
    Assignment itself is a shuffle-free per-row argmax
    (:func:`assign_centroids`); the survivor pick is one left_anti join on
    the dropped-id set. Centroids come pre-trained in production
    (``centroids=``); the default is the oracle-replayable hash sample.
    """
    cents = centroids if centroids is not None else sample_centroids(corpus, n_centroids)
    assigned = assign_centroids(corpus, cents)
    a = assigned.select(
        F.col("vec_id").alias("_id_a"), F.col("cid"), F.col("embedding").alias("_va")
    )
    b = assigned.select(
        F.col("vec_id").alias("_id_b"), F.col("cid"), F.col("embedding").alias("_vb")
    )
    dropped = (
        a.join(b, "cid")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(F.expr(f"{cosine('_va', '_vb')} >= {float(threshold)!r}D"))
        .select(F.col("_id_b").alias("vec_id"))
        .distinct()
    )
    return assigned.select("vec_id", "cid").join(dropped, "vec_id", "left_anti")


def kmeans_step(corpus: DataFrame, centroids: DataFrame) -> DataFrame:
    """One Lloyd iteration for the IVF coarse quantizer: assign every vector
    to its nearest centroid by cosine (ties → lower cid), then emit updated
    centroids as element-wise means, FLAT as (cid, pos, c_val).

    ``centroids`` carries (cid int, cv array<double>). Scale shape: the
    centroid table broadcasts; assignment is a per-row argmax (no shuffle);
    the update is posexplode + one hash aggregation on (cid, pos) — iterate
    by feeding the re-assembled output back in. Flat output keeps the driver
    oracle value-exact; assemble arrays with collect_list over pos when an
    array form is needed.
    """
    scored = corpus.select(
        F.col("vec_id").alias("_id"), F.col("embedding").alias("_v")
    ).crossJoin(F.broadcast(centroids)).withColumn(
        "_cos", F.expr(cosine("_v", "cv"))
    )
    w = Window.partitionBy("_id").orderBy(F.col("_cos").desc(), F.col("cid"))
    assigned = scored.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    flat = assigned.select("cid", F.posexplode("_v").alias("pos", "val"))
    # c_val (float mean) drives in-session iteration; c_num/c_den are the
    # EXACT fixed-point form (sum of 1e-6-truncated components / count) the
    # driver gate compares — a float mean's accumulation order diverges
    # across engines at a 4dp round boundary (observed at sf0.1, r5)
    return flat.groupBy("cid", "pos").agg(
        F.avg("val").alias("c_val"),
        F.sum(F.floor(F.col("val") * 1000000).cast("long")).alias("c_num"),
        F.count(F.lit(1)).alias("c_den"),
    )


def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance between two equal-length array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, v: s + v
    )


def _adc(codebook: list[list[list[float]]]) -> Column:
    """Asymmetric PQ distance of query ``qv`` to the coded corpus row:
    ``Σ_m L2²(sub_m(qv), codebook[m][codes[m]])`` — table lookups against
    one codebook literal, never the raw corpus floats."""
    dsub = len(codebook[0][0])
    cb = F.expr(array_lit(codebook))
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(len(codebook) - 1)),
        F.lit(0.0),
        lambda acc, mi: acc
        + l2_sq(
            F.slice(F.col("qv"), mi * dsub + 1, dsub),
            F.element_at(F.element_at(cb, mi + 1), F.element_at("codes", mi + 1) + 1),
        ),
    )


def pq_codebook(corpus: DataFrame, n_sub: int, ksub: int) -> list[list[list[float]]]:
    """Product-quantization codebook: ``ksub`` oracle-replayable corpus
    samples (:func:`sample_centroids`) split into ``n_sub`` contiguous
    subvectors: ``codebook[m][j]`` is subspace ``m`` of sample ``j``. A
    k-means-refined codebook (per-subspace :func:`kmeans_step` on the
    slices) drops in without changing any downstream plan shape."""
    samples = sample_centroids(corpus, ksub)
    dim = len(samples[0])
    dsub = dim // n_sub
    return [
        [s[m * dsub : (m + 1) * dsub] for s in samples] for m in range(n_sub)
    ]


def pq_encode(df: DataFrame, codebook: list[list[list[float]]]) -> DataFrame:
    """PQ encode ``embedding`` into ``codes``:
    ``codes[m] = argmin_j L2²(sub_m(vec), codebook[m][j])`` (ties →
    smallest j, via struct ordering on (dist, j)).

    The code array is M small ints per vector — at 100 TB this is the point:
    the corpus compresses ~dim·4/M bytes per vector (64-dim float → 8 bytes
    at M=8), the codes table rewrites once, and queries scan codes instead
    of raw vectors. Pure JVM column arithmetic; the codebook ships as one
    SQL literal (see :func:`array_lit`)."""
    n_sub = len(codebook)
    dsub = len(codebook[0][0])
    cb = F.expr(array_lit(codebook))  # [M][K][dsub]
    sub = lambda v, mi: F.slice(v, mi * dsub + 1, dsub)  # noqa: E731
    codes = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda mi: F.array_min(
            F.transform(
                F.element_at(cb, mi + 1),
                lambda c, j: F.struct(
                    l2_sq(sub(F.col("embedding"), mi), c).alias("d"), j.alias("j")
                ),
            )
        )["j"],
    )
    return df.withColumn("codes", codes)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_sub: int = 8,
    ksub: int = 16,
    codebook: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ/ADC approximate top-k: corpus vectors are replaced by their code
    arrays; per (query, corpus) pair the asymmetric distance (:func:`_adc`)
    is looked up against the broadcast codebook, never the raw corpus
    floats. Smallest distance wins; ties break on match_id.

    Scale: encode once (narrow projection, no shuffle), store codes; query
    scoring reads M ints/vector instead of dim floats (~32× less IO at
    dim=64/M=8) with the query side broadcast — same scan-once shape as
    brute force but over the compressed table. Compose with IVF bucketing
    for sub-linear candidate generation (IVF-PQ)."""
    cbook = codebook if codebook is not None else pq_codebook(corpus, n_sub, ksub)
    encoded = pq_encode(corpus, cbook).select(
        F.col("vec_id").alias("match_id"), F.col("codes").alias("codes")
    )
    scored = encoded.join(
        F.broadcast(_queries(queries)), F.col("match_id") != F.col("query_id")
    ).withColumn("approx_d", _adc(cbook))
    return _topk(scored, "approx_d", k).select(
        "query_id", "match_id", "approx_d", "rk"
    )


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int = 50,
    n_sub: int = 8,
    ksub: int = 16,
    codebook: list[list[list[float]]] | None = None,
) -> DataFrame:
    """PQ shortlist + exact re-rank — how production PQ is actually used
    (FAISS IVF-PQ style): the compressed-domain ADC scan picks ``rerank``
    candidates per query, then ONLY those candidates load their raw vectors
    for exact L2 scoring and the final top-k. The expensive exact math
    touches Q×rerank rows instead of Q×N; the N-sized scan reads codes
    (M ints) not vectors (dim floats). Ties break on match_id at both
    stages, so the result is deterministic and oracle-replayable."""
    shortlist = pq_topk(corpus, queries, rerank, n_sub, ksub, codebook).select(
        "query_id", "match_id"
    )
    exact = _join_back(shortlist, corpus, queries).withColumn(
        "dist", l2_sq(F.col("qv"), F.col("cv"))
    )
    return _topk(exact, "dist", k).select("query_id", "match_id", "dist", "rk")


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    n_centroids: int = 16,
    n_probe: int = 4,
    rerank: int = 20,
    n_sub: int = 8,
    ksub: int = 16,
) -> DataFrame:
    """IVF-PQ: the production ANN composition (FAISS IVFPQ shape) — coarse
    quantizer prunes to ``n_probe`` inverted lists per query, the ADC scan
    scores ONLY those candidates against the broadcast codebook, and the
    exact re-rank touches just Q×``rerank`` raw vectors.

    This is the 100 TB read path promised in SCALE.md: the corpus is stored
    once as (cid, codes) — partitionable BY cid, so probing = partition
    pruning — and a query reads M ints per candidate in probed lists only.
    Cost per query: n_probe/n_centroids of the codes table + ``rerank`` raw
    vectors, vs the full float corpus for brute force. Every choice
    (centroid sample, codebook, ties) is deterministic → DuckDB replays the
    whole composition.
    """
    cent_arr = array_lit(sample_centroids(corpus, n_centroids))
    cbook = pq_codebook(corpus, n_sub, ksub)
    # stored form of the corpus: (cid, codes) — encode + assign, one narrow pass
    coded = pq_encode(corpus, cbook).select(
        F.col("vec_id").alias("match_id"),
        F.expr(f"{_nearest(cent_arr, 1)}[0].cid AS cid"),
        "codes",
    )
    q = _queries(
        queries, f"explode(transform({_nearest(cent_arr, n_probe)}, s -> s.cid)) AS cid"
    )
    # each corpus vector lives in exactly one list and probe cids are
    # distinct per query → (query_id, match_id) is already unique, no dedup
    scored = (
        coded.join(F.broadcast(q), on="cid")
        .filter("match_id != query_id")
        .withColumn("approx_d", _adc(cbook))
    )
    shortlist = _topk(scored, "approx_d", rerank).select(
        "query_id", "match_id"
    )
    exact = _join_back(shortlist, corpus, queries).withColumn(
        "dist", l2_sq(F.col("qv"), F.col("cv"))
    )
    return _topk(exact, "dist", k).select("query_id", "match_id", "dist", "rk")


def hard_negatives(corpus: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the ``k``
    most cosine-similar corpus vectors with a DIFFERENT ``label`` — the
    standard batch-mining step for embedding-model training
    (high-similarity, wrong-class examples are the gradient-rich
    negatives). Same plan shape as :func:`brute_force_topk` — anchor side
    broadcast, corpus scanned once and never shuffled by pair — plus the
    label-mismatch predicate evaluated inside the broadcast join, so
    disqualified pairs die before scoring.

    At 100 TB the anchor set is a training batch (10³-10⁴ rows, genuinely
    broadcast-sized by construction); for anchor sets that outgrow broadcast,
    the LSH/IVF bucketed paths compose the same way (mismatch filter inside
    the bucket join).
    """
    q = _queries(queries, "label AS q_label")
    c = _corpus(corpus, "label AS c_label")
    scored = c.join(
        F.broadcast(q), F.col("c_label") != F.col("q_label")
    ).withColumn("cosine", F.expr(cosine("qv", "cv")))
    return _topk(scored, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def sign_words(vec: Column, dim: int) -> Column:
    """Binary (1-bit) quantization: pack the sign pattern of ``vec`` into an
    array of ``dim // WORD_BITS`` non-negative integer words (bit j of word
    w is set iff vec[w*WORD_BITS + j] >= 0, MSB-first inside the word).
    32-bit words keep every value exactly representable as a BIGINT in both
    engines (no signed-64 overflow edge at bit 63).

    The packing is a pure per-row HOF expression — each word is
    Σ_j sign_bit · 2^(WORD_BITS-1-j), a sum of exact powers of two — so
    codes are bit-identical cross-engine and the whole binary index is a
    narrow projection (no shuffle, 32× smaller than float32 vectors)."""
    def word(w: int) -> Column:
        # MSB-first: folding acc*2 + bit gives the first element weight
        # 2^(WORD_BITS-1) — same layout as the oracle's 1<<(WORD_BITS-j) sum.
        return F.aggregate(
            F.slice(vec, w * WORD_BITS + 1, WORD_BITS),
            F.lit(0).cast("long"),
            lambda acc, v: acc * 2
            + F.when(v.cast("double") >= 0, 1).otherwise(0).cast("long"),
        )

    return F.array(*[word(w) for w in range(dim // WORD_BITS)])


def hamming_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    rerank: int = 48,
) -> DataFrame:
    """Binary-quantization ANN (the 1-bit extreme of the int8/PQ compression
    family): shortlist by Hamming distance between sign words —
    Σ_w bit_count(xor(qw, cw)), integer-exact — then exact cosine re-rank of
    the ``rerank`` survivors. Charikar's SRP-LSH result makes Hamming on
    sign bits a cosine proxy (E[hamming] ∝ angle); modern vector DBs ship
    exactly this as "binary quantization + rescore".

    Ties break (hamming, match_id) / (cosine desc, match_id) so both stages
    replay deterministically. Scale: the Hamming scan reads dim/8 bytes per
    vector (32× less than float32), query side broadcast, corpus never
    shuffled; the exact math touches Q×rerank rows. The sign words are a
    narrow projection — at 100 TB they live as their own column (column
    pruning keeps the shortlist scan tiny), same layout argument as the
    matryoshka prefix path."""
    c = corpus.select(
        F.col("vec_id").alias("match_id"), sign_words(F.col("embedding"), dim).alias("cw")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), sign_words(F.col("embedding"), dim).alias("qw")
    )
    hamming = F.aggregate(
        F.zip_with(
            "qw", "cw",
            lambda a, b: F.bit_count(a.bitwiseXOR(b)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    scored = c.join(
        F.broadcast(q), F.col("match_id") != F.col("query_id")
    ).select("query_id", "match_id", hamming.alias("hamming"))
    shortlist = _topk(scored, "hamming", rerank).select(
        "query_id", "match_id", "hamming"
    )
    rer = _join_back(shortlist, corpus, queries).withColumn("cosine", F.expr(cosine("qv", "cv")))
    return _topk(rer, "cosine DESC", k).select(
        "query_id", "match_id", "hamming", "cosine", "rk"
    )


def write_ivf_corpus(corpus: DataFrame, path: str, centroids: list[list[float]]) -> None:
    """Persist the IVF layout SCALE.md's similarity row promises: the
    corpus WRITTEN partitioned by centroid id, so probing becomes parquet
    PARTITION PRUNING — a query touching n_probe of n_centroids lists
    reads only those directories, no filter evaluation over the rest.

    Centroid assignment is the shuffle-free per-row argmax
    (:func:`assign_centroids`); the only data movement is the writer's
    own partitioned layout, through ``layouts.partitioned_writer``: one
    file per cid list (a list larger than the advisory partition size is
    split into files of about that size). Same production contract as
    the persisted LSH reference (operators/dedup.py::write_lsh_reference):
    centroids are trained once offline and must be the SAME list at
    write and probe time — :func:`ivf_topk_partitioned` takes them
    explicitly so the caller owns that invariant. The layout's schema is recorded as
    ``{path}/_schema.json`` so its readers skip schema inference
    (nilm_data_framework_spark/layouts.py).
    """
    assigned = assign_centroids(corpus, centroids)
    partitioned_writer(assigned, ["cid"]).mode("overwrite").parquet(path)
    write_schema_sidecar(corpus.sparkSession, path, assigned.schema)


def ivf_topk_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    centroids: list[list[float]],
    n_probe: int = 4,
    pre_filter: Column | None = None,
) -> DataFrame:
    """IVF top-k against a :func:`write_ivf_corpus` layout: the probed
    centroid ids become a LITERAL partition filter on the corpus scan
    (PushedFilters/PartitionFilters — plan-pinned by
    tests/test_plan_quality.py::test_ivf_persisted_scan_partition_pruned),
    so only n_probe/n_centroids of the corpus directories are read.

    ``queries`` is evaluated exactly ONCE: one collect of its (vec_id,
    embedding) rows. Each query's n_probe centroid ids are picked on the
    driver against the centroids held as a float64 array
    (:func:`_probe_cids`, bit-equal to the JVM's :func:`_nearest`), so no
    centroid literal enters any plan of this operator: the probe set
    reaches Spark only as the literal ``IN`` list above. The broadcast
    query side is rebuilt from the collected rows, one row per (query,
    probed cid), with ``createDataFrame`` (Arrow into a JVM-local
    relation: no second scan, no second Python-worker start for a
    Python-built frame). The collect is bounded by |queries| × dim values
    — query sets are small by contract, the same bounded-collect rule as
    sample_centroids; queries = corpus is :func:`ivf_knn_join`'s job.
    Because the probe set and the joined rows come from the same
    collected rows, a nondeterministic ``queries`` frame cannot yield a
    probe set that disagrees with the joined rows. Results are identical
    to :func:`ivf_topk` with the same centroids because the per-query
    candidate join on cid already restricts to each query's own probes;
    the same unique-vec_id precondition makes every (query_id, match_id)
    pair meet in exactly one cid, so no dedup aggregate runs. A zero-norm
    query or centroid raises ``ZeroDivisionError``, as the JVM pick
    raises ``[DIVIDE_BY_ZERO]``.

    ``pre_filter`` is FILTERED vector search (the metadata-constrained
    ANN every RAG deployment runs — "top-k among docs with lang='de'"):
    a predicate over the layout's metadata columns applied to the SAME
    pruned scan, so Spark pushes it into the parquet reader
    (PushedFilters; row-group stats skip non-matching groups) and
    candidates are restricted BEFORE ranking. That is PRE-filter
    semantics: each query returns up to k MATCHING results drawn from
    its probed lists. The alternative — POST-filter (rank the
    unfiltered top-k, then drop non-matching rows) — returns
    ≤ k·selectivity survivors and loses recall exactly when the filter
    is selective; pre-filter instead loses recall only through the
    probe dial (a matching vector outside the probed lists), the same
    approximation plain IVF already makes, and n_probe can be raised
    per-query to compensate (see the filtered recall gate
    ivf_filtered_recall_at_k). At 100 TB: partition pruning cuts
    directories, the pushed predicate cuts row groups inside them, and
    the cosine evaluates only on surviving rows.
    """
    # the one evaluation of ``queries`` (see the docstring)
    qs = _queries(queries)
    rows = qs.collect()
    cids = _probe_cids([r["qv"] for r in rows], centroids, n_probe)
    pdf = pd.DataFrame(
        [(r["query_id"], r["qv"], cid) for r, probe in zip(rows, cids) for cid in probe],
        columns=["query_id", "qv", "cid"],
    )
    q = spark.createDataFrame(
        pdf, StructType([*qs.schema.fields, StructField("cid", IntegerType(), False)])
    )
    probed = sorted({cid for probe in cids for cid in probe})
    c = read_parquet(spark, path).filter(
        f"cid IN ({', '.join(map(str, probed))})" if probed else "false"
    )
    if pre_filter is not None:
        c = c.filter(pre_filter)
    cand = (
        _corpus(c, "cid")
        .join(F.broadcast(q), on="cid")
        .filter("match_id != query_id")
        .withColumn("cosine", F.expr(cosine("qv", "cv")))
    )
    return _topk(cand, "cosine DESC", k).select("query_id", "match_id", "cosine", "rk")


def append_ivf_batch(batch: DataFrame, path: str, centroids: list[list[float]]) -> None:
    """Incrementally grow a :func:`write_ivf_corpus` layout: assign the new
    batch to the SAME centroids and append its rows into the existing cid
    partition directories (Spark appends per-partition files — the layout
    maintains itself, never rebuilt; the same incremental contract as the
    LSH reference's bucket-spec INSERT). The caller owns centroid
    identity, exactly as for probing; re-clustering (centroid drift after
    heavy growth) is an offline rebuild, not an append. A batch carries
    the layout's columns: readers keep the schema write_ivf_corpus
    recorded."""
    partitioned_writer(assign_centroids(batch, centroids), ["cid"]).mode("append").parquet(path)


def sq8_dim_stats(corpus: DataFrame) -> list[tuple[int, int]]:
    """Per-dimension (min, max) of the 1e-6-floored integer ``embedding`` components —
    the codebook of scalar (int8-style) quantization. Returns a
    ``dim``-long Python list of exact BIGINT bounds.

    The collect here is the sanctioned bounded pattern (cf. the seeded
    k-means centroids): the result is d rows — a property of the SCHEMA,
    not the data — produced by one distributed posexplode + (dim) hash agg
    with map-side combine, so the driver pull is ≤ d tuples at any corpus
    size. At 100 TB the stats pass is a linear scan whose shuffle is
    O(d · partitions), and the bounds feed every later quantize as plan
    literals (the classic train-codebook-once / apply-everywhere split)."""
    from nilm_data_framework_spark.operators.embed_stats import u6_components

    rows = (
        corpus.select(F.posexplode(u6_components("embedding")).alias("i", "q"))
        .groupBy("i")
        .agg(F.min("q").alias("mn"), F.max("q").alias("mx"))
        .collect()
    )
    stats = sorted((r["i"], (r["mn"], r["mx"])) for r in rows)
    return [b for _, b in stats]


def sq8_codes(vec_col: str, stats: list[tuple[int, int]]) -> Column:
    """array<bigint> of 0..255 scalar-quantized codes: per dimension,
    ``(clamp(q6, mn, mx) − mn) · 255 div max(mx − mn, 1)`` over the
    1e-6-floored integer components. Components are CLAMPED into the
    codebook range first (standard scalar-quantizer edge behavior) — this
    is what keeps the arithmetic nonnegative for OUT-OF-SAMPLE vectors
    too: an unclamped query component below the corpus min would hit the
    signed-division divergence (Spark ``div`` truncates toward zero,
    DuckDB ``//`` floors) and escape 0..255. On in-range operands Spark
    ``div`` and DuckDB ``//`` agree, so the codes replay bit-identically
    cross-engine. The bounds are plan literals rendered as ONE SQL text
    expression (the array_lit lesson: no per-element Py4J round-trips)."""
    mn_sql = "array(" + ",".join(f"{int(m)}L" for m, _ in stats) + ")"
    mx_sql = "array(" + ",".join(f"{int(x)}L" for _, x in stats) + ")"
    span_sql = (
        "array(" + ",".join(f"{max(int(x) - int(m), 1)}L" for m, x in stats) + ")"
    )
    return F.expr(
        f"transform(transform({vec_col}, "
        f"x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), "
        f"(q, i) -> ((least(greatest(q, element_at({mn_sql}, i + 1)), "
        f"element_at({mx_sql}, i + 1)) - element_at({mn_sql}, i + 1)) * 255)"
        f" div element_at({span_sql}, i + 1))"
    )


def sq8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    stats: list[tuple[int, int]],
    rerank: int = 48,
) -> DataFrame:
    """Scalar-quantization ANN (the int8 member of the 1-bit/PQ compression
    family, cf. FAISS ScalarQuantizer / vector-DB "SQ8 + rescore"):
    shortlist by the integer dot product of 0..255 codes — 8× smaller than
    float32, exact BIGINT arithmetic (≤ 64·255² per pair, no overflow) —
    then re-rank the ``rerank`` survivors by the exact dot product of the
    1e-6 integer components and keep top ``k``.

    Both stages break ties on match_id, so shortlist membership and the
    final ranking replay deterministically in any engine. Scale shape:
    identical join topology to :func:`brute_force_topk` — queries
    broadcast, corpus scanned once, never shuffled by pair; the code
    column is a narrow projection (column pruning keeps the shortlist
    scan at d bytes/vector), and only Q·rerank rows evaluate the
    full-precision dot. Returns (query_id, match_id, dot_u12, rk) with
    ``dot_u12 = Σ q6·c6`` exact."""
    from nilm_data_framework_spark.operators.embed_stats import u6_components

    c = corpus.select(
        F.col("vec_id").alias("match_id"), sq8_codes("embedding", stats).alias("cc")
    )
    q = queries.select(
        F.col("vec_id").alias("query_id"), sq8_codes("embedding", stats).alias("qc")
    )
    # the shortlist stage carries ONLY (query_id, match_id, dot_sq8)
    # through the per-query window shuffle; the raw vectors join back for
    # the Q×rerank survivors alone (_join_back)
    scored = c.join(
        F.broadcast(q), F.col("match_id") != F.col("query_id")
    ).select("query_id", "match_id", _int_dot(F.col("qc"), F.col("cc")).alias("dot_sq8"))
    shortlist = _topk(scored, "dot_sq8 DESC", rerank).select("query_id", "match_id")
    rer = _join_back(shortlist, corpus, queries).withColumn(
        "dot_u12", _int_dot(u6_components("qv"), u6_components("cv"))
    )
    return _topk(rer, "dot_u12 DESC", k).select("query_id", "match_id", "dot_u12", "rk")
