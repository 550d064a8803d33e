"""ANN contracts: brute force matches NumPy exactly; LSH/IVF results are
subsets of true neighbors with reasonable recall on the synthetic data."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import similarity as S
from tests.conftest import SF_DIR


def _np_topk(emb: dict[int, np.ndarray], query_ids, k):
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids]).astype(np.float64)
    norms = np.linalg.norm(mat, axis=1)
    out = {}
    for q in query_ids:
        qi = ids.index(q)
        cos = (mat @ mat[qi]) / (norms * norms[qi])
        order = sorted(
            (i for i in range(len(ids)) if ids[i] != q),
            key=lambda i: (-cos[i], ids[i]),
        )
        out[q] = [ids[i] for i in order[:k]]
    return out


def _load(spark):
    df = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    emb = {r["vec_id"]: np.array(r["embedding"]) for r in df.collect()}
    return df, emb


def test_bruteforce_matches_numpy(spark):
    df, emb = _load(spark)
    qids = [i for i in sorted(emb) if i < 8]
    got = (
        S.brute_force_topk(df, df.filter(F.col("vec_id") < 8), k=5)
        .orderBy("query_id", "rk")
        .collect()
    )
    by_q: dict[int, list[int]] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(r["match_id"])
    assert by_q == _np_topk(emb, qids, 5)


def test_lsh_recall_and_soundness(spark):
    df, emb = _load(spark)
    qids = [i for i in sorted(emb) if i < 8]
    true = _np_topk(emb, qids, 5)
    # with weakly-similar random vectors (top cosine ~0.4), SRP collision
    # probability per plane is ~0.63, so 4 planes × 6 tables gives expected
    # recall ~0.6; 6+ planes would need far more tables
    got = S.lsh_topk(df, df.filter(F.col("vec_id") < 8), k=5, dim=64, n_planes=4, n_tables=6)
    rows = got.collect()
    # soundness: every reported cosine is the true cosine for that pair
    for r in rows:
        a, b = emb[r["query_id"]].astype(np.float64), emb[r["match_id"]].astype(np.float64)
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine"] - true_cos) < 1e-9
    # recall: with 6 tables of 4 planes, expect >= 40% of true top-5 found
    hits = total = 0
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["match_id"])
    for q in qids:
        total += len(true[q])
        hits += len(by_q.get(q, set()) & set(true[q]))
    assert hits / total >= 0.4, f"LSH recall too low: {hits}/{total}"


def test_truncated_rerank_recall_and_soundness(spark):
    """Matryoshka prefix shortlist + full re-rank: every reported cosine is
    the true full-width cosine, and recall stays reasonable even on
    ISOTROPIC random vectors — the worst case for prefix truncation (real
    MRL-trained embeddings concentrate signal in the prefix; random ones
    spread it uniformly, so 16/64 dims retain only ~sqrt(1/4) of the
    separation)."""
    df, emb = _load(spark)
    qids = [i for i in sorted(emb) if i < 8]
    true = _np_topk(emb, qids, 5)
    rows = S.truncated_prefix_topk(
        df, df.filter(F.col("vec_id") < 8), k=5, prefix_dim=16, shortlist=48
    ).collect()
    for r in rows:
        a = emb[r["query_id"]].astype(np.float64)
        b = emb[r["match_id"]].astype(np.float64)
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine"] - true_cos) < 1e-9
    hits = total = 0
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["match_id"])
    for q in qids:
        total += len(true[q])
        hits += len(by_q.get(q, set()) & set(true[q]))
    assert hits / total >= 0.35, f"truncated re-rank recall too low: {hits}/{total}"


def test_ivf_recall_and_soundness(spark):
    df, emb = _load(spark)
    qids = [i for i in sorted(emb) if i < 8]
    true = _np_topk(emb, qids, 5)
    rows = S.ivf_topk(df, df.filter(F.col("vec_id") < 8), k=5, n_centroids=8, n_probe=4).collect()
    for r in rows:
        a, b = emb[r["query_id"]].astype(np.float64), emb[r["match_id"]].astype(np.float64)
        true_cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(r["cosine"] - true_cos) < 1e-9
    hits = total = 0
    by_q: dict[int, set[int]] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["match_id"])
    for q in qids:
        total += len(true[q])
        hits += len(by_q.get(q, set()) & set(true[q]))
    assert hits / total >= 0.4, f"IVF recall too low: {hits}/{total}"


def test_cosine_expression(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"a": [[1.0, 0.0], [1.0, 1.0]], "b": [[0.0, 1.0], [1.0, 1.0]]})
    )
    got = df.selectExpr(f"{S.cosine('a', 'b')} AS c").collect()
    assert abs(got[0]["c"] - 0.0) < 1e-12
    assert abs(got[1]["c"] - 1.0) < 1e-12


def test_cosine_of_zero_vector_raises(spark):
    """The zero-vector precondition fails loudly: ANSI division raises."""
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<double>, b array<double>")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        df.selectExpr(f"{S.cosine('a', 'b')} AS c").collect()


def test_pq_soundness_and_l2_recall(spark):
    """PQ/ADC: every reported approx distance must equal the NumPy ADC
    distance for the same codebook and codes (encode + lookup parity), and
    compressed-domain top-k must retain reasonable L2 recall."""
    df, emb = _load(spark)
    df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    qids = [i for i in sorted(emb) if i < 8]
    n_sub, ksub, dsub = 8, 16, 8
    cbook = S.pq_codebook(df, n_sub, ksub)
    cb = np.array(cbook)  # [M][K][dsub]
    # NumPy twin: encode all vectors, then ADC distances
    codes = {}
    for vid, v in emb.items():
        v = v.astype(np.float64)
        codes[vid] = [
            int(np.argmin(((v[m * dsub:(m + 1) * dsub] - cb[m]) ** 2).sum(axis=1)))
            for m in range(n_sub)
        ]
    rows = S.pq_topk(df, df.filter(F.col("vec_id") < 8), k=5,
                     n_sub=n_sub, ksub=ksub, codebook=cbook).collect()
    for r in rows:
        q = emb[r["query_id"]].astype(np.float64)
        expect = sum(
            float(((q[m * dsub:(m + 1) * dsub] - cb[m][codes[r["match_id"]][m]]) ** 2).sum())
            for m in range(n_sub)
        )
        assert abs(r["approx_d"] - expect) < 1e-9
    # recall vs true L2 top-5 (ADC approximates L2, not cosine). Raw ADC
    # ranking is weak on near-uniform random vectors (distance
    # concentration), which is exactly why production PQ re-ranks: the
    # shortlist+exact-rerank path must hit decent recall.
    true = {}
    ids = sorted(emb)
    mat = np.stack([emb[i].astype(np.float64) for i in ids])
    for q in qids:
        d = ((mat - emb[q].astype(np.float64)) ** 2).sum(axis=1)
        order = [ids[j] for j in np.argsort(d, kind="stable") if ids[j] != q]
        true[q] = set(order[:5])
    rer = S.pq_rerank_topk(df, df.filter(F.col("vec_id") < 8), k=5, rerank=50,
                           n_sub=n_sub, ksub=ksub, codebook=cbook).collect()
    # soundness: re-ranked distances are the TRUE L2 distances
    for r in rer:
        q, m = emb[r["query_id"]].astype(np.float64), emb[r["match_id"]].astype(np.float64)
        assert abs(r["dist"] - float(((q - m) ** 2).sum())) < 1e-9
    by_q: dict[int, set[int]] = {}
    for r in rer:
        by_q.setdefault(r["query_id"], set()).add(r["match_id"])
    hits = sum(len(by_q.get(q, set()) & true[q]) for q in qids)
    total = sum(len(true[q]) for q in qids)
    assert hits / total >= 0.4, f"PQ+rerank recall too low: {hits}/{total}"


def test_ivf_pq_soundness_and_candidate_scoping(spark):
    """IVF-PQ composition: re-ranked distances are TRUE L2 distances, every
    returned match lies in a probed inverted list of its query, and the
    shortlist bound (k ≤ rerank per query) holds."""
    df, emb = _load(spark)
    df = df.withColumn("embedding", F.col("embedding").cast("array<double>"))
    queries = df.filter(F.col("vec_id") < 8)
    rows = S.ivf_pq_topk(df, queries, k=5, n_centroids=16, n_probe=4, rerank=20).collect()
    assert rows, "IVF-PQ returned nothing"
    for r in rows:
        q = emb[r["query_id"]].astype(np.float64)
        m = emb[r["match_id"]].astype(np.float64)
        assert abs(r["dist"] - float(((q - m) ** 2).sum())) < 1e-9
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    # candidate scoping: match's nearest centroid ∈ query's probed centroids
    cents = np.array(S.sample_centroids(df, 16))

    def cos_to_cents(v):
        v = v.astype(np.float64)
        num = cents @ v
        den = np.linalg.norm(cents, axis=1) * np.linalg.norm(v)
        return num / den

    for qid, rs in by_q.items():
        assert len(rs) <= 5
        probed = set(np.argsort(-cos_to_cents(emb[qid]), kind="stable")[:4])
        for r in rs:
            mcid = int(np.argmax(cos_to_cents(emb[r["match_id"]])))
            assert mcid in probed, f"match {r['match_id']} outside probed lists"


def test_semantic_dedup_survivor_rule(spark):
    # hand-built fixture: ids 0/1 identical (same cluster, cos=1) → 1 drops;
    # id 2 orthogonal-ish → survives. Centroids passed explicitly so the
    # clustering is pinned.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.98, 0.2, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(
        df, threshold=0.9, centroids=[[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    )
    got = {(r["vec_id"], r["cid"]) for r in out.collect()}
    # 1 dropped (dup of 0); 3 dropped (cos with 2 ≈ 0.98/sqrt(1.0404) ≈ 0.961)
    assert got == {(0, 0), (2, 1)}, got


def test_semantic_dedup_cross_cluster_pairs_never_compared(spark):
    # two identical vectors forced into DIFFERENT clusters must BOTH survive:
    # blocking means near-dups split across clusters are not compared (the
    # recall/cost trade SemDeDup makes explicit).
    rows = [
        (0, [1.0, 1.0, 0.0, 0.0]),
        (1, [1.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = S.semantic_dedup(
        df, threshold=0.5,
        centroids=[[1.0, 0.999, 0.0, 0.0], [0.999, 1.0, 0.0, 0.0]],
    )
    # tie-break on cosine is identical for both rows (same vector) → both go
    # to the SAME cluster (lower cid) and one drops: this pins the tie rule.
    got = sorted(r["vec_id"] for r in out.collect())
    assert got == [0], got
