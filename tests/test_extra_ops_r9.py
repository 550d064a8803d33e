"""Round-9 kernel contracts: filtered vector search, LSH reference append,
personalized PageRank. The DuckDB gates in queries/graph.py prove
cross-engine exactness; these tests pin the OPERATOR-level equivalences the
gates rely on."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import dedup as D
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir
from tests.conftest import SF_DIR


def _emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def test_filtered_ivf_equals_ivf_over_prefiltered_corpus(spark):
    # pre-filter pushed into the pruned scan must equal running the SAME
    # probe (same trained centroids, same probe dial) over a corpus that
    # was filtered before indexing: the predicate only removes candidates,
    # it never changes assignment or probing.
    emb = _emb(spark)
    cents = S.sample_centroids(emb, 8)
    queries = emb.filter(F.col("vec_id") < 5)
    pred = F.col("label") == 3
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_test_ivf_flteq"), "c_"
    )
    S.write_ivf_corpus(emb, path, cents)
    got = (
        S.ivf_topk_partitioned(
            spark, path, queries, k=4, centroids=cents, n_probe=3,
            pre_filter=pred,
        )
        .select("query_id", "match_id", "rk")
        .collect()
    )
    want = (
        S.ivf_topk(
            emb.filter(pred), queries, k=4, n_probe=3, centroids=cents
        )
        .select("query_id", "match_id", "rk")
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert len(got) > 0


def test_filtered_ivf_results_all_match_predicate(spark):
    emb = _emb(spark)
    cents = S.sample_centroids(emb, 8)
    queries = emb.filter(F.col("vec_id") < 5)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_test_ivf_fltpred"), "c_"
    )
    S.write_ivf_corpus(emb, path, cents)
    out = S.ivf_topk_partitioned(
        spark, path, queries, k=4, centroids=cents, n_probe=3,
        pre_filter=F.col("label") == 3,
    )
    labels = {
        r["label"]
        for r in out.join(
            emb.select(F.col("vec_id").alias("match_id"), "label"), "match_id"
        )
        .select("label")
        .collect()
    }
    assert labels == {3}


def test_append_lsh_reference_equals_one_shot(spark):
    # segment algebra: write(A) + append(B) must screen a probe batch
    # identically to a one-shot reference over A ∪ B — same candidates,
    # same verified pairs, same jaccard.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ref = docs.filter(F.col("doc_id") % 3 != 2)
    probe = docs.filter(F.col("doc_id") % 3 == 2)
    a = ref.filter(F.col("doc_id") % 2 == 0)
    b = ref.filter(F.col("doc_id") % 2 == 1)
    base = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_test_lsh_app"), "r_"
    )
    pid = os.getpid()
    D.write_lsh_reference(
        a, f"t_lshapp_inc_{pid}", buckets=8, path=os.path.join(base, "inc"),
    )
    D.append_lsh_reference(b, f"t_lshapp_inc_{pid}")
    got = sorted(
        map(
            tuple,
            D.minhash_lsh_join_reference(
                probe, f"t_lshapp_inc_{pid}", jaccard_threshold=0.3
            )
            .select("new_id", "ref_id")
            .collect(),
        )
    )
    D.write_lsh_reference(
        ref, f"t_lshapp_full_{pid}", buckets=8, path=os.path.join(base, "full"),
    )
    want = sorted(
        map(
            tuple,
            D.minhash_lsh_join_reference(
                probe, f"t_lshapp_full_{pid}", jaccard_threshold=0.3
            )
            .select("new_id", "ref_id")
            .collect(),
        )
    )
    assert got == want


def test_ppr_with_all_vertices_seeded_equals_uniform_pagerank(spark):
    # seed set = every vertex collapses the seeded recurrence to the
    # uniform one (|seeds| = N, teleport/dangling land everywhere), which
    # pagerank_power_iterations relies on: the kernel must agree
    # bit-for-bit with the uniform recurrence of its docstring, replayed
    # here in Python (// equals Spark div on non-negative ints).
    from nilm_data_framework_spark.queries.graph import _PR_SCALE, personalized_pagerank_power

    edges = [(0, 1), (0, 2), (1, 2), (2, 3), (4, 2), (5, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    verts = {v for edge in edges for v in edge}
    deg = {v: sum(1 for s, _ in edges if s == v) for v in verts}
    n = len(verts)
    uni = {v: _PR_SCALE // n for v in verts}
    for _ in range(3):
        dang = sum(uni[v] for v in verts if deg[v] == 0)
        cin = {v: 0 for v in verts}
        for s, d in edges:
            cin[d] += (uni[s] * 850) // (1000 * deg[s])
        uni = {
            v: (150 * (_PR_SCALE // n)) // 1000 + (850 * dang) // (1000 * n) + cin[v]
            for v in verts
        }
    ppr = {
        r["vertex"]: r["r"]
        for r in personalized_pagerank_power(
            e, lambda v: F.lit(True), iters=3
        ).collect()
    }
    assert uni == ppr


def test_ppr_nonseed_sources_hold_zero_mass(spark):
    # on a bipartite src→dst graph a non-seed SOURCE vertex has no
    # in-edges and no teleport — its rank must be exactly 0 every round.
    from nilm_data_framework_spark.queries.graph import personalized_pagerank_power

    e = spark.createDataFrame(
        [(0, 101), (2, 101), (2, 103), (4, 105), (6, 105)],
        "src long, dst long",
    )
    out = {
        r["vertex"]: r["r"]
        for r in personalized_pagerank_power(
            e, lambda v: v == 0, iters=2
        ).collect()
    }
    assert out[0] > 0
    for nonseed_src in (2, 4, 6):
        assert out[nonseed_src] == 0
    assert out[101] > 0  # seed's part receives damped mass
    assert out[105] == 0  # part reachable only from non-seeds stays dry


def test_scd2_fold_chain_equals_full_recompute(spark):
    # the streaming gate iterates scd2_fold over 3 time-sliced batches;
    # this pins the kernel algebra on a dense synthetic changelog with
    # same-instant ties (event_id tiebreak) and keys absent from early
    # batches. Cuts chosen mid-stream so every batch is non-empty.
    import datetime as dt

    from nilm_data_framework_spark.operators.windows import scd2_intervals
    from nilm_data_framework_spark.queries.streaming_equiv import scd2_fold

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for key in (1, 2, 3):
        for step in range(12):
            # key 3 starts late (only in the last third)
            if key == 3 and step < 8:
                continue
            rows.append(
                (
                    key,
                    base + dt.timedelta(hours=step),
                    ["on", "on", "off", "idle"][(step + key) % 4],
                    eid,
                )
            )
            eid += 1
    # same-instant tie: two rows for key 1 at hour 5 with different attrs
    rows.append((1, base + dt.timedelta(hours=5), "tiebreak_attr", 9000))
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    full = scd2_intervals(
        ev, key="user_id", ts="ts", attr="event_type", tiebreak=["event_id"]
    )
    cut1 = base + dt.timedelta(hours=4)
    cut2 = base + dt.timedelta(hours=8)
    b0 = ev.filter(F.col("ts") < F.lit(cut1))
    b1 = ev.filter((F.col("ts") >= F.lit(cut1)) & (F.col("ts") < F.lit(cut2)))
    b2 = ev.filter(F.col("ts") >= F.lit(cut2))
    iv = scd2_intervals(
        b0, key="user_id", ts="ts", attr="event_type", tiebreak=["event_id"]
    )
    for b in (b1, b2):
        iv = scd2_fold(
            iv, b, key="user_id", ts="ts", attr="event_type", tiebreak="event_id"
        )
    cols = ["user_id", "event_type", "valid_from", "valid_to"]
    got = sorted(map(tuple, iv.select(*cols).collect()))
    want = sorted(map(tuple, full.select(*cols).collect()))
    assert got == want
    assert len(want) > 6  # non-vacuous: several runs per key


def test_ivf_knn_join_equals_broadcast_form(spark):
    # the sf-scaled-query-side join form must return exactly what the
    # broadcast form returns when fed the corpus as its query set — same
    # candidates (per-query probed lists), same ranking, same tiebreak.
    emb = _emb(spark)
    cents = S.sample_centroids(emb, 8)
    got = sorted(
        map(
            tuple,
            S.ivf_knn_join(emb, k=3, centroids=cents, n_probe=3)
            .select("query_id", "match_id", "rk")
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            S.ivf_topk(emb, emb, k=3, n_probe=3, centroids=cents)
            .select("query_id", "match_id", "rk")
            .collect(),
        )
    )
    assert got == want
    assert len(got) > 0
