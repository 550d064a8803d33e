"""Kernel tests for the triangle, AUC and capped-shortlist queries.

Driver-gate coverage (oracle hash equality at sf0.01) lives in
scripts/driver_sim.py; these tests pin the pieces the gate can't see:
known-graph per-vertex triangle counts, the AUC histogram identity
against the naive pairwise definition (the oracle uses the SAME identity,
so cross-engine equality alone would not catch an identity error), and
the WindowGroupLimit plan of the capped shortlist.
"""

from __future__ import annotations

import duckdb
from hypothesis import assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


# --- per-vertex triangles -----------------------------------------------------


def test_triangles_per_vertex_known_graph(spark):
    from nilm_data_framework_spark.operators import graph as G

    # K4 on {1,2,3,4} (each vertex in C(3,2)=3 triangles) + pendant 5-1
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (1, 5)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["vertex"]: (r["degree"], r["n_triangles"])
           for r in G.triangles_per_vertex(df).collect()}
    assert got == {1: (4, 3), 2: (3, 3), 3: (3, 3), 4: (3, 3), 5: (1, 0)}


def test_triangles_per_vertex_sums_to_three_times_global(spark):
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators import graph as G

    # pseudo-random graph: multiplicative-hash edge pairs, deduped u<v
    edges = sorted(
        {(min(a, b), max(a, b))
         for k in range(200)
         for a, b in [((k * 37) % 23, (k * 57 + 5) % 23)]
         if a != b}
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    per_v = G.triangles_per_vertex(df)
    total = per_v.agg(F.sum("n_triangles").alias("s")).collect()[0]["s"]
    global_tri = G.triangle_count(df).collect()[0]["n_triangles"]
    assert total == 3 * global_tri
    # degrees are distinct-neighbor counts: sum(degree) == 2|E|
    deg_sum = per_v.agg(F.sum("degree").alias("d")).collect()[0]["d"]
    assert deg_sum == 2 * len(edges)


# --- exact AUC: histogram identity == naive pairwise definition ----------------


@settings(max_examples=40, deadline=None)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 8), st.booleans()), min_size=2, max_size=40
    )
)
def test_auc_histogram_identity_matches_pairwise(rows):
    # The score_auc_exact oracle (and the Spark kernel) use the midrank
    # histogram identity 2U = Σ_s p_s·(2·negBelow_s + n_s). Check it equals
    # the definition: Σ over (pos, neg) pairs of 2·[sp>sn] + 1·[sp==sn].
    assume(any(en for _, en in rows) and any(not en for _, en in rows))
    import nilm_data_framework_spark.queries.pipeline_quality  # noqa: F401
    from nilm_data_framework_spark.plans.registry import registry

    oracle = registry["score_auc_exact"].oracle
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (n_chars BIGINT, lang VARCHAR)")
    con.executemany(
        "INSERT INTO documents VALUES (?, ?)",
        [(s, "en" if en else "xx") for s, en in rows],
    )
    got = con.execute(oracle).fetchone()
    n_pos, n_neg, auc_num, auc_den, _auc_e6 = got
    pos = [s for s, en in rows if en]
    neg = [s for s, en in rows if not en]
    want_2u = sum(
        2 if sp > sn else (1 if sp == sn else 0) for sp in pos for sn in neg
    )
    assert (n_pos, n_neg) == (len(pos), len(neg))
    assert auc_num == want_2u
    assert auc_den == 2 * len(pos) * len(neg)


# --- capped shortlist plan: per-group limit pushes map-side --------------------


def test_capped_topk_plan_uses_window_group_limit(spark):
    from nilm_data_framework_spark.queries.curation_lakehouse import capped_topk_per_source

    df = capped_topk_per_source(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, (
        "per-source rank filter should compile to WindowGroupLimit "
        f"(map-side per-group top-m), got:\n{plan[:2000]}"
    )


# --- large-star/small-star connected components --------------------------------


def test_star_cc_long_path_beyond_hashmin_horizon(spark):
    # a 300-node path has propagation distance 299 — the one-hop hash-min
    # kernel aborts at max_iter=25; star contraction must converge fast
    import pytest

    from nilm_data_framework_spark.operators import dedup as D

    nodes = spark.createDataFrame([(i,) for i in range(300)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(299)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        D.connected_components(nodes, edges, id_col="id")
    got = D.connected_components_star(nodes, edges)
    labels = {r["node"]: r["cluster_id"] for r in got.collect()}
    assert len(labels) == 300
    assert set(labels.values()) == {0}


def test_star_cc_matches_hashmin_on_shallow_graph(spark):
    from nilm_data_framework_spark.operators import dedup as D

    # pseudo-random sparse graph + isolated singletons: both kernels must
    # produce identical (node, cluster_id) labelings
    edges = sorted(
        {(min(a, b), max(a, b))
         for k in range(120)
         for a, b in [((k * 37) % 60, (k * 53 + 7) % 60)]
         if a != b}
    )
    nodes = spark.createDataFrame([(i,) for i in range(80)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    a = {(r["node"], r["cluster_id"])
         for r in D.connected_components(nodes, e, id_col="id").collect()}
    b = {(r["node"], r["cluster_id"])
         for r in D.connected_components_star(nodes, e).collect()}
    assert a == b


def test_star_cc_two_components_and_singleton(spark):
    from nilm_data_framework_spark.operators import dedup as D

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 42)], "id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    got = {r["node"]: r["cluster_id"]
           for r in D.connected_components_star(nodes, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 42: 42}


@settings(max_examples=10, deadline=None)
@given(
    raw=st.lists(
        st.tuples(st.integers(0, 14), st.integers(0, 14)), min_size=0, max_size=30
    )
)
def test_star_cc_matches_union_find(spark, raw):
    # independent reference: pure-Python union-find (not hash-min, which
    # shares no code but also no convergence envelope) — pins the
    # alternating star contraction's LABELS on arbitrary small graphs,
    # including chains, self-loop-free multi-edges, and isolated nodes
    from nilm_data_framework_spark.operators import dedup as D

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw if a != b})
    parent = list(range(15))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {i: find(i) for i in range(15)}

    nodes = spark.createDataFrame([(i,) for i in range(15)], "id long")
    e = spark.createDataFrame(
        edges or [(None, None)], "id_a long, id_b long"
    ).filter(F.col("id_a").isNotNull())
    got = {r["node"]: r["cluster_id"]
           for r in D.connected_components_star(nodes, e).collect()}
    assert got == want
