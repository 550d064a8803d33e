"""Unit tests for common_neighbors_topk and the runtime-filter helper —
hand-built fixtures where the expected answer is checkable by eye (the
registered queries' DuckDB oracles cover the at-scale equivalence)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.graph import common_neighbors_topk
from nilm_data_framework_spark.operators.runtime_filters import (
    _APP_THRESHOLD,
    _BROADCAST_THRESHOLD,
    with_runtime_bloom_filter,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src int, dst int")


def test_common_neighbors_path_graph(spark):
    # path 1-2-3-4: non-adjacent pairs (1,3), (2,4) share exactly one
    # neighbor; (1,4) shares none and must not appear.
    out = common_neighbors_topk(
        _edges(spark, [(1, 2), (2, 3), (3, 4)]), k=10
    ).collect()
    got = {(r["v1"], r["v2"]): r["n_common"] for r in out}
    assert got == {(1, 3): 1, (2, 4): 1}


def test_common_neighbors_excludes_adjacent_pairs(spark):
    # triangle 1-2-3 plus pendant 4 on 3: (1,2),(1,3),(2,3) are edges and
    # excluded even though each pair shares a neighbor; (1,4) and (2,4)
    # share neighbor 3.
    out = common_neighbors_topk(
        _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)]), k=10
    ).collect()
    got = {(r["v1"], r["v2"]): r["n_common"] for r in out}
    assert got == {(1, 4): 1, (2, 4): 1}


def test_common_neighbors_count_and_topk_order(spark):
    # K4 minus edge (1,4): pair (1,4) shares {2,3} -> count 2, ranked
    # above any 1-common pair; k=1 keeps only it.
    out = common_neighbors_topk(
        _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]),
        k=1,
    ).collect()
    assert [(r["v1"], r["v2"], r["n_common"]) for r in out] == [(1, 4, 2)]


def test_resource_allocation_weights_by_center_degree(spark):
    # star center 0 with leaves 1..3 plus a pendant 5 on 1 and 6 on 2:
    # wedges through hub 0 (deg 3) score 1e6 div 3 = 333333, while the
    # wedges (0,5) through 1 and (0,6) through 2 (deg 2 each) score
    # 500000 — OUTRANKING the hub-mediated pairs despite identical
    # n_common: the exact hub-penalty behavior RA exists for.
    from nilm_data_framework_spark.operators.graph import resource_allocation_topk

    out = resource_allocation_topk(
        _edges(spark, [(0, 1), (0, 2), (0, 3), (1, 5), (2, 6)]),
        k=10,
    ).collect()
    got = {(r["v1"], r["v2"]): (r["n_common"], r["ra_e6"]) for r in out}
    assert got[(0, 5)] == (1, 500000)  # through vertex 1, deg 2
    assert got[(0, 6)] == (1, 500000)  # through vertex 2, deg 2
    assert got[(1, 2)] == (1, 333333)  # through hub 0, deg 3
    assert got[(1, 3)] == (1, 333333)
    assert got[(2, 3)] == (1, 333333)
    assert len(got) == 5
    ordered = [(r["v1"], r["v2"]) for r in out]
    # deg-2 wedges rank above hub wedges; ties break on (v1, v2)
    assert ordered[:2] == [(0, 5), (0, 6)]


def test_resource_allocation_excludes_adjacent_pairs(spark):
    # triangle 1-2-3 + pendant 4 on 3: adjacent pairs never predicted even
    # though each shares a neighbor; (1,4)/(2,4) score 1e6 div deg(3) with
    # deg(3) = 3 (neighbors 1, 2, 4).
    from nilm_data_framework_spark.operators.graph import resource_allocation_topk

    out = resource_allocation_topk(
        _edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)]), k=10
    ).collect()
    got = {(r["v1"], r["v2"]): r["ra_e6"] for r in out}
    assert got == {(1, 4): 333333, (2, 4): 333333}


def test_runtime_filter_confs_restored_on_error(spark):
    old_app = spark.conf.get(_APP_THRESHOLD)
    old_bc = spark.conf.get(_BROADCAST_THRESHOLD)

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        with_runtime_bloom_filter(spark, boom)
    assert spark.conf.get(_APP_THRESHOLD) == old_app
    assert spark.conf.get(_BROADCAST_THRESHOLD) == old_bc


def test_runtime_filter_result_invariant(spark):
    # bloom pruning must not change results: FPs fall through to the exact
    # join, true negatives were non-joining anyway.
    df = spark.range(0, 1000).select(F.col("id").alias("k"), (F.col("id") % 7).alias("v"))
    dim = spark.range(0, 1000, 50).select(F.col("id").alias("k"))

    def build():
        return df.join(dim, "k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")
        )

    pruned = with_runtime_bloom_filter(spark, build).collect()[0]
    plain = build().collect()[0]
    assert (pruned["n"], pruned["s"]) == (plain["n"], plain["s"])


def test_rev_e4_matches_decimal_arithmetic(spark):
    # every 2dp price x 2dp discount: the BIGINT e4 form must equal the
    # exact decimal product price*(1-disc) scaled to 1e-4 units.
    from decimal import Decimal

    from nilm_data_framework_spark.queries.tpch_extra import _rev_e4

    rows = [
        (c / 100.0, d / 100.0)
        for c in (1, 99, 100, 123456, 999999)
        for d in (0, 1, 5, 7, 10)
    ]
    df = spark.createDataFrame(
        rows, "l_extendedprice double, l_discount double"
    ).withColumn("rev_e4", _rev_e4())
    for r in df.collect():
        want = int(
            Decimal(str(r["l_extendedprice"])) * 100
            * (100 - int(Decimal(str(r["l_discount"])) * 100))
        )
        assert r["rev_e4"] == want, (r["l_extendedprice"], r["l_discount"])


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edge_set=hst.sets(
        hst.tuples(hst.integers(0, 7), hst.integers(0, 7)).filter(
            lambda p: p[0] < p[1]
        ),
        min_size=1,
        max_size=14,
    )
)
def test_resource_allocation_matches_python_reference(spark, edge_set):
    """RA scores and the non-adjacency filter replayed in pure Python:
    for every non-adjacent pair, score = sum over common neighbors of
    1e6 // deg — sum-of-floors, exactly as the operator computes."""
    from nilm_data_framework_spark.operators.graph import resource_allocation_topk

    edges = sorted(edge_set)
    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    want = {}
    nodes = sorted(adj)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if v in adj[u]:
                continue
            common = adj[u] & adj[v]
            if common:
                want[(u, v)] = (
                    len(common),
                    sum(1_000_000 // len(adj[z]) for z in common),
                )
    out = resource_allocation_topk(
        _edges(spark, edges), k=100
    ).collect()
    got = {(r["v1"], r["v2"]): (r["n_common"], r["ra_e6"]) for r in out}
    assert got == want
