"""Checkpoint blind-spot guard (VERDICT r9 items 4/6 — close it for good).

The r9 optimization round proved the failure mode: an EAGER localCheckpoint
truncates df.explain() at `Scan ExistingRDD`, so the explain-walking guards
(test_plan_quality) never saw that exact_ranks_for_candidates' support-
inequality join planned CartesianProduct at runtime inside every _rag_tail
caller — for multiple rounds. These tests re-build each checkpointing
operator with `DataFrame.localCheckpoint` monkeypatched to the identity, so
the FULL Catalyst tree (loop rounds unrolled) is visible to the same
quadratic-fallback assertions. Fixtures stay tiny: without the lineage cut
a loop's tree grows ~2-3x per round, which is exactly why production keeps
the checkpoints — the guard only needs the plan, not the runtime.

This harness would have caught the r9 RAG cartesian BEFORE the checkpoint
was removed: rag_retrieval_pipeline is asserted below with checkpoints
no-op'd, which is the pre-r9 hiding configuration.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _plan_of(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _assert_no_quadratic_fallback(plan: str, what: str, allow_bnlj: bool) -> None:
    assert "CartesianProduct" not in plan, f"{what}: plans a CartesianProduct"
    if not allow_bnlj:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{what}: equi-join kernel fell back to a nested loop"
        )


def test_hashmin_cc_loop_plans_no_cartesian(spark, no_checkpoints):
    from nilm_data_framework_spark.operators import dedup as D

    nodes = spark.range(0, 8).select(F.col("id"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    out = D.connected_components(nodes, edges, id_col="id")
    # every join in the hash-min loop is an equi-join (edge ⋈ labels,
    # labels ⋈ nbr_min, the singleton anti-join)
    _assert_no_quadratic_fallback(
        _plan_of(out), "connected_components (unrolled loop)", allow_bnlj=False
    )


def test_star_cc_loop_plans_no_cartesian(spark, no_checkpoints):
    from nilm_data_framework_spark.operators import dedup as D

    # an unrolled star round references the previous edge set ~24 times
    # (large-star then small-star), so a graph needing r rounds plans
    # ~24^r copies: a star forest converges in ONE round, which still
    # plans every join of the loop (both star steps, the exceptAll
    # convergence probe, the singleton anti-join)
    nodes = spark.range(0, 8).select(F.col("id"))
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (5, 6)], "id_a long, id_b long"
    )
    plan = _plan_of(D.connected_components_star(nodes, edges))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan
    _assert_no_quadratic_fallback(
        plan, "connected_components_star (unrolled loop)", allow_bnlj=False
    )


def test_triangle_kernels_plan_equi_joins_only(spark, no_checkpoints):
    # every join of the degree-ordered triangle kernels is an equi-join on
    # vertex ids (degree attach, wedge self-join, closure probe). The only
    # nested loops allowed are triangle_count's by-design attachment of
    # its 1-row count aggregates (crossJoin(broadcast(...)), planned as a
    # condition-free Cross join).
    import re

    from nilm_data_framework_spark.operators import graph as G

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    per_vertex = _plan_of(G.triangles_per_vertex(e))
    assert "SortMergeJoin" in per_vertex or "BroadcastHashJoin" in per_vertex
    _assert_no_quadratic_fallback(per_vertex, "triangles_per_vertex", allow_bnlj=False)
    count = _plan_of(G.triangle_count(e))
    assert "SortMergeJoin" in count or "BroadcastHashJoin" in count
    _assert_no_quadratic_fallback(count, "triangle_count", allow_bnlj=True)
    nlj_kinds = set(re.findall(r"BroadcastNestedLoopJoin (\w+)", count))
    assert nlj_kinds == {"Cross"}, f"triangle_count: non-equi nested loop {nlj_kinds}"


def test_pagerank_loop_plans_no_cartesian(spark, no_checkpoints):
    # BNLJ is expected here: the 1-row dangling-mass aggregate is attached
    # via crossJoin(broadcast(...)) by design. The guard is the cartesian.
    from nilm_data_framework_spark.queries.extra_ops_r8 import pagerank_power

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    out = pagerank_power(e, iters=2)
    plan = _plan_of(out)
    _assert_no_quadratic_fallback(plan, "pagerank_power (unrolled)", allow_bnlj=True)


def test_ppr_loop_plans_no_cartesian(spark, no_checkpoints):
    from nilm_data_framework_spark.queries.extra_ops_r9 import (
        personalized_pagerank_power,
    )

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3)], "src long, dst long"
    )
    out = personalized_pagerank_power(e, lambda v: v < 2, iters=2)
    _assert_no_quadratic_fallback(
        _plan_of(out), "personalized_pagerank_power (unrolled)", allow_bnlj=True
    )


def test_kcenter_loop_plans_no_cartesian(spark, no_checkpoints):
    from nilm_data_framework_spark.queries.extra_ops_r9b import _kcenter_kernel

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    out = _kcenter_kernel(emb.limit(32))
    _assert_no_quadratic_fallback(
        _plan_of(out), "_kcenter_kernel (unrolled)", allow_bnlj=True
    )


def test_bpe_train_loop_plans_no_cartesian(spark, no_checkpoints):
    from nilm_data_framework_spark.queries.extra_ops_r9b import _bpe_train_frames

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(64)
    rules, w = _bpe_train_frames(docs, rounds=2)
    _assert_no_quadratic_fallback(
        _plan_of(w), "_bpe_train_frames (unrolled)", allow_bnlj=True
    )


def test_rag_tail_plans_no_cartesian_even_behind_checkpoints(spark, no_checkpoints):
    # The regression test for the r9 defect itself: with every checkpoint
    # no-op'd (the pre-r9 hiding configuration) the full _rag_tail tree is
    # visible — the exact_ranks support-inequality joins must plan as
    # broadcast builds off the limit-carried candidate bound, never as
    # CartesianProduct.
    from nilm_data_framework_spark.plans.registry import all_queries

    out = all_queries()["rag_retrieval_pipeline"].spark(spark, SF_DIR)
    plan = _plan_of(out)
    assert "CartesianProduct" not in plan, (
        "_rag_tail plans a CartesianProduct when its checkpoints are removed "
        "— the _RAG_CANDS_BOUND limit no longer reaches the planner"
    )
