"""Checkpoint blind-spot guard for the loop kernels.

An EAGER checkpoint truncates df.explain() at `Scan ExistingRDD`, so a
guard that reads only a kernel's final frame never sees the joins behind
its cuts (the r9 RAG cartesian hid there for several rounds). These tests
build each kernel inside ``materialize.recording()``, which keeps every
frame a checkpoint or pin cut, and assert the no-quadratic-fallback rules
on the final plan and on every recorded segment: the plans that actually
run, with the kernels' real checkpoints in place. The registry-wide
guards in test_plan_quality read the same segments for every query.
"""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import recording


def _plan_of(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plans(build) -> list[str]:
    """Formatted plans of ``build()``'s result and of every frame cut
    while it ran."""
    with recording() as cuts:
        out = build()
    return [_plan_of(df) for df in [out, *cuts]]


def _assert_no_quadratic_fallback(plans: list[str], what: str, allow_bnlj: bool) -> None:
    for plan in plans:
        assert "CartesianProduct" not in plan, f"{what}: plans a CartesianProduct"
        if not allow_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, (
                f"{what}: equi-join kernel fell back to a nested loop"
            )


def _has_equi_join(plans: list[str]) -> bool:
    return any("SortMergeJoin" in p or "BroadcastHashJoin" in p for p in plans)


def test_hashmin_cc_loop_plans_no_cartesian(spark):
    from nilm_data_framework_spark.operators import dedup as D

    nodes = spark.range(0, 8).select(F.col("id"))
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "id_a long, id_b long"
    )
    plans = _plans(lambda: D.connected_components(nodes, edges, id_col="id"))
    # every join in the hash-min loop is an equi-join (edge ⋈ labels,
    # labels ⋈ nbr_min, the singleton anti-join)
    assert _has_equi_join(plans)
    _assert_no_quadratic_fallback(plans, "connected_components", allow_bnlj=False)


def test_star_cc_loop_plans_no_cartesian(spark):
    from nilm_data_framework_spark.operators import dedup as D

    # every round plans both star steps, the exceptAll convergence probe
    # and, at the end, the singleton anti-join
    nodes = spark.range(0, 8).select(F.col("id"))
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (5, 6)], "id_a long, id_b long"
    )
    plans = _plans(lambda: D.connected_components_star(nodes, edges))
    assert _has_equi_join(plans)
    _assert_no_quadratic_fallback(plans, "connected_components_star", allow_bnlj=False)


def test_triangle_kernels_plan_equi_joins_only(spark):
    # every join of the degree-ordered triangle kernels is an equi-join on
    # vertex ids (degree attach, wedge self-join, closure probe). The only
    # nested loops allowed are triangle_count's by-design attachment of
    # its 1-row count aggregates (crossJoin(broadcast(...)), planned as a
    # condition-free Cross join).
    from nilm_data_framework_spark.operators import graph as G

    e = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (2, 3)], "src long, dst long"
    )
    per_vertex = _plans(lambda: G.triangles_per_vertex(e))
    assert _has_equi_join(per_vertex)
    _assert_no_quadratic_fallback(per_vertex, "triangles_per_vertex", allow_bnlj=False)
    count = _plans(lambda: G.triangle_count(e))
    assert _has_equi_join(count)
    _assert_no_quadratic_fallback(count, "triangle_count", allow_bnlj=True)
    nlj_kinds = {
        kind for plan in count for kind in re.findall(r"BroadcastNestedLoopJoin (\w+)", plan)
    }
    assert nlj_kinds == {"Cross"}, f"triangle_count: non-equi nested loop {nlj_kinds}"
