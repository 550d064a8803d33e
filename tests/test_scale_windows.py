"""Property tests: operators/scale_windows.py must reproduce the native
unpartitioned-window results BIT-IDENTICALLY — that is what lets the six
r5 scale-killer queries swap plans without touching their DuckDB oracles."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.scale_windows import (
    bucketed_global_rank,
    bucketed_ntile,
    exact_ranks_for_candidates,
    ntile_from_rank,
)


@pytest.fixture(scope="module")
def df(spark):
    # skewed values (many ties), unique id tiebreak, adversarial sizes
    rows = [(i, (i * i) % 13, f"s{i % 7}") for i in range(997)]
    return spark.createDataFrame(rows, "id long, v long, s string")


def _collect_map(sdf, key, val):
    return {r[key]: r[val] for r in sdf.collect()}


def test_bucketed_rank_equals_global_row_number(spark, df):
    native = df.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).cast("long").alias("r")
    )
    ours = bucketed_global_rank(df, F.col("v"), [F.col("id")], out="r").select(
        "id", "r"
    )
    assert _collect_map(ours, "id", "r") == _collect_map(native, "id", "r")


def test_bucketed_rank_descending_and_coarse_bucket(spark, df):
    native = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("id").desc()))
        .cast("long")
        .alias("r"),
    )
    # coarse range bucket over the primary key itself
    ours = bucketed_global_rank(
        df, (F.col("id") / 64).cast("long"), [F.col("id").desc()],
        descending=True, out="r",
    ).select("id", "r")
    assert _collect_map(ours, "id", "r") == _collect_map(native, "id", "r")


@pytest.mark.parametrize("n_rows", [3, 10, 37, 997])
@pytest.mark.parametrize("tiles", [5, 10])
def test_ntile_from_rank_matches_native(spark, n_rows, tiles):
    rows = [(i, (i * 7) % 11) for i in range(n_rows)]
    d = spark.createDataFrame(rows, "id long, v long")
    native = d.select(
        "id",
        F.ntile(tiles).over(Window.orderBy("v", "id")).cast("long").alias("t"),
    )
    ranked = d.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).alias("r")
    ).crossJoin(F.broadcast(d.agg(F.count(F.lit(1)).cast("long").alias("n"))))
    ours = ranked.select(
        "id", ntile_from_rank(F.col("r"), F.col("n"), tiles).alias("t")
    )
    assert _collect_map(ours, "id", "t") == _collect_map(native, "id", "t")


def test_bucketed_ntile_end_to_end(spark, df):
    native = df.select(
        "id",
        F.ntile(10)
        .over(Window.orderBy(F.col("v").desc(), "id"))
        .cast("long")
        .alias("t"),
    )
    ours = bucketed_ntile(
        df, F.col("v"), [F.col("v").desc(), F.col("id")], 10,
        descending=True, out="t",
    ).select("id", "t")
    assert _collect_map(ours, "id", "t") == _collect_map(native, "id", "t")


def test_exact_ranks_for_candidates(spark, df):
    native = df.select(
        "id",
        F.row_number()
        .over(Window.orderBy(F.col("v").desc(), "id"))
        .cast("long")
        .alias("r"),
    )
    cands = df.where(F.col("id") % 97 == 0).select("v", "id")  # 11 rows
    ours = exact_ranks_for_candidates(df, cands, "v", "id", out="r").select(
        "id", "r"
    )
    nat = _collect_map(native, "id", "r")
    got = _collect_map(ours, "id", "r")
    assert got == {i: nat[i] for i in got}
    assert len(got) == cands.count()


def test_bucketed_rank_no_single_partition_sort_over_rows(spark, df):
    """The per-row window must be bucket-partitioned; only the support
    cumulative window (one row per distinct v — 13 rows here) may be
    unpartitioned."""
    plan = bucketed_global_rank(df, F.col("v"), [F.col("id")])._jdf.queryExecution().executedPlan().toString()
    # every Window node over the base rows carries a partition spec
    import re

    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(1)
        # the support window orders by _swb and has no partition columns;
        # the row window must partition by _swb
        if "_swrn" in plan[max(0, m.start() - 200): m.start()]:
            assert "_swb," in spec or spec.startswith("_swb")


def test_bucketed_rank_null_bucket_values_kept(spark):
    """NULL sort-key rows must neither drop (the equi-join would) nor
    mis-rank: Spark ASC puts NULLS FIRST, DESC puts them LAST — the
    support cumulative and the per-bucket window agree with native
    row_number in both directions."""
    rows = [(i, None if i % 5 == 0 else (i * i) % 7) for i in range(200)]
    d = spark.createDataFrame(rows, "id long, v long")
    for desc in (False, True):
        order = F.col("v").desc() if desc else F.col("v").asc()
        native = d.select(
            "id",
            F.row_number().over(Window.orderBy(order, "id")).cast("long").alias("r"),
        )
        ours = bucketed_global_rank(
            d, F.col("v"), [F.col("id")], descending=desc, out="r"
        ).select("id", "r")
        got = _collect_map(ours, "id", "r")
        assert len(got) == 200, "null-bucket rows dropped"
        assert got == _collect_map(native, "id", "r"), f"desc={desc}"


def test_ntile_formula_matches_duckdb_hypothesis():
    """The pure-integer tile formula behind ntile_from_rank, replayed in
    python and property-checked against DuckDB's NTILE across random
    (n_rows, tiles) — the cross-engine contract the oracles rely on,
    exercised far past the Spark-parametrized sizes."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    def formula(rank: int, total: int, n: int) -> int:
        q, r = divmod(total, n)
        big = (q + 1) * r
        if rank <= big:
            return (rank - 1) // (q + 1) + 1
        return r + (rank - big - 1) // max(q, 1) + 1

    con = duckdb.connect()

    @settings(max_examples=50, deadline=None)
    @given(st.integers(min_value=1, max_value=523), st.integers(min_value=1, max_value=17))
    def check(total, n):
        rows = con.execute(
            f"SELECT r, ntile({n}) OVER (ORDER BY r) FROM range(1, {total} + 1) t(r)"
        ).fetchall()
        for rank, tile in rows:
            assert formula(rank, total, n) == tile, (rank, total, n)

    check()


def test_exact_ranks_pair_bit_identical_to_two_calls(spark, df):
    """The r10 fused tagged form (one strict + one tie join for BOTH
    rankings) must reproduce two exact_ranks_for_candidates calls
    bit-identically — including disjoint tie structure per tag and the
    inner-join row set (ids present in both candidate frames only)."""
    from nilm_data_framework_spark.operators.scale_windows import (
        exact_ranks_for_candidates_pair,
    )

    # two different value orders over the same id space, plenty of ties
    base_a = df.select("id", "v")
    base_b = df.select("id", ((F.col("id") * 7) % 5).alias("w"))
    cand_a = base_a.where(F.col("id") % 13 == 0)
    cand_b = base_b.where(F.col("id") % 9 == 0)  # overlapping, not equal

    ra = exact_ranks_for_candidates(base_a, cand_a, "v", "id", out="rank_a")
    rb = exact_ranks_for_candidates(base_b, cand_b, "w", "id", out="rank_b")
    expected = {
        r["id"]: (r["rank_a"], r["rank_b"])
        for r in ra.select("id", "rank_a")
        .join(rb.select("id", "rank_b"), "id")
        .collect()
    }
    got = {
        r["id"]: (r["rank_a"], r["rank_b"])
        for r in exact_ranks_for_candidates_pair(
            base_a, cand_a, "v", base_b, cand_b, "w", "id",
            out_a="rank_a", out_b="rank_b",
        ).collect()
    }
    assert got == expected
    assert got, "vacuous: no overlapping candidate ids"


def test_exact_ranks_pair_rejects_mixed_value_types(spark, df):
    """The fused form unions both value columns into one; long vs double
    would widen the longs to double, which two separate calls never do —
    the pair refuses mixed types instead of ranking on widened values."""
    from nilm_data_framework_spark.operators.scale_windows import (
        exact_ranks_for_candidates_pair,
    )

    base_a = df.select("id", "v")
    base_b = df.select("id", F.col("v").cast("double").alias("w"))
    with pytest.raises(TypeError, match="differ in type"):
        exact_ranks_for_candidates_pair(
            base_a, base_a, "v", base_b, base_b, "w", "id"
        )
