"""Parity tests for the non-SQL kernels against independent Python oracles
(SURVEY.md §5: pandas/NumPy-oracle unit tests for W4/W5/J3 semantics).
The oracles re-implement the REFERENCE's documented behavior, not our
operators, so agreement is evidence of semantic parity."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import windows as W
from nilm_data_framework_spark.taxonomy import UNIVERSAL_LABELS, keywords_df, map_universal_label


def _series_df(spark, n=100, keys=("a", "b"), seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for k in keys:
        t0 = 1_700_000_000
        for i in range(n):
            rows.append((k, float(t0 + i * 8), float(rng.integers(0, 1000))))
    pdf = pd.DataFrame(rows, columns=["ch", "epoch", "power"])
    return spark.createDataFrame(pdf).withColumn("ts", F.timestamp_seconds("epoch")).drop("epoch")


# --- W4 sliding windows: count formula + values, sql vs grouped vs numpy ------

@pytest.mark.parametrize("seq_len,step", [(8, 4), (16, 16), (5, 2)])
def test_sliding_windows_both_paths_match_numpy(spark, seq_len, step):
    df = _series_df(spark, n=100)
    for impl in (W.sliding_windows_sql, W.sliding_windows_grouped):
        out = impl(df, keys=["ch"], seq_len=seq_len, step=step, ts="ts", value="power")
        got = {
            (r["ch"], r["window_id"]): list(r["x"])
            for r in out.collect()
        }
        # reference window-count formula (ConvertToTensor.py:60):
        # n = (len - seq_len) // step + 1, windows start at i*step
        pdf = df.toPandas().sort_values(["ch", "ts"])
        expected = {}
        for ch, grp in pdf.groupby("ch"):
            vals = grp["power"].to_numpy()
            n_win = (len(vals) - seq_len) // step + 1
            for w in range(n_win):
                expected[(ch, w)] = list(vals[w * step : w * step + seq_len])
        assert got == expected, f"{impl.__name__} diverges from numpy oracle"


# --- W5 run-length filter vs reference-semantics python oracle ------------------


def _ref_filter_short_ons(states: list[int], min_len: int) -> list[int]:
    """Python twin of the reference's filter_short_ons (postprocessing.py:5-24):
    scan runs of 1s, zero out runs shorter than min_len, trailing open run
    included."""
    out = list(states)
    i = 0
    n = len(states)
    while i < n:
        if states[i] == 1:
            j = i
            while j < n and states[j] == 1:
                j += 1
            if j - i < min_len:
                for k in range(i, j):
                    out[k] = 0
            i = j
        else:
            i += 1
    return out


@pytest.mark.parametrize("min_len", [1, 3, 5])
def test_run_length_filter_matches_reference_semantics(spark, min_len):
    rng = np.random.default_rng(3)
    states = rng.integers(0, 2, size=200).tolist()
    states[-7:] = [1] * 7  # trailing open ON segment (postprocessing.py:22-23)
    pdf = pd.DataFrame(
        {"ch": "x", "pos": range(len(states)), "state": states}
    )
    df = spark.createDataFrame(pdf)
    out = (
        W.run_length_filter(df, keys=["ch"], ts="pos", state="state", min_len=min_len)
        .orderBy("pos")
        .collect()
    )
    got = [r["state_filtered"] for r in out]
    assert got == _ref_filter_short_ons(states, min_len)


# --- W6 median smoothing: interior matches scipy-style centered median ----------


def test_median_smooth_interior(spark):
    rng = np.random.default_rng(5)
    vals = rng.integers(0, 100, size=50).astype(float)
    pdf = pd.DataFrame({"ch": "x", "pos": range(len(vals)), "v": vals})
    df = spark.createDataFrame(pdf)
    out = W.median_smooth(df, keys=["ch"], ts="pos", value="v", half_width=2).orderBy("pos")
    got = [r["smoothed"] for r in out.collect()]
    # interior (full windows) must equal the centered rolling median; edges
    # use shrunken windows (documented divergence from scipy reflect-pad)
    k = 2
    for i in range(k, len(vals) - k):
        assert got[i] == float(np.median(vals[i - k : i + k + 1])), i


# --- W7 truncate-to-min ----------------------------------------------------------


def test_truncate_to_min(spark):
    rows = [("u", "a", i) for i in range(10)] + [("u", "b", i) for i in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["grp", "series", "pos"]))
    out = W.truncate_to_min(df, group=["grp"], series="series", ts="pos")
    counts = {r["series"]: r["n"] for r in out.groupBy("series").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 4, "b": 4}
    kept_a = sorted(r["pos"] for r in out.filter(F.col("series") == "a").collect())
    assert kept_a == [0, 1, 2, 3]  # first min_cnt rows in order


# --- J3 label mapping vs python twin of the reference algorithm -------------------


def _ref_map_label(raw: str) -> str:
    """Python twin of map_to_universal_label (UnifiedNILM.py:40-64): clean,
    then tier1 exact keyword match, tier2 keyword containment, tier3 label
    name containment, dict order precedence, else 'other'."""
    import re

    cleaned = re.sub(r"\s+", " ", re.sub(r"[_\-,]", " ", raw.lower())).strip()
    for label, kws in UNIVERSAL_LABELS:
        if any(cleaned == kw for kw in kws):
            return label
    for label, kws in UNIVERSAL_LABELS:
        if any(kw in cleaned for kw in kws):
            return label
    for label, _ in UNIVERSAL_LABELS:
        if label != "other" and label in cleaned:
            return label
    return "other"


def test_label_map_matches_reference_precedence(spark):
    raws = [
        "Fridge-Freezer", "washer dryer", "LED_lamp", "Television", "gadget",
        "kettle", "Electric Oven", "pv inverter", "EV Charger", "desk pc",
        "boiler pump", "mains", "chest freezer", "my dishwasher unit",
        "microwave,oven", "site meter", "FREEZER", "the electric vehicle port",
        "washing   machine", "some random thing",
    ]
    labels = spark.createDataFrame([(i, r) for i, r in enumerate(raws)], "i int, raw_label string")
    out = map_universal_label(labels, keywords_df(spark), raw_col="raw_label")
    got = {r["raw_label"]: r["universal_label"] for r in out.collect()}
    for raw in raws:
        assert got[raw] == _ref_map_label(raw), raw


# --- tier-precedence subtlety: tier1 beats an earlier-priority tier2 --------------


def test_label_map_tier1_beats_tier2(spark):
    # 'washer' exactly equals a washing-machine keyword (tier1 priority) even
    # though 'wash' substrings could match elsewhere; 'tumble dryer x' only
    # tier2-matches 'tumble dryer'.
    labels = spark.createDataFrame(
        [(0, "washer"), (1, "tumble dryer x")], "i int, raw_label string"
    )
    out = map_universal_label(labels, keywords_df(spark), raw_col="raw_label")
    got = {r["i"]: r["universal_label"] for r in out.collect()}
    assert got[0] == "washing machine"
    assert got[1] == "tumble dryer"


@given(
    st.integers(min_value=0, max_value=60),
    st.integers(min_value=2, max_value=10),
    st.integers(min_value=1, max_value=10),
)
@settings(max_examples=12, deadline=None)
def test_window_count_formula_property(spark, n, seq_len, step):
    """Property (SURVEY §5): window count == (len - seq_len) // step + 1 for
    len >= seq_len else 0, for BOTH W4 implementations."""
    if n == 0:
        return
    pdf = pd.DataFrame({"k": ["x"] * n, "t": range(n), "v": [float(i) for i in range(n)]})
    df = spark.createDataFrame(pdf)
    expected = (n - seq_len) // step + 1 if n >= seq_len else 0
    sql_n = W.sliding_windows_sql(df, ["k"], seq_len, step, ts="t", value="v").count()
    grp_n = W.sliding_windows_grouped(df, ["k"], seq_len, step, ts="t", value="v").count()
    assert sql_n == expected
    assert grp_n == expected


def test_weighted_mean_udaf_matches_declarative_twin(spark):
    """§2.8 UDAF escape hatch == built-in sum(v*w)/sum(w), per group."""
    from nilm_data_framework_spark.operators.aggregates import weighted_mean_udaf

    rows = [("a", 10.0, 1.0), ("a", 20.0, 3.0), ("b", 5.0, 2.0), ("b", 0.0, 0.5)]
    df = spark.createDataFrame(rows, "k string, v double, w double")
    wm = weighted_mean_udaf()
    got = {
        r["k"]: r["wm"]
        for r in df.groupBy("k").agg(wm("v", "w").alias("wm")).collect()
    }
    want = {
        r["k"]: r["wm"]
        for r in df.groupBy("k")
        .agg((F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("wm"))
        .collect()
    }
    assert got.keys() == want.keys()
    for k in got:
        assert abs(got[k] - want[k]) < 1e-12


def test_python_udtf_chunker(spark):
    """§2.8 UDTF surface (Spark 4 Python UDTF): one input row → N chunk
    rows. The lateral-join form mirrors what explode+transform does
    declaratively — built-ins remain the default; the UDTF is the escape
    hatch for generators with per-row state or ragged output built-ins
    can't express."""
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="chunk_id: int, chunk: string")
    class Chunker:
        def eval(self, text: str, size: int):
            toks = text.split()
            for i in range(0, len(toks), size):
                yield i // size, " ".join(toks[i : i + size])

    out = Chunker(lit("a b c d e"), lit(2)).collect()
    assert [(r["chunk_id"], r["chunk"]) for r in out] == [
        (0, "a b"), (1, "c d"), (2, "e"),
    ]


def test_aggregate_from_appliances_channel_mode_is_mean_then_sum(spark):
    """Reference-exact two-stage A2 (r7): each channel resampled by MEAN,
    then channels summed per bucket — a 1 Hz constant-10W channel
    contributes 10 to a 300 s bucket, not 10x its sample count."""
    from nilm_data_framework_spark.operators.aggregates import (
        aggregate_from_appliances,
    )

    rows = [("h", "fast", i, 10.0) for i in range(300)] + [
        ("h", "slow", 0, 3.0)
    ]
    df = spark.createDataFrame(
        rows, "house string, channel string, sec long, power double"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    two_stage = aggregate_from_appliances(
        df, ["house"], seconds=300, value="power", channel="channel"
    ).collect()
    assert len(two_stage) == 1 and two_stage[0]["aggregate_computed"] == 13.0
    single = aggregate_from_appliances(df, ["house"], seconds=300, value="power").collect()
    assert single[0]["aggregate_computed"] == 3003.0  # the fidelity gap


def test_pairwise_corr_onepass_empty_complete_case(spark):
    """A series absent everywhere -> no complete-case bucket; the operator
    must emit the C(C-1)/2 NULL-pearson rows (the SQL corr semantics the
    oracle replays), not crash in spark.ml."""
    from nilm_data_framework_spark.operators.aggregates import (
        pairwise_corr_onepass,
    )

    df = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 60, 2.0)], "s string, sec long, power double"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    out = pairwise_corr_onepass(df, "s", ["a", "ghost"], seconds=60).collect()
    assert len(out) == 1
    assert out[0]["pearson"] is None


def test_weighted_mean_udaf_zero_weight_is_null(spark):
    from nilm_data_framework_spark.operators.aggregates import (
        weighted_mean_udaf,
    )

    df = spark.createDataFrame(
        [("g", 5.0, 0.0), ("g", 7.0, 0.0)], "k string, v double, w double"
    )
    udaf = weighted_mean_udaf()
    row = df.groupBy("k").agg(udaf("v", "w").alias("wm")).collect()[0]
    # under ANSI (this session's default) the bare Divide twin RAISES on
    # zero weight; the graceful twin is try_divide, which returns NULL —
    # the UDAF must match that, not emit NaN (typed-hash flip)
    twin = df.groupBy("k").agg(
        F.try_divide(F.sum(F.col("v") * F.col("w")), F.sum("w")).alias("wm")
    ).collect()[0]
    assert row["wm"] is None and twin["wm"] is None  # NULL == NULL parity


def test_resample_mean_guarded_out_value(spark):
    """The resampled branch (1 s key) and the pass-through branch (120 s
    key, coarser than the 60 s target) emit the same columns, with
    ``value`` under ``power``."""
    from nilm_data_framework_spark.operators.resample import (
        resample_mean_guarded,
    )

    rows = [("fast", i, 2.0) for i in range(10)] + [
        ("slow", i * 120, 5.0) for i in range(3)
    ]
    df = spark.createDataFrame(
        rows, "key string, sec long, energy double"
    ).withColumn("ts", F.timestamp_seconds(F.col("sec")))
    out = resample_mean_guarded(df, ["key"], 60, value="energy")
    assert out.columns == ["key", "bucket_ts", "power"]
    got = sorted((r["key"], r["power"]) for r in out.collect())
    assert got == [("fast", 2.0), ("slow", 5.0), ("slow", 5.0), ("slow", 5.0)]
