"""Edge-case behavior of the pandas-kernel and join operators: empty inputs,
single rows, missing labels — the shapes that break at 100 TB when one
partition/group is degenerate."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import windows as W
from nilm_data_framework_spark.operators.joins import asof_join
from nilm_data_framework_spark.operators.tensorize import tensorize


def test_sliding_windows_short_series_yield_nothing(spark):
    pdf = pd.DataFrame({"k": ["a"] * 3, "t": [1, 2, 3], "v": [1.0, 2.0, 3.0]})
    df = spark.createDataFrame(pdf)
    assert W.sliding_windows_grouped(df, ["k"], seq_len=8, step=4, ts="t", value="v").count() == 0
    assert W.sliding_windows_sql(df, ["k"], seq_len=8, step=4, ts="t", value="v").count() == 0


def test_tensorize_house_without_aggregate_dropped(spark):
    # house 2 has no 'agg' label → contributes no windows; house 1 does
    rows = []
    for h, labels in [(1, ["agg", "x"]), (2, ["x"])]:
        for lab in labels:
            for t in range(10):
                rows.append((h, lab, t, float(t)))
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["h", "lab", "t", "v"]))
    out = tensorize(
        df, house="h", label="lab", ts="t", value="v",
        aggregate_label="agg", target_labels=["x"], seq_len=4, step=2,
    ).collect()
    assert {r["h"] for r in out} == {1}
    assert len(out) == (10 - 4) // 2 + 1


def test_tensorize_missing_target_label_zero_filled(spark):
    rows = [(1, "agg", t, float(t + 1)) for t in range(6)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["h", "lab", "t", "v"]))
    out = tensorize(
        df, house="h", label="lab", ts="t", value="v",
        aggregate_label="agg", target_labels=["x", "y"], seq_len=3, step=3,
    ).collect()
    assert len(out) == 2
    for r in out:
        assert r["labels"] == ["x", "y"]
        assert all(v == 0.0 for row in r["y"] for v in row)


def test_asof_join_empty_right_side(spark):
    left = spark.createDataFrame(pd.DataFrame({"k": [1, 1], "ts": [10, 20], "x": [1, 2]}))
    right = spark.createDataFrame([], "k long, ts long, power double")
    out = asof_join(left, right, keys=["k"]).collect()
    assert len(out) == 2
    assert all(r["asof_value"] is None for r in out)


def test_run_segments_single_row(spark):
    df = spark.createDataFrame(pd.DataFrame({"k": ["a"], "t": [1], "state": [1]}))
    out = W.run_segments(df, keys=["k"], ts="t", state="state").collect()
    assert len(out) == 1
    assert (out[0]["state"], out[0]["n_samples"]) == (1, 1)
    assert out[0]["start_ts"] == out[0]["end_ts"] == 1


def test_boilerplate_detection_contract(spark):
    from nilm_data_framework_spark.operators.text import (
        boilerplate_coverage,
        frequent_ngrams,
    )

    # "the quick brown" occurs in 3 docs → boilerplate at min_docs=3;
    # everything else is unique. Doc 3 is too short for any 3-gram.
    rows = [
        (0, "the quick brown fox jumps"),
        (1, "the quick brown dog sleeps"),
        (2, "see the quick brown cat"),
        (3, "hi there"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    freq = frequent_ngrams(df)
    assert freq.count() == 1  # only "the quick brown"

    cov = {r["doc_id"]: r for r in boilerplate_coverage(df, freq).collect()}
    assert 3 not in cov  # too short → no grams → absent
    assert cov[0]["n_grams"] == 3 and cov[0]["n_boiler"] == 1
    assert cov[2]["n_grams"] == 3 and cov[2]["n_boiler"] == 1
    assert cov[1]["boiler_ratio_e4"] == 3333  # round-half-up(1e4/3)


def test_scd2_intervals_collapses_runs(spark):
    # A→A→B→A per one key: 3 intervals, consecutive-equal collapsed, last open.
    rows = [(1, 10, "A"), (1, 20, "A"), (1, 30, "B"), (1, 40, "A"), (2, 5, "X")]
    df = spark.createDataFrame(rows, "k long, t long, a string")
    out = (
        W.scd2_intervals(df, key="k", ts="t", attr="a")
        .orderBy("k", "valid_from")
        .collect()
    )
    got = [(r["k"], r["a"], r["valid_from"], r["valid_to"]) for r in out]
    assert got == [
        (1, "A", 10, 30),
        (1, "B", 30, 40),
        (1, "A", 40, None),
        (2, "X", 5, None),
    ]


def test_hard_negatives_never_returns_same_label(spark):
    from nilm_data_framework_spark.operators.similarity import hard_negatives

    rows = [(i, [float(i), 1.0], i % 2) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    out = hard_negatives(df, df.filter("vec_id < 2"), k=3)
    joined = out.join(
        df.select(F.col("vec_id").alias("match_id"), F.col("label").alias("m_label")),
        "match_id",
    ).join(
        df.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")),
        "query_id",
    )
    assert joined.filter("m_label = q_label").count() == 0
    assert out.groupBy("query_id").count().filter("count != 3").count() == 0


def test_unigram_surprisal_uniform_vs_rare(spark):
    from nilm_data_framework_spark.operators.text import unigram_surprisal

    # doc 0 = common tokens only; doc 1 contains a hapax → higher surprisal.
    rows = [(0, "a a b b"), (1, "a b zzz")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["surprisal"] for r in unigram_surprisal(df).collect()}
    assert got[1] > got[0] > 0
