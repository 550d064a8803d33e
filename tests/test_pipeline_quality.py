"""Unit/property tests for the round-4 pipeline-quality operators: DSIR
importance, Bloom decontamination, constraint suite, cohort retention,
sweep-line concurrency, sign-bit ANN, group split, curriculum, M4,
seasonal-naive error, PageRank step."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
import pytest

from nilm_data_framework_spark.operators import aggregates as AG
from nilm_data_framework_spark.operators import graph as G
from nilm_data_framework_spark.operators import lm as LM
from nilm_data_framework_spark.operators import quality_checks as QC
from nilm_data_framework_spark.operators import resample as RS
from nilm_data_framework_spark.operators import sampling as SM
from nilm_data_framework_spark.operators import similarity as S
from nilm_data_framework_spark.operators import sketches as SK
from nilm_data_framework_spark.operators import splits as SP
from nilm_data_framework_spark.operators import windows as W
from nilm_data_framework_spark.sources.testdata import load_table

SF_DIR = "/root/testdata/sf0.001"


# --- Bloom filter -------------------------------------------------------------


def test_bloom_never_misses_exact_members(spark):
    """Membership soundness: every gram INSERTED into the filter must probe
    positive (Bloom filters have false positives, never false negatives)."""
    grams = spark.createDataFrame(
        [(i, f"gram number {i}") for i in range(50)], "doc_id long, g string"
    )
    bits = SK.bloom_build(grams.select("g"), "g", m=1024, k=3)
    flagged = SK.bloom_probe_docs(grams, bits, ["doc_id"], "g", m=1024, k=3)
    assert flagged.count() == 50  # every doc's own gram hits


def test_bloom_probe_duplicate_doc_grams_no_false_negative(spark):
    """r4 advisor regression: duplicate (doc, gram) input rows used to
    double the surviving-row count past _need and silently UNFLAG a
    fully-set gram — a false negative breaking the Bloom contract. The
    probe now counts DISTINCT set positions, so callers need not
    pre-distinct their gram lists."""
    # doc 1's only overlapping gram appears twice; doc 2 is a clean control
    doc_grams = spark.createDataFrame(
        [(1, "shared gram"), (1, "shared gram"), (2, "shared gram")],
        "doc_id long, g string",
    )
    bits = SK.bloom_build(
        spark.createDataFrame([("shared gram",)], "g string"), "g", m=1024, k=3
    )
    flagged = {
        r["doc_id"]
        for r in SK.bloom_probe_docs(
            doc_grams, bits, ["doc_id"], "g", m=1024, k=3
        ).collect()
    }
    assert flagged == {1, 2}


def test_bloom_flags_are_superset_of_exact(spark):
    """On the real corpus: bloom-flagged docs ⊇ exact-overlap docs."""
    d = load_table(spark, SF_DIR, "documents")
    from nilm_data_framework_spark.operators import text as T

    grams = d.filter(F.col("doc_id") % 40 != 0).select(
        "doc_id", F.explode(T.word_ngrams(F.col("text"), 3)).alias("g")
    )
    eval_grams = (
        d.filter(F.col("doc_id") % 40 == 0)
        .select(F.explode(T.word_ngrams(F.col("text"), 3)).alias("g"))
        .distinct()
    )
    bits = SK.bloom_build(eval_grams, "g", m=4096, k=3)
    bloom_ids = {
        r["doc_id"]
        for r in SK.bloom_probe_docs(
            grams, bits, ["doc_id"], "g", m=4096, k=3
        ).collect()
    }
    exact_ids = {
        r["doc_id"] for r in grams.join(eval_grams, "g").select("doc_id").collect()
    }
    assert exact_ids <= bloom_ids


def test_bloom_positions_in_range(spark):
    df = spark.createDataFrame([("abc",), ("def",)], "g string")
    rows = df.select(SK.bloom_positions(F.col("g"), 64, 3).alias("p")).collect()
    for r in rows:
        assert len(r["p"]) == 3
        assert all(0 <= p < 64 for p in r["p"])


# --- constraint suite ---------------------------------------------------------


def test_check_report_flags_violations(spark):
    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, None, -1.0), (2, "b", 7.0)],
        "k long, s string, v double",
    )
    dim = spark.createDataFrame([(1,)], "k long")
    rep = {
        r["check_name"]: r
        for r in QC.check_report(
            df,
            [
                QC.AggCheck("complete_s", QC.completeness("s"), lo=1.0),
                QC.AggCheck("unique_k", QC.uniqueness("k"), lo=1.0),
                QC.AggCheck("v_nonneg", F.min("v"), lo=0.0),
            ],
            ref_checks=[("fk_k", "k", dim, "k")],
        ).collect()
    }
    assert not rep["complete_s"]["passed"]
    assert not rep["unique_k"]["passed"]
    assert not rep["v_nonneg"]["passed"]
    assert rep["fk_k"]["metric"] == 2.0 and not rep["fk_k"]["passed"]


def test_check_report_all_green(spark):
    df = spark.createDataFrame([(1, "x", 1.0), (2, "y", 2.0)], "k long, s string, v double")
    rep = QC.check_report(
        df,
        [
            QC.AggCheck("complete_s", QC.completeness("s"), lo=1.0),
            QC.AggCheck("unique_k", QC.uniqueness("k"), lo=1.0),
        ],
    )
    assert all(r["passed"] for r in rep.collect())


# --- cohort retention ---------------------------------------------------------


def test_cohort_retention_triangle(spark):
    # user 1 active periods 0,1,2; user 2 periods 1,2; user 3 period 0 only.
    rows = [
        (1, 10), (1, 100 + 86400), (1, 2 * 86400 + 5),
        (2, 86400 + 50), (2, 2 * 86400 + 50),
        (3, 20),
    ]
    df = spark.createDataFrame(rows, "user_id long, sec long").select(
        "user_id", F.timestamp_seconds("sec").alias("ts")
    )
    out = {
        (r["cohort_period"], r["period_offset"]): r["n_active"]
        for r in AG.cohort_retention(df, "user_id", period_s=86400).collect()
    }
    assert out[(0, 0)] == 2  # users 1, 3
    assert out[(0, 1)] == 1  # user 1
    assert out[(0, 2)] == 1
    assert out[(1, 0)] == 1  # user 2's cohort
    assert out[(1, 1)] == 1


# --- sweep-line concurrency ---------------------------------------------------


def test_sweepline_matches_naive_overlap_count(spark):
    """Peak from the sweep line equals the brute-force per-timepoint max."""
    import random

    rng = random.Random(7)
    iv = [(1, s := rng.randrange(0, 50), s + rng.randrange(1, 10)) for _ in range(40)]
    df = spark.createDataFrame(iv, "grp long, s long, e long")
    got = W.sweepline_concurrency(df, ["grp"], "s", "e").collect()[0]
    naive = max(
        sum(1 for _, s, e in iv if s <= t < e) for t in range(0, 61)
    )
    assert got["peak_concurrency"] == naive
    assert got["n_intervals"] == 40


def test_sweepline_half_open_no_double_count(spark):
    """[0,5) and [5,10) never overlap: peak is 1."""
    df = spark.createDataFrame([(1, 0, 5), (1, 5, 10)], "grp long, s long, e long")
    got = W.sweepline_concurrency(df, ["grp"], "s", "e").collect()[0]
    assert got["peak_concurrency"] == 1


# --- sign-bit quantization / Hamming ------------------------------------------


def test_sign_words_known_pattern(spark):
    # 64 dims: first 32 all >=0 -> word1 = 2^32-1; next 32 all <0 -> word2 = 0.
    vec = [1.0] * 32 + [-1.0] * 64
    df = spark.createDataFrame([(vec[:64],)], "v array<double>")
    got = df.select(S.sign_words(F.col("v"), 64).alias("w")).collect()[0]["w"]
    assert got == [2**32 - 1, 0]


def test_hamming_topk_self_nearest(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    out = S.hamming_rerank_topk(emb, q, k=3, dim=64, rerank=16)
    rows = out.collect()
    assert {r["query_id"] for r in rows} == {0, 1, 2, 3}
    for r in rows:
        assert r["match_id"] != r["query_id"]
        assert 0 <= r["hamming"] <= 64
        assert -1.0001 <= r["cosine"] <= 1.0001


def test_hamming_recall_vs_bruteforce(spark):
    """With a wide shortlist the binary path recovers most exact neighbors."""
    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    exact = S.brute_force_topk(emb, q, k=5)
    approx = S.hamming_rerank_topk(emb, q, k=5, dim=64, rerank=64)
    ex = {(r["query_id"], r["match_id"]) for r in exact.collect()}
    ap = {(r["query_id"], r["match_id"]) for r in approx.collect()}
    recall = len(ex & ap) / len(ex)
    assert recall >= 0.5  # sign bits at dim 64 are a coarse but real proxy


# --- group split --------------------------------------------------------------


def test_group_split_no_straddle(spark):
    d = load_table(spark, SF_DIR, "documents")
    s = SP.group_hash_split(d, "source", {"train": 0.8, "val": 0.1, "test": 0.1})
    straddle = (
        s.groupBy("source")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert straddle == 0


# --- curriculum ---------------------------------------------------------------


def test_curriculum_stages_monotone_ranges(spark):
    d = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "lang", F.length("text").alias("diff")
    )
    staged = SM.curriculum_stages(
        d, "lang", F.col("diff").asc(), 4, [F.col("doc_id").asc()]
    )
    spans = (
        staged.groupBy("lang", "stage")
        .agg(F.min("diff").alias("lo"), F.max("diff").alias("hi"))
        .collect()
    )
    by_lang: dict = {}
    for r in spans:
        by_lang.setdefault(r["lang"], []).append((r["stage"], r["lo"], r["hi"]))
    for lang, rows in by_lang.items():
        rows.sort()
        for (s1, _, hi1), (s2, lo2, _) in zip(rows, rows[1:]):
            assert hi1 <= lo2, f"stage ranges overlap for {lang}"


# --- M4 -----------------------------------------------------------------------


def test_m4_emits_bucket_extremes(spark):
    rows = [(1, t, float(v)) for t, v in [(0, 5), (10, 9), (20, 1), (30, 7)]]
    df = spark.createDataFrame(rows, "k long, sec long, value double").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "value"
    )
    out = RS.m4_downsample(df, ["k"], bucket_s=100)
    got = {r["point_role"]: r["point_value"] for r in out.collect()}
    assert got["min"] == 1.0 and got["max"] == 9.0
    assert got["first"] == 5.0 and got["last"] == 7.0
    assert out.count() == 4  # one bucket x 4 roles


# --- seasonal naive -----------------------------------------------------------


def test_seasonal_naive_detects_periodicity(spark):
    """A strictly daily-periodic series: seasonal forecast is perfect
    (MAE 0), naive is not -> ratio 0."""
    vals = [10.0 * (h % 24) for h in range(3 * 24)]  # period 24, hourly buckets
    rows = [(1, i * 3600, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k long, sec long, value double").select(
        "k", F.timestamp_seconds("sec").alias("ts"), "value"
    )
    out = RS.seasonal_naive_error(df, ["k"]).collect()[0]
    assert out["mae_seasonal"] == 0.0
    assert out["mae_naive"] > 0
    assert out["mase_ratio"] == 0.0


# --- PageRank -----------------------------------------------------------------


def test_pagerank_mass_conserved(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")], "src string, dst string"
    )
    ranks = G.pagerank_iteration(edges)
    total = ranks.agg(F.sum("rank")).collect()[0][0]
    assert math.isclose(total, 1.0, rel_tol=1e-9)


def test_pagerank_dangling_redistributes(spark):
    """Star a->b, a->c: b and c are dangling; mass must still sum to 1 and
    b,c each get more than the no-inlink floor."""
    edges = spark.createDataFrame([("a", "b"), ("a", "c")], "src string, dst string")
    got = {r["vertex"]: r["rank"] for r in G.pagerank_iteration(edges).collect()}
    assert math.isclose(sum(got.values()), 1.0, rel_tol=1e-9)
    assert got["b"] == got["c"] > got["a"]


def test_pagerank_uniform_on_cycle(spark):
    """On a directed cycle the uniform vector is the fixed point."""
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    got = {r["vertex"]: r["rank"] for r in G.pagerank_iteration(edges).collect()}
    for v in "abc":
        assert math.isclose(got[v], 1 / 3, rel_tol=1e-9)


# --- DSIR ---------------------------------------------------------------------


def test_dsir_prefers_target_lookalikes(spark):
    """Docs drawn from the target's vocabulary score higher than docs from a
    disjoint vocabulary."""
    target = [(i, "alpha beta gamma delta alpha beta", "t") for i in range(10)]
    lookalike = [(100 + i, "alpha beta gamma delta", "r") for i in range(5)]
    different = [(200 + i, "omega psi chi phi omega psi", "r") for i in range(5)]
    df = spark.createDataFrame(
        target + lookalike + different, "doc_id long, text string, source string"
    )
    out = {
        r["doc_id"]: r["log_w"]
        for r in LM.dsir_importance(df, F.col("source") == "t").collect()
    }
    assert min(out[i] for i in range(100, 105)) > max(out[i] for i in range(200, 205))


# --- asof_state_join (point-in-time lookup) -----------------------------------


def test_asof_state_join_carries_last_state(spark):
    from nilm_data_framework_spark.operators import joins as J

    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "x")], "k long, t long, s string"
    )
    left = spark.createDataFrame(
        [(1, 5), (1, 10), (1, 15), (1, 25), (2, 14), (2, 16)], "k long, t long"
    )
    out = {
        (r["k"], r["t"]): r["state"]
        for r in J.asof_state_join(
            left, right, ["k"], left_ts="t", right_ts="t", state_col="s"
        ).collect()
    }
    assert out[(1, 5)] is None          # before first state
    assert out[(1, 10)] == "a"          # at-or-before includes equal ts
    assert out[(1, 15)] == "a"
    assert out[(1, 25)] == "b"
    assert out[(2, 14)] is None
    assert out[(2, 16)] == "x"


# --- weighted median ----------------------------------------------------------


def test_weighted_median_known(spark):
    from nilm_data_framework_spark.operators import robust as RB

    # values 1..4 with weights 1,1,1,5: half of total 8 is 4 -> value 4.
    df = spark.createDataFrame(
        [(1, 1.0, 1.0), (1, 2.0, 1.0), (1, 3.0, 1.0), (1, 4.0, 5.0)],
        "g long, v double, w double",
    )
    got = RB.weighted_median(df, ["g"], "v", "w").collect()[0]
    assert got["wmedian"] == 4.0 and got["total_w"] == 8.0


def test_weighted_median_unit_weights_is_lower_median(spark):
    from nilm_data_framework_spark.operators import robust as RB

    df = spark.createDataFrame(
        [(1, float(v), 1.0) for v in [7, 1, 5, 3]], "g long, v double, w double"
    )
    got = RB.weighted_median(df, ["g"], "v", "w").collect()[0]
    assert got["wmedian"] == 3.0  # lower median of {1,3,5,7}


# --- count-min sketch ---------------------------------------------------------


def test_cms_never_undercounts(spark):
    from nilm_data_framework_spark.operators import sketches as SK

    items = spark.createDataFrame(
        [(f"tok{i}", (i % 7) + 1) for i in range(200)], "tok string, c long"
    )
    sketch = SK.cms_build(items, "tok", "c", depth=4, width=32)  # forced collisions
    est = SK.cms_estimate(items, sketch, "tok", depth=4, width=32)
    bad = est.filter(F.col("cms_est") < F.col("c")).count()
    assert bad == 0


def test_cms_exact_when_no_collisions(spark):
    from nilm_data_framework_spark.operators import sketches as SK

    items = spark.createDataFrame(
        [("a", 3), ("b", 5)], "tok string, c long"
    )
    sketch = SK.cms_build(items, "tok", "c", depth=4, width=4096)
    est = {r["tok"]: r["cms_est"] for r in
           SK.cms_estimate(items, sketch, "tok", depth=4, width=4096).collect()}
    assert est == {"a": 3, "b": 5}


# --- PSI ----------------------------------------------------------------------


def test_psi_zero_for_identical_halves(spark):
    from nilm_data_framework_spark.operators import robust as RB

    # blocks 0-99 / 200-299 are reference, 100-199 / 300-399 comparison:
    # both see the identical multiset {0..99} x2.
    rows = [(1, float(v % 100), (v // 100) % 2 == 0) for v in range(400)]
    df = spark.createDataFrame(rows, "g long, value double, is_ref boolean")
    got = RB.psi_drift(
        df, ["g"], "value", F.col("is_ref"), bin_width=25.0, n_bins=4
    ).collect()[0]
    assert abs(got["psi"]) < 1e-9


def test_psi_positive_under_shift(spark):
    from nilm_data_framework_spark.operators import robust as RB

    ref = [(1, float(v % 50), True) for v in range(200)]       # low values
    cmp_ = [(1, 50.0 + float(v % 50), False) for v in range(200)]  # high values
    df = spark.createDataFrame(ref + cmp_, "g long, value double, is_ref boolean")
    got = RB.psi_drift(
        df, ["g"], "value", F.col("is_ref"), bin_width=25.0, n_bins=4
    ).collect()[0]
    assert got["psi"] > 1.0  # disjoint supports -> large PSI
