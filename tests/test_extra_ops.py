"""Kernel tests for extension operators behind graph, similarity, retrieval
and curation queries: transitive closure, Gram matrix, inverted index,
temporal embargo split."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.embed_stats import gram_matrix_u6
from nilm_data_framework_spark.operators.graph import kcore_peel, transitive_closure
from nilm_data_framework_spark.operators.splits import temporal_embargo_split
from nilm_data_framework_spark.operators.text import inverted_index


def test_transitive_closure_chain_and_forest(spark):
    # chain 5→4→3→2→1 plus a separate edge 10→9: depths must be exact and
    # the doubling recombination must not duplicate (node, anc) pairs.
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 2), (2, 1), (10, 9)], "child long, parent long"
    )
    rows = {
        (r.node, r.anc): r.depth
        for r in transitive_closure(edges, rounds=3).collect()
    }
    assert rows[(5, 4)] == 1 and rows[(5, 3)] == 2 and rows[(5, 2)] == 3
    assert rows[(5, 1)] == 4 and rows[(2, 1)] == 1 and rows[(10, 9)] == 1
    assert len(rows) == 4 + 3 + 2 + 1 + 1  # chain closure + lone edge


def test_transitive_closure_rounds_bound_depth(spark):
    # rounds=1 covers paths of length ≤ 2 only.
    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1)], "child long, parent long"
    )
    rows = {(r.node, r.anc) for r in transitive_closure(edges, rounds=1).collect()}
    assert (4, 2) in rows and (4, 1) not in rows


def test_gram_matrix_exact_known(spark):
    # vectors (1.0, 0.5), (0.25, -0.5) in u6 units: (1e6, 5e5), (25e4, -5e5)
    df = spark.createDataFrame(
        [([1.0, 0.5],), ([0.25, -0.5],)], "embedding array<float>"
    )
    got = {(r.i, r.j): (r.g, r.n) for r in gram_matrix_u6(df).collect()}
    q = [(1_000_000, 500_000), (250_000, -500_000)]
    assert got[(0, 0)] == (q[0][0] ** 2 + q[1][0] ** 2, 2)
    assert got[(0, 1)] == (q[0][0] * q[0][1] + q[1][0] * q[1][1], 2)
    assert got[(1, 1)] == (q[0][1] ** 2 + q[1][1] ** 2, 2)
    assert set(got) == {(0, 0), (0, 1), (1, 1)}  # upper triangle only


def test_inverted_index_postings_digest(spark):
    df = spark.createDataFrame(
        [(2, "b a a"), (1, "a c"), (3, "c a")], "doc_id long, text string"
    )
    got = {r.tok: r for r in inverted_index(df, top_terms=10).collect()}
    assert got["a"].df == 3 and got["a"].tf_total == 4
    assert got["b"].df == 1 and got["c"].df == 2
    # digest = md5 of the NUMERICALLY sorted comma-joined posting list
    assert got["a"].posting_md5 == hashlib.md5(b"1,2,3").hexdigest()
    assert got["c"].posting_md5 == hashlib.md5(b"1,3").hexdigest()


def test_inverted_index_top_terms_cut(spark):
    df = spark.createDataFrame(
        [(1, "x y"), (2, "x"), (3, "x y z")], "doc_id long, text string"
    )
    toks = [r.tok for r in inverted_index(df, top_terms=2).collect()]
    assert toks == ["x", "y"]  # df desc, term asc


def test_temporal_embargo_split_exact_cutoff(spark):
    # 10 events at us=0..9, one user each; k = floor(0.8*10) = 8 → cutoff is
    # the 8th smallest value (us=7). train: us<7 (7 rows); embargo width 2:
    # us in [7, 9) (2 rows); test: us>=9 (1 row).
    df = spark.createDataFrame(
        [(i, i % 3) for i in range(10)], "us long, user_id long"
    )
    got = {
        r.split: r
        for r in temporal_embargo_split(
            df, "us", "user_id", embargo_us=2
        ).collect()
    }
    assert (got["train"].n_events, got["train"].min_us, got["train"].max_us) == (7, 0, 6)
    assert (got["embargo"].n_events, got["embargo"].min_us) == (2, 7)
    assert (got["test"].n_events, got["test"].min_us) == (1, 9)
    assert got["train"].n_users == 3


def test_temporal_embargo_split_ties_by_value(spark):
    # duplicate timestamps at the cutoff land on ONE side (by value): 4 rows
    # all at us=5 plus 4 earlier → k = floor(0.8*8) = 6 → cutoff value is 5
    # (cum count at 5 is 8 ≥ 6); train = us<5 → 4 rows, embargo gets all of
    # the tied rows.
    rows = [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1), (5, 2), (5, 3), (5, 4)]
    df = spark.createDataFrame(rows, "us long, user_id long")
    got = {
        r.split: r.n_events
        for r in temporal_embargo_split(df, "us", "user_id", embargo_us=10).collect()
    }
    assert got == {"train": 4, "embargo": 4}


def test_kcore_peel_known_graph(spark):
    # square 1-2-3-4-1 plus pendant 5-1: 2-core removes the pendant, keeps
    # the cycle with degree 2 each; node 5 (deg 1) and its edge vanish.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (5, 1)], "src long, dst long"
    )
    from nilm_data_framework_spark.operators.graph import kcore_peel

    got = {r.node: r.deg for r in kcore_peel(edges, k=2, rounds=3).collect()}
    assert got == {1: 2, 2: 2, 3: 2, 4: 2}


def test_kcore_peel_cascading_removal(spark):
    # chain 1-2-3-4: every node has deg <= 2 but a 2-core requires the
    # cycle; peeling cascades from the endpoints and (given enough rounds)
    # empties the graph entirely.
    from nilm_data_framework_spark.operators.graph import kcore_peel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    assert kcore_peel(edges, k=2, rounds=4).count() == 0
    # one round = a plain degree cut: only interior nodes survive round 1,
    # but their degrees (within the restricted graph) already drop
    assert kcore_peel(edges, k=2, rounds=1).count() == 2


# --- randomized reference equivalence (hypothesis) ---------------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_HSET = settings(
    # 6 (was 12): driver pytest budget, r10 — same derandomized rationale
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)


@given(
    parents=st.lists(st.integers(0, 24), min_size=1, max_size=25),
)
@_HSET
def test_transitive_closure_matches_reference(spark, parents):
    # random parent forest on nodes 1..n: parent(i) drawn below i (or i-1's
    # value clipped) so it's acyclic; reference closure by chain-walking.
    edges = [(i + 1, min(parents[i], i)) for i in range(len(parents))]
    edges = [(c, p) for c, p in edges if p >= 0 and p != c]
    if not edges:
        return
    parent = dict(edges)
    expect = {}
    for c in parent:
        node, d = c, 0
        while node in parent:
            node = parent[node]
            d += 1
            expect[(c, node)] = d
    df = spark.createDataFrame(edges, "child long, parent long")
    got = {
        (r.node, r.anc): r.depth
        for r in transitive_closure(df, rounds=5).collect()
    }
    assert got == expect


@given(
    us=st.lists(st.integers(0, 50), min_size=2, max_size=60),
    frac=st.sampled_from([(1, 2), (4, 5), (9, 10)]),
    embargo=st.integers(1, 10),
)
@_HSET
def test_temporal_embargo_matches_reference(spark, us, frac, embargo):
    num, den = frac
    k = (len(us) * num) // den
    if k == 0:
        return
    cutoff = sorted(us)[k - 1]
    expect = {}
    for t in us:
        s = "train" if t < cutoff else ("embargo" if t < cutoff + embargo else "test")
        expect[s] = expect.get(s, 0) + 1
    rows = [(t, i % 5) for i, t in enumerate(us)]
    df = spark.createDataFrame(rows, "us long, user_id long")
    got = {
        r.split: r.n_events
        for r in temporal_embargo_split(
            df, "us", "user_id", train_num=num, train_den=den, embargo_us=embargo
        ).collect()
    }
    assert got == expect


@given(
    edge_idx=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)), min_size=1, max_size=30
    ),
    k=st.integers(2, 3),
)
@_HSET
def test_kcore_matches_reference_peel(spark, edge_idx, k):
    edges = sorted({(min(a, b), max(a, b)) for a, b in edge_idx if a != b})
    if not edges:
        return
    # reference: the same FIXED-ROUND partial peel (3 degree passes)
    from collections import Counter

    surv = edges
    for _ in range(2):
        deg = Counter([u for e in surv for u in e])
        keep = {u for u, d in deg.items() if d >= k}
        surv = [e for e in surv if e[0] in keep and e[1] in keep]
    deg = Counter([u for e in surv for u in e])
    expect = {u: d for u, d in deg.items() if d >= k}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.deg for r in kcore_peel(df, k=k, rounds=3).collect()}
    assert got == expect


@given(
    vecs=st.lists(
        st.lists(
            st.floats(-2, 2, allow_nan=False, allow_infinity=False, width=32),
            min_size=3,
            max_size=3,
        ),
        min_size=1,
        max_size=12,
    ),
)
@_HSET
def test_gram_matrix_matches_numpy(spark, vecs):
    import math

    import numpy as np

    q = np.array(
        [[math.floor(float(np.float32(x)) * 1_000_000) for x in v] for v in vecs],
        dtype=np.int64,
    )
    expect = q.T @ q
    df = spark.createDataFrame([(v,) for v in vecs], "embedding array<float>")
    got = {(r.i, r.j): r.g for r in gram_matrix_u6(df).collect()}
    for i in range(3):
        for j in range(i, 3):
            assert got[(i, j)] == expect[i][j]


# --- edge cases --------------------------------------------------------------


def test_closure_empty_edges(spark):
    edges = spark.createDataFrame([], "child long, parent long")
    assert transitive_closure(edges, rounds=2).count() == 0


def test_inverted_index_empty_and_blank_docs(spark):
    df = spark.createDataFrame([(1, ""), (2, "   ")], "doc_id long, text string")
    assert inverted_index(df).count() == 0


def test_gram_matrix_single_vector(spark):
    df = spark.createDataFrame([([0.5, -0.5],)], "embedding array<float>")
    got = {(r.i, r.j): (r.g, r.n) for r in gram_matrix_u6(df).collect()}
    assert got == {
        (0, 0): (500_000**2, 1),
        (0, 1): (500_000 * -500_000, 1),
        (1, 1): (500_000**2, 1),
    }


def test_kcore_all_below_threshold(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert kcore_peel(edges, k=5, rounds=2).count() == 0


def test_transitive_closure_converges_unbounded(spark):
    # rounds=None loops until fixpoint: a depth-6 chain needs 3 doubling
    # rounds (+1 to detect convergence) and must produce the full closure.
    edges = spark.createDataFrame(
        [(i, i - 1) for i in range(2, 8)], "child long, parent long"
    )
    rows = {(r.node, r.anc): r.depth for r in
            transitive_closure(edges, rounds=None).collect()}
    assert rows[(7, 1)] == 6 and len(rows) == sum(range(1, 7))


def test_poisson_bootstrap_weights_distribution(spark):
    # deterministic draws must approximate Poisson(1): on 2000 keys × 5
    # replicates, mean weight ≈ 1 and P(w=0) ≈ e^-1 ≈ 0.368.
    from nilm_data_framework_spark.operators.robust import poisson_bootstrap_sums

    df = spark.createDataFrame([(i, 1) for i in range(2000)], "k long, v long")
    out = poisson_bootstrap_sums(df, "k", "v", replicates=5).collect()
    assert len(out) == 5
    total_w = sum(r.n_eff for r in out)
    assert abs(total_w / 10_000 - 1.0) < 0.05  # mean weight ~ 1
    # determinism: same call, same numbers
    again = poisson_bootstrap_sums(df, "k", "v", replicates=5).collect()
    assert sorted((r.b, r.n_eff, r.total) for r in out) == sorted(
        (r.b, r.n_eff, r.total) for r in again
    )
    # replicates differ from each other (independent draws per b)
    assert len({r.n_eff for r in out}) > 1
