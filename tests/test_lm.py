"""Kernel/property tests for operators/lm.py and the incremental LSH join
(operators/dedup.py:minhash_lsh_join). Cross-engine value parity runs in
tests/test_oracle_parity.py via the registry; these pin the semantics."""

from __future__ import annotations

import math

import pandas as pd
import pytest

from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import dedup as D
from nilm_data_framework_spark.operators import lm as L

DOCS = [
    # two coherent docs sharing order, one order-scrambled doc, one short doc
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "dog lazy the over jumps fox brown quick the"),
    (3, "hello"),
]


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_vocab_total_order_deterministic(spark, docs_df):
    a = [tuple(r) for r in L.vocab_top_tokens(docs_df, vocab_size=5).collect()]
    b = [tuple(r) for r in L.vocab_top_tokens(docs_df, vocab_size=5).collect()]
    assert a == b
    counts = [c for _, c in a]
    assert counts == sorted(counts, reverse=True)
    # ties broken by token text ascending
    for (t1, c1), (t2, c2) in zip(a, a[1:]):
        if c1 == c2:
            assert t1 < t2


def test_oov_rate_full_vocab_is_zero(spark, docs_df):
    out = {r["doc_id"]: r for r in L.oov_rate(docs_df, vocab_size=1000).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert all(r["n_oov"] == 0 and r["oov_rate_e4"] == 0 for r in out.values())


def test_oov_rate_counts_occurrences_not_types(spark, docs_df):
    # vocab_size=1 → vocab = {"the"} (5 occurrences, the max);
    # doc 0 has 9 tokens, 2 of them "the" → 7 OOV occurrences.
    out = {r["doc_id"]: r for r in L.oov_rate(docs_df, vocab_size=1).collect()}
    assert out[0]["n_tok"] == 9
    assert out[0]["n_oov"] == 7
    assert out[3]["n_oov"] == 1  # "hello" not in vocab


def test_bigram_surprisal_order_sensitivity(spark, docs_df):
    """The scrambled doc (2) uses the same unigrams as doc 0 but rare
    bigram orders → strictly higher surprisal; the sub-2-token doc emits
    no row."""
    out = {r["doc_id"]: r["bigram_surprisal"] for r in L.bigram_surprisal(docs_df).collect()}
    assert 3 not in out
    assert out[2] > out[0]


def test_bigram_surprisal_closed_form_single_pair(spark):
    # corpus = one doc "a b": c_bi=1, c_a=1, c_b=1, N=2
    # P(b|a) = 3/4 * 1/1 + 1/4 * 1/2 = 7/8 → score = -ln(7/8)
    df = spark.createDataFrame(pd.DataFrame([(0, "a b")], columns=["doc_id", "text"]))
    [row] = L.bigram_surprisal(df).collect()
    assert row["n_bigrams"] == 1
    assert row["bigram_surprisal"] == pytest.approx(round(-math.log(7 / 8), 4))


def test_incremental_join_equals_crossing_subset(spark, docs_df):
    """minhash_lsh_join(new, ref) must equal exactly the minhash_lsh_pairs
    results that cross the split (same hash seed ⇒ same buckets)."""
    from tests.test_dedup_kernels import DOCS as NEAR_DOCS

    df = spark.createDataFrame(pd.DataFrame(NEAR_DOCS, columns=["doc_id", "text"]))
    full = {
        frozenset((r["id_a"], r["id_b"])): round(r["jaccard"], 6)
        for r in D.minhash_lsh_pairs(df, jaccard_threshold=0.3).collect()
    }
    new = df.filter(F.col("doc_id") % 2 == 0)
    ref = df.filter(F.col("doc_id") % 2 != 0)
    inc = {
        frozenset((r["new_id"], r["ref_id"])): round(r["jaccard"], 6)
        for r in D.minhash_lsh_join(new, ref, jaccard_threshold=0.3).collect()
    }
    expected = {
        k: v
        for k, v in full.items()
        if len({i % 2 for i in k}) == 2  # one even (new), one odd (ref)
    }
    assert inc == expected
    assert inc, "split produced no crossing pairs — fixture is vacuous"
    # scoped persists: nothing may stay in the CacheManager after the call
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "minhash_lsh_join leaked a cached plan"


def test_doc_chunks_semantics(spark):
    from nilm_data_framework_spark.operators.text import doc_chunks

    df = spark.createDataFrame(
        pd.DataFrame(
            [(0, " ".join(f"t{i}" for i in range(20))), (1, "a b"), (2, "")],
            columns=["doc_id", "text"],
        )
    )
    rows = {
        (r["doc_id"], r["chunk_idx"]): r
        for r in doc_chunks(df).collect()
    }
    # doc 0: 20 tokens -> starts 1, 9, 17 -> lens 16, 12, 4 (tail kept)
    assert [(rows[(0, i)]["start_tok"], rows[(0, i)]["n_tok"]) for i in range(3)] == [
        (1, 16), (9, 12), (17, 4)
    ]
    assert rows[(0, 2)]["chunk_text"] == "t16 t17 t18 t19"
    # doc 1: single short chunk; doc 2: empty -> no chunks
    assert rows[(1, 0)]["n_tok"] == 2
    assert not any(d == 2 for d, _ in rows)
    # overlap: chunk 1 of doc 0 starts mid-chunk-0
    assert rows[(0, 1)]["chunk_text"].startswith("t8 t9")


def test_cms_estimate_unseen_item_is_zero(spark):
    """Standard CMS contract (r7): probing a never-seen item whose buckets
    hold no counters must return 0 (min over empty cells), and the probe
    row must not vanish — the inner-join form dropped or overestimated
    it."""
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )

    items = spark.createDataFrame([("alpha", 7), ("beta", 3)], "item string, c long")
    sk = cms_build(items, "item", "c", depth=4, width=4096)
    q = spark.createDataFrame(
        [("alpha",), ("never-seen-item-xyz",)], "item string"
    )
    est = {r["item"]: r["cms_est"] for r in cms_estimate(q, sk, "item", 4, 4096).collect()}
    assert est["alpha"] == 7
    assert est["never-seen-item-xyz"] == 0  # row present, zero estimate


def test_common_neighbors_excludes_reversed_adjacent_pairs(spark):
    """An edge stored as (2,1) (violating src<dst) must still disqualify
    the pair (1,2) from the non-adjacent predictions."""
    from nilm_data_framework_spark.operators.graph import common_neighbors_topk

    edges = spark.createDataFrame(
        [(2, 1), (1, 3), (2, 3)], "src long, dst long"
    )
    out = common_neighbors_topk(edges, k=10).collect()
    assert all((r["v1"], r["v2"]) != (1, 2) for r in out)
