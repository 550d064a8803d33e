"""Python-oracle parity for the rows-only dedup kernels: the oracle
re-implements the md5-based hashing contract in pure Python/hashlib, so
agreement validates the Spark column-expression implementation."""

from __future__ import annotations

import hashlib
import random
import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import dedup as D

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy cat"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (3, "completely different content with no overlap at all here"),
    (4, "the quick brown fox jumps over the lazy dog today"),
    (5, "   the   quick  brown fox jumps over the lazy dog "),  # ws-variant of 0
    (6, "short"),
    (7, ""),
]


def _pdf(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def _py_md5_64(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_shingles(text: str, n: int = 3) -> set[str]:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def _py_minhash_pairs(n_hashes=16, bands=4, thr=0.5, seed=42):
    p = (1 << 31) - 1
    rng = random.Random(seed)
    params = [(rng.randrange(1, p), rng.randrange(0, p)) for _ in range(n_hashes)]
    sigs, shs = {}, {}
    for doc_id, text in DOCS:
        sh = _py_shingles(text)
        if not sh:
            continue
        shs[doc_id] = sh
        hs = [_py_md5_64(s) % p for s in sh]
        sigs[doc_id] = [min((h * a + b) % p for h in hs) for a, b in params]
    rows_per = n_hashes // bands
    buckets: dict[tuple, set[int]] = {}
    for d, sig in sigs.items():
        for b in range(bands):
            key = (b, tuple(sig[b * rows_per : (b + 1) * rows_per]))
            buckets.setdefault(key, set()).add(d)
    cands = set()
    for members in buckets.values():
        ms = sorted(members)
        for i in range(len(ms)):
            for j in range(i + 1, len(ms)):
                cands.add((ms[i], ms[j]))
    out = {}
    for a, b in cands:
        inter = len(shs[a] & shs[b])
        union = len(shs[a] | shs[b])
        j = inter / union
        if j >= thr:
            out[(a, b)] = round(j, 6)
    return out


def test_minhash_matches_python_oracle(spark):
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 6)
        for r in D.minhash_lsh_pairs(_pdf(spark), jaccard_threshold=0.5).collect()
    }
    assert got == _py_minhash_pairs()


def test_minhash_signature_deterministic(spark):
    a = D.minhash_lsh_pairs(_pdf(spark)).collect()
    b = D.minhash_lsh_pairs(_pdf(spark)).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))


def _py_simhash(text: str) -> int:
    toks = [t for t in re.split(r"\s+", text.lower()) if t]
    votes = [0] * 63
    for t in toks:
        h = _py_md5_64(t)
        for i in range(63):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(63) if votes[i] > 0)


def test_simhash_matches_python_oracle(spark):
    got = {r["id"]: r["simhash"] for r in D.simhash(_pdf(spark)).collect()}
    expected = {
        doc_id: _py_simhash(text) for doc_id, text in DOCS if _py_shingles(text, 1)
    }
    assert got == expected


def test_simhash_near_pairs_finds_exact_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_pairs(_pdf(spark), max_hamming=3).collect()
    }
    assert pairs.get((0, 2)) == 0  # identical docs → hamming 0
    assert pairs.get((0, 5)) == 0  # whitespace/case variants tokenize equal


def test_exact_dedup_survivors(spark):
    out = D.dedup_exact(_pdf(spark)).select("doc_id").collect()
    ids = sorted(r["doc_id"] for r in out)
    # 2 and 5 normalize to doc 0's text → dropped; min-id survivors remain
    assert ids == [0, 1, 3, 4, 6, 7]


def test_exact_dup_groups(spark):
    out = D.exact_dup_groups(_pdf(spark)).collect()
    assert len(out) == 1
    assert out[0]["n_dups"] == 3 and out[0]["keep_id"] == 0


def test_ngram_jaccard_threshold(spark):
    df = _pdf(spark).withColumn("blk", F.lit("all"))
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, block_col="blk", threshold=0.3).collect()
    }
    for (a, b), j in got.items():
        sa, sb = _py_shingles(DOCS[a][1]), _py_shingles(DOCS[b][1])
        assert j == pytest.approx(len(sa & sb) / len(sa | sb))
    assert (0, 2) in got and got[(0, 2)] == 1.0


def test_dedup_exact_idempotent(spark):
    """Property: dedup(dedup(X)) == dedup(X) (SURVEY §5 property tests)."""
    from nilm_data_framework_spark.operators.dedup import dedup_exact

    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5],
            "text": ["a b", "A  b", "c", "c ", "d"],
        }
    )
    df = spark.createDataFrame(pdf)
    once = dedup_exact(df)
    twice = dedup_exact(once)
    a = sorted(tuple(r) for r in once.collect())
    b = sorted(tuple(r) for r in twice.collect())
    assert a == b
    assert [r[0] for r in a] == [1, 3, 5]


def test_ngram_jaccard_exact_vs_naive_quadratic(spark):
    """Length-bucket blocking must be LOSSLESS: output identical to the
    all-pairs-within-block quadratic, including pairs whose sizes straddle a
    bucket boundary."""
    docs = list(DOCS) + [
        (8, " ".join(f"w{i}" for i in range(40))),
        (9, " ".join(f"w{i}" for i in range(41))),   # near-dup of 8, adjacent size
        (10, " ".join(f"w{i}" for i in range(200))),
        (11, " ".join(f"w{i}" for i in range(205))), # near-dup of 10
    ]
    df = spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "text"])
    ).withColumn("blk", F.lit("en"))
    thr = 0.3
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(df, block_col="blk", threshold=thr).collect()
    }
    expected = {}
    for i, (ida, ta) in enumerate(docs):
        for idb, tb in docs[i + 1 :]:
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            if not sa or not sb:
                continue
            j = len(sa & sb) / len(sa | sb)
            if j >= thr:
                expected[(ida, idb)] = j
    assert set(got) == set(expected)
    for k, j in expected.items():
        assert got[k] == pytest.approx(j)


def test_ngram_jaccard_candidates_subquadratic_on_skewed_block(spark):
    """Contract (VERDICT r1 item 4): one dominant block must NOT imply
    O(N^2) candidate pairs when lengths vary — candidates form only within
    same/adjacent length buckets."""
    from nilm_data_framework_spark.operators.dedup import _length_blocked_candidates
    from nilm_data_framework_spark.operators.text import word_ngrams

    rng = random.Random(7)
    docs = []
    for i in range(60):
        n_words = int(4 * (1.6 ** (i % 12))) + rng.randrange(3)  # 4..~1100 words
        docs.append((i, " ".join(f"t{i}_{k}" for k in range(n_words))))
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    g = df.select(
        F.col("doc_id").alias("id"), F.lit("en").alias("blk"),
        word_ngrams(F.col("text"), 3).alias("g"),
    ).filter(F.size("g") > 0)
    n = g.count()
    # candidates are double-counted (both orders) at most → compare to 2*C(n,2)
    n_cand = _length_blocked_candidates(g, 0.3).count()
    full_quadratic = n * (n - 1)
    assert n_cand < full_quadratic * 0.45, (n_cand, full_quadratic)


def test_minhash_leaves_no_cached_plans(spark):
    """VERDICT r1 item 6: the shingle persist must not outlive the call in a
    shared session. persist() registers the plan in Catalyst's CacheManager,
    which never auto-evicts — an un-unpersisted cache would sit there
    forever. (The localCheckpoint blocks of the returned result are owned by
    its RDD and reclaimed by the ContextCleaner, not the CacheManager.)"""
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "test precondition: cache manager not empty"
    out = D.minhash_lsh_pairs(_pdf(spark))
    assert out.count() > 0
    assert cm.isEmpty(), "minhash_lsh_pairs leaked a cached plan"


def test_minhash_shared_hashed_identical_and_caller_owned(spark):
    """r9 optimization round: the shared-``hashed`` kwarg (one shingle+md5
    scan feeding several LSH operator calls) must (a) produce the exact
    pair set of the self-hashing form and (b) leave the caller-owned frame
    cached (the operator neither persists nor unpersists it) while still
    leaking nothing of its own into the CacheManager."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "test precondition: cache manager not empty"
    df = _pdf(spark)
    base = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 9))
        for r in D.minhash_lsh_pairs(df).collect()
    }
    h = D._hashed_shingles(df).persist()
    try:
        shared = {
            (r["id_a"], r["id_b"], round(r["jaccard"], 9))
            for r in D.minhash_lsh_pairs(df, hashed=h).collect()
        }
        assert shared == base
        # caller's cache must survive the call (the operator would
        # previously have unpersisted its own hashed frame here)
        assert not cm.isEmpty(), "operator unpersisted the caller's frame"
    finally:
        h.unpersist()
    assert cm.isEmpty(), "shared-hashed call leaked a cached plan"


def test_lsh_reference_rejects_other_minhash_settings(spark, tmp_path):
    """A reference hashed with other MinHash settings shares almost no
    buckets with a batch, so every batch would screen clean: the readers
    raise on a meta row that differs from the module constants."""
    df = _pdf(spark)
    prefix = "t_lsh_meta_check"
    D.write_lsh_reference(df, prefix, buckets=2, path=str(tmp_path / "ref"))
    try:
        assert D.read_lsh_reference(spark, prefix)[2]["seed"] == D.MINHASH_SEED
        spark.createDataFrame(
            [(D.SHINGLE_N, D.NUM_HASHES, D.BANDS, D.MINHASH_SEED + 1, 2)],
            "shingle_n int, num_hashes int, bands int, seed int, buckets int",
        ).write.mode("overwrite").option("path", str(tmp_path / "meta2")).format(
            "parquet"
        ).saveAsTable(f"{prefix}_meta")
        with pytest.raises(ValueError, match="MinHash settings"):
            D.minhash_lsh_join_reference(df, prefix)
        with pytest.raises(ValueError, match="MinHash settings"):
            D.append_lsh_reference(df, prefix)
    finally:
        for s in ("buckets", "hs", "meta"):
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{s}")


def test_connected_components_transitive_chain(spark):
    """A~B, B~C must cluster {A,B,C} together even though the A-C pair was
    never emitted; disjoint pairs and edge-less nodes keep their own ids."""
    import pandas as pd

    nodes = spark.createDataFrame(pd.DataFrame({"id": [1, 2, 3, 4, 5, 6, 9]}))
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": [1, 2, 5], "id_b": [2, 3, 6]})
    )
    out = {
        r["node"]: r["cluster_id"]
        for r in D.connected_components(nodes, edges, id_col="id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 9: 9}


def test_connected_components_long_chain_converges(spark):
    """Diameter > 2 exercises multiple propagation rounds."""
    import pandas as pd

    n = 12
    nodes = spark.createDataFrame(pd.DataFrame({"id": list(range(n))}))
    edges = spark.createDataFrame(
        pd.DataFrame({"id_a": list(range(n - 1)), "id_b": list(range(1, n))})
    )
    out = D.connected_components(nodes, edges, id_col="id").collect()
    assert {r["cluster_id"] for r in out} == {0}
    assert len(out) == n


def test_ngram_overlap_pairs_counts(spark):
    """Decontamination: shared-distinct-n-gram counts, threshold filter."""
    import pandas as pd

    from nilm_data_framework_spark.operators.text import ngram_overlap_pairs

    train = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["the quick brown fox jumps over the lazy dog",
                 "completely different words entirely here now"],
    }))
    ev = spark.createDataFrame(pd.DataFrame({
        "doc_id": [100],
        "text": ["quick brown fox jumps high over anything"],
    }))
    rows = {(r["train_id"], r["eval_id"]): r["n_shared"]
            for r in ngram_overlap_pairs(train, ev).collect()}
    # shared 3-grams between doc1 and eval: "quick brown fox", "brown fox jumps"
    assert rows == {(1, 100): 2}


def test_repetition_scores_known_doc(spark):
    import pandas as pd

    from nilm_data_framework_spark.operators.text import repetition_scores

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["spam spam spam spam eggs", "all words differ here"],
    }))
    out = {r["doc_id"]: r for r in repetition_scores(df).collect()}
    # doc1 2-grams: [spam spam, spam spam, spam spam, spam eggs] → 4 total,
    # 2 distinct, top count 3
    assert out[1]["n_grams"] == 4
    assert out[1]["dup_frac_e4"] == 5000
    assert out[1]["top_frac_e4"] == 7500
    assert out[2]["dup_frac_e4"] == 0


def test_redact_pii_masks_and_counts(spark):
    import pandas as pd

    from nilm_data_framework_spark.operators.text import redact_pii

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["mail a.b+c@site.org or x@y.io from 192.168.1.1 now",
                 "nothing sensitive here 1234"],
    }))
    out = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert out[1]["n_emails"] == 2 and out[1]["n_ips"] == 1
    assert out[1]["redacted"] == "mail <EMAIL> or <EMAIL> from <IP> now"
    assert out[2]["n_emails"] == 0 and out[2]["n_ips"] == 0
    assert out[2]["redacted"] == "nothing sensitive here 1234"


def test_length_bucket_boundary_pair_is_lossless(spark):
    """Exact-ratio bucket boundary (the IEEE floor(log/log) failure the r7
    review reproduced): docs with 1000 and 10000 distinct shingles at
    t=0.1 have J exactly 0.1 and MUST be candidates — the float form put
    them in buckets 2 and 4 and silently dropped the pair."""
    from nilm_data_framework_spark.operators.dedup import ngram_jaccard_pairs

    wa = " ".join(f"w{i}" for i in range(1000))
    wb = " ".join(f"w{i}" for i in range(10000))
    df = spark.createDataFrame(
        [(1, wa, "en"), (2, wb, "en")], "doc_id long, text string, block string"
    )
    out = ngram_jaccard_pairs(df, n=1, threshold=0.1, block_col="block").collect()
    assert len(out) == 1 and out[0]["jaccard"] == 0.1


def test_simhash_pigeonhole_precondition_enforced(spark):
    from nilm_data_framework_spark.operators.dedup import simhash_near_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    try:
        simhash_near_pairs(df, max_hamming=5)
        raise AssertionError("max_hamming > bands-1 not rejected")
    except ValueError as e:
        assert "pigeonhole" in str(e)


def test_connected_components_raises_on_nonconvergence(spark):
    """A path graph needs ~|path| hash-min rounds; with max_iter below
    that, returning still-changing labels would silently split the
    component — the operator must raise instead."""
    from nilm_data_framework_spark.operators.dedup import connected_components

    n = 10
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    full = connected_components(nodes, edges, max_iter=25)
    assert {r["cluster_id"] for r in full.collect()} == {0}
    try:
        connected_components(nodes, edges, max_iter=2)
        raise AssertionError("non-convergence not raised")
    except RuntimeError as e:
        assert "did not converge" in str(e)


def test_winnowing_python_oracle_parity(spark):
    """winnowing_fingerprints must equal a pure-Python replay of the same
    contract: md5-residue hashes of ordered word 3-grams, window-4 minima,
    distinct values (global min for docs with 1..3 grams, nothing for
    gram-less docs)."""

    def py_fps(text, n=3, w=4):
        toks = [t for t in re.split(r"\s+", text.lower()) if t]
        grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        hs = [
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
        ]
        if not hs:
            return set()
        if len(hs) < w:
            return {min(hs)}
        return {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}

    got = (
        D.winnowing_fingerprints(_pdf(spark))
        .groupBy("id")
        .agg(F.collect_set("fp").alias("fps"))
        .collect()
    )
    got_map = {r["id"]: set(r["fps"]) for r in got}
    for doc_id, text in DOCS:
        want = py_fps(text)
        assert got_map.get(doc_id, set()) == want, (doc_id, text)


def test_winnowing_local_overlap_guarantee(spark):
    """The winnowing guarantee: two documents sharing a run of >= w+n-1
    = 6 words MUST share at least one fingerprint, even when everything
    around the run differs (the local-detection property MinHash lacks)."""
    shared = "alpha beta gamma delta epsilon zeta"
    docs = [
        (0, f"one two three {shared} four five six"),
        (1, f"zz yy xx ww {shared} vv uu tt ss rr"),
    ]
    df = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
    fps = D.winnowing_fingerprints(df).collect()
    s0 = {r["fp"] for r in fps if r["id"] == 0}
    s1 = {r["fp"] for r in fps if r["id"] == 1}
    assert s0 & s1, "shared 6-word run produced no shared fingerprint"
