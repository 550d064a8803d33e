"""Persisted-index lifecycle maintenance (operators/index_maintenance.py):
copy-on-write DELETE and write-new-then-swap COMPACTION against the BM25
and IVF layouts. The probe-equivalence gates live in
queries/retrieval.py; these tests pin the parts a value-hash cannot
see — file counts, emptied-directory cleanup, exact stats decrements,
idempotence, and the partition-name unescape round-trip."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.index_maintenance import (
    compact_bm25_postings,
    compact_ivf_corpus,
    delete_bm25_docs,
    delete_ivf_vecs,
    list_partition_values,
)
from nilm_data_framework_spark.operators.text import (
    append_bm25_batch,
    bm25_hits_indexed,
    write_bm25_index,
)

DOCS = [
    (0, "vector join stream alpha"),
    (1, "vector vector beta"),
    (2, "join gamma gamma gamma"),
    (3, "stream delta"),
    (4, "vector join epsilon"),
    (5, "onlyinfive zeta"),
    (6, "vector eta stream"),
]
TERMS = ["vector", "join", "stream"]


def _docs_df(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _postings_set(spark, path):
    return {
        (r["term"], r["doc_id"], r["tf"], r["dl"])
        for r in spark.read.parquet(f"{path}/postings").collect()
    }


def _stats(spark, path):
    r = spark.read.parquet(f"{path}/stats").collect()[0]
    return (r["n_docs"], r["sum_dl"])


def _parquet_files_per_dir(path):
    out = {}
    for name in os.listdir(path):
        d = os.path.join(path, name)
        if os.path.isdir(d) and "=" in name:
            out[name] = len(
                [f for f in os.listdir(d) if f.endswith(".parquet")]
            )
    return out


def test_bm25_delete_matches_fresh_rebuild(spark, tmp_path):
    base = str(tmp_path)
    p_del, p_ref = f"{base}/maintained", f"{base}/rebuilt"
    df = _docs_df(spark)
    write_bm25_index(df, p_del)
    deleted = spark.createDataFrame([(1,), (2,)], "doc_id long")
    delete_bm25_docs(spark, p_del, deleted)
    write_bm25_index(df.filter(~F.col("doc_id").isin([1, 2])), p_ref)
    assert _postings_set(spark, p_del) == _postings_set(spark, p_ref)
    assert _stats(spark, p_del) == _stats(spark, p_ref)
    a = {
        (r["doc_id"], r["bm25_raw"])
        for r in bm25_hits_indexed(spark, p_del, TERMS).collect()
    }
    b = {
        (r["doc_id"], r["bm25_raw"])
        for r in bm25_hits_indexed(spark, p_ref, TERMS).collect()
    }
    assert a == b  # bit-equal scores: same stats, same op order


def test_bm25_delete_semi_join_branch_matches_isin_branch(spark, tmp_path):
    """isin_max_terms=0 forces the huge-erasure-vocabulary path (term
    semi-join instead of the partition-pruned isin literal); it must
    produce the identical layout, including the emptied-directory drop
    (doc 5 is the only holder of 'onlyinfive'/'zeta')."""
    base = str(tmp_path)
    p_a, p_b = f"{base}/isin", f"{base}/semi"
    df = _docs_df(spark)
    deleted = spark.createDataFrame([(1,), (5,)], "doc_id long")
    write_bm25_index(df, p_a)
    delete_bm25_docs(spark, p_a, deleted)
    write_bm25_index(df, p_b)
    delete_bm25_docs(spark, p_b, deleted, isin_max_terms=0)
    assert _postings_set(spark, p_a) == _postings_set(spark, p_b)
    assert _stats(spark, p_a) == _stats(spark, p_b)
    assert "onlyinfive" not in list_partition_values(spark, f"{p_b}/postings", "term")


def test_bm25_delete_empties_term_directory(spark, tmp_path):
    p = str(tmp_path / "idx")
    df = _docs_df(spark)
    write_bm25_index(df, p)
    # doc 5 is the ONLY holder of 'onlyinfive' — deleting it must drop the
    # whole term directory (dynamic overwrite writes no rows there)
    assert "onlyinfive" in list_partition_values(spark, f"{p}/postings", "term")
    delete_bm25_docs(spark, p, spark.createDataFrame([(5,)], "doc_id long"))
    assert "onlyinfive" not in list_partition_values(spark, f"{p}/postings", "term")
    assert (
        spark.read.parquet(f"{p}/postings")
        .filter(F.col("term") == "onlyinfive")
        .count()
        == 0
    )


def test_bm25_delete_unknown_ids_is_noop_and_idempotent(spark, tmp_path):
    p = str(tmp_path / "idx")
    df = _docs_df(spark)
    write_bm25_index(df, p)
    before_post, before_stats = _postings_set(spark, p), _stats(spark, p)
    delete_bm25_docs(spark, p, spark.createDataFrame([(999,)], "doc_id long"))
    assert _postings_set(spark, p) == before_post
    assert _stats(spark, p) == before_stats
    # idempotence: deleting the same id twice == once (second pass finds
    # no victim postings)
    delete_bm25_docs(spark, p, spark.createDataFrame([(3,)], "doc_id long"))
    mid_post, mid_stats = _postings_set(spark, p), _stats(spark, p)
    delete_bm25_docs(spark, p, spark.createDataFrame([(3,)], "doc_id long"))
    assert _postings_set(spark, p) == mid_post
    assert _stats(spark, p) == mid_stats


def test_bm25_delete_duplicate_request_rows_counted_once(spark, tmp_path):
    p = str(tmp_path / "idx")
    df = _docs_df(spark)
    write_bm25_index(df, p)
    n0, dl0 = _stats(spark, p)
    dup = spark.createDataFrame([(3,), (3,), (3,)], "doc_id long")
    delete_bm25_docs(spark, p, dup)
    n1, dl1 = _stats(spark, p)
    assert n1 == n0 - 1
    assert dl1 == dl0 - 2  # doc 3 = "stream delta", dl 2


def test_bm25_compact_restores_one_file_per_term_and_preserves_rows(spark, tmp_path):
    p = str(tmp_path / "idx")
    df = _docs_df(spark)
    write_bm25_index(df.filter(F.col("doc_id") <= 3), p)
    append_bm25_batch(df.filter(F.col("doc_id").isin([4, 5])), p)
    append_bm25_batch(df.filter(F.col("doc_id") == 6), p)
    before = _postings_set(spark, p)
    frag = _parquet_files_per_dir(f"{p}/postings")
    # 'vector' was touched by the base write and both appends
    assert frag["term=vector"] >= 3
    compact_bm25_postings(spark, p)
    after_files = _parquet_files_per_dir(f"{p}/postings")
    assert set(after_files) == set(frag)
    assert all(n == 1 for n in after_files.values()), after_files
    assert _postings_set(spark, p) == before


def _file_identity(root, skip_prefixes=()):
    """(relpath, size, mtime_ns) for every file under root — unchanged
    identity means the file was never rewritten."""
    out = set()
    for dirpath, _dirs, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        if any(rel.startswith(p) for p in skip_prefixes):
            continue
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            out.add((os.path.join(rel, f), st.st_size, st.st_mtime_ns))
    return out


def test_bm25_delete_leaves_unaffected_term_files_untouched(spark, tmp_path):
    """The copy-on-write I/O claim STRESS.md cites, pinned structurally:
    deleting doc 3 ("stream delta") may rewrite only term=stream and
    term=delta — every other term directory's files keep their exact
    (name, size, mtime) identity, proving the rewrite touched nothing
    else (toy wall-clock cannot show this; file identity can)."""
    p = str(tmp_path / "idx")
    write_bm25_index(_docs_df(spark), p)
    post_root = f"{p}/postings"
    affected = {"term=stream", "term=delta"}
    before = _file_identity(post_root, skip_prefixes=tuple(affected))
    delete_bm25_docs(spark, p, spark.createDataFrame([(3,)], "doc_id long"))
    after = _file_identity(post_root, skip_prefixes=tuple(affected))
    assert before == after


def test_ivf_delete_leaves_unaffected_list_files_untouched(spark, tmp_path):
    from nilm_data_framework_spark.operators.similarity import write_ivf_corpus

    p = str(tmp_path / "corpus")
    write_ivf_corpus(_vec_df(spark), p, CENTS)
    # delete one vector of list cid=1: only that directory may change
    before = _file_identity(p, skip_prefixes=("cid=1",))
    delete_ivf_vecs(spark, p, spark.createDataFrame([(1,)], "vec_id long"))
    after = _file_identity(p, skip_prefixes=("cid=1",))
    assert before == after


def test_partition_value_unescape_roundtrip(spark, tmp_path):
    # a term containing a path-reserved char: Spark escapes it in the
    # directory name; list_partition_values must map the dir back to the
    # raw value (the emptied-dir delete keys on it)
    p = str(tmp_path / "t")
    spark.createDataFrame(
        [("a:b", 1), ("plain", 2)], "term string, x long"
    ).write.partitionBy("term").parquet(p)
    vals = list_partition_values(spark, p, "term")
    assert "a:b" in vals and "plain" in vals
    assert vals["a:b"] != "term=a:b"  # it really was escaped on disk


VECS = [
    (i, [float(i % 4 == 0), float(i % 4 == 1), float(i % 4 == 2), float(i % 4 == 3)])
    for i in range(16)
]
CENTS = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
    [0.0, 0.0, 1.0, 0.0],
    [0.0, 0.0, 0.0, 1.0],
]


def _vec_df(spark, rows=VECS):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _corpus_set(spark, path):
    return {
        (r["vec_id"], r["cid"]) for r in spark.read.parquet(path).collect()
    }


def test_ivf_delete_matches_fresh_rebuild_and_drops_empty_list(spark, tmp_path):
    from nilm_data_framework_spark.operators.similarity import write_ivf_corpus

    base = str(tmp_path)
    p_del, p_ref = f"{base}/maintained", f"{base}/rebuilt"
    df = _vec_df(spark)
    write_ivf_corpus(df, p_del, CENTS)
    # vec_ids ≡ 3 (mod 4) are exactly list cid=3 — deleting them all must
    # remove the cid=3 directory entirely
    dele = spark.createDataFrame([(i,) for i in range(3, 16, 4)], "vec_id long")
    delete_ivf_vecs(spark, p_del, dele)
    write_ivf_corpus(df.filter(F.col("vec_id") % 4 != 3), p_ref, CENTS)
    assert _corpus_set(spark, p_del) == _corpus_set(spark, p_ref)
    assert "3" not in list_partition_values(spark, p_del, "cid")
    # unknown-id delete is a no-op
    before = _corpus_set(spark, p_del)
    delete_ivf_vecs(spark, p_del, spark.createDataFrame([(999,)], "vec_id long"))
    assert _corpus_set(spark, p_del) == before


def test_ivf_compact_restores_one_file_per_list(spark, tmp_path):
    from nilm_data_framework_spark.operators.similarity import (
        append_ivf_batch,
        write_ivf_corpus,
    )

    p = str(tmp_path / "corpus")
    df = _vec_df(spark)
    write_ivf_corpus(df.filter(F.col("vec_id") < 8), p, CENTS)
    append_ivf_batch(df.filter(F.col("vec_id").between(8, 11)), p, CENTS)
    append_ivf_batch(df.filter(F.col("vec_id") >= 12), p, CENTS)
    before = _corpus_set(spark, p)
    frag = _parquet_files_per_dir(p)
    assert max(frag.values()) >= 3
    compact_ivf_corpus(spark, p)
    after = _parquet_files_per_dir(p)
    assert set(after) == set(frag)
    assert all(n == 1 for n in after.values()), after
    assert _corpus_set(spark, p) == before
