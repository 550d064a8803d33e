"""Crash-safety of the write-new-then-swap compactor: a stale
``postings_compacting`` directory left by a failed earlier compaction
(died after writing, before the swap) must not corrupt the next run —
the tmp write is mode("overwrite"), so the retry replaces the stale
files and the swap commits the fresh rewrite."""

from __future__ import annotations

import os

from nilm_data_framework_spark.operators.index_maintenance import (
    compact_bm25_postings,
)
from nilm_data_framework_spark.operators.text import write_bm25_index

DOCS = [
    (0, "vector join stream alpha"),
    (1, "vector vector beta"),
    (2, "join gamma gamma gamma"),
]


def _postings_set(spark, path):
    return {
        (r["term"], r["doc_id"], r["tf"], r["dl"])
        for r in spark.read.parquet(f"{path}/postings").collect()
    }


def test_compact_recovers_from_stale_tmp_dir(spark, tmp_path):
    p = str(tmp_path / "idx")
    df = spark.createDataFrame(DOCS, "doc_id long, text string")
    write_bm25_index(df, p)
    before = _postings_set(spark, p)
    # simulate a compaction that died between the tmp write and the swap:
    # a stale tmp layout with WRONG content (one bogus posting row)
    stale = f"{p}/postings_compacting"
    spark.createDataFrame(
        [(999, 1, 1, "bogus")], "doc_id long, tf long, dl long, term string"
    ).write.partitionBy("term").parquet(stale)
    assert os.path.isdir(stale)
    # ... and a stale retiree from a swap that died between its renames
    os.makedirs(f"{p}/postings_retired/junk", exist_ok=True)
    compact_bm25_postings(spark, p)
    assert not os.path.exists(stale)  # swap consumed the tmp dir
    assert not os.path.exists(f"{p}/postings_retired")  # retiree cleared
    assert _postings_set(spark, p) == before  # fresh rewrite, not the stale one

    # live layout intact if the tmp WRITE itself fails (pre-swap): emulate
    # by pointing the compactor at a read-only... (cannot chmod-proof under
    # root) — instead assert the live dir was untouched by the failed-run
    # simulation above: the bogus row never appeared
    assert all(t != "bogus" for t, *_ in _postings_set(spark, p))
