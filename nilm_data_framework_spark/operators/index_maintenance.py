"""Lifecycle maintenance for the persisted index layouts: copy-on-write
DELETE and small-file COMPACTION for the term-partitioned BM25 inverted
index (operators/text.py::write_bm25_index) and the cid-partitioned IVF
corpus (operators/similarity.py::write_ivf_corpus).

Round 5/7 built the CREATE + APPEND halves of the index lifecycle with
ingest-invariance gates; this module adds the other half. The design is
the standard lakehouse copy-on-write shape (Delta Lake / Iceberg DELETE:
one scan to locate affected files, rewrite only those, leave the rest
untouched) applied at PARTITION granularity, plus the Lucene-style
segment-merge compaction that undoes append fragmentation:

- **delete = one scan + rewrite of affected partitions.** The victim
  rows are found with a semi-join against the deleted-id set (broadcast
  when the set is small, so the index is not shuffled); only the
  partitions that actually hold a victim are rewritten, via Spark's
  dynamic partition overwrite. Dynamic overwrite only replaces
  partitions PRESENT in the written data, so a partition whose every
  row is deleted would silently keep its stale files — those
  directories are removed explicitly through the Hadoop FileSystem API
  (exactly what a lakehouse DELETE's commit does to dead files).
- **compaction = rewrite-new-then-swap.** Appends leave one file per
  batch per partition directory (the small-file problem); compaction
  rewrites the dataset, one file per partition directory, into a sibling
  directory and atomically swaps it in, never overwriting the files it
  is still reading (the write-new/rename pattern of every production
  compactor; single-writer contract — concurrent readers of the swapped
  path race the rename, as they do in any non-transactional table).

Every operation here is gated by a probe-equivalence query: probing the
maintained layout must hash-match a from-scratch index built on the
surviving corpus (the lifecycle gates in queries/retrieval.py).

Reference analog: none — the reference (pandas/HDF5, single machine)
has no persisted index layouts; this is pure retrieval-infrastructure
extension, same family as write_bm25_index/append_ivf_batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.layouts import (
    hadoop_fs,
    partitioned_writer,
    read_parquet,
    write_schema_sidecar,
)
from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators.text import BM25_POSTINGS_SCHEMA, BM25_STATS_SCHEMA


# --- Hadoop FileSystem helpers (driver-side metadata ops) ----------------------


def _unescape_partition_value(name: str) -> str:
    """Reverse Hive/Spark partition-path escaping (%XX hex for reserved
    chars). Only the REVERSE direction is implemented on purpose: mapping
    directory names back to values is unambiguous, whereas re-deriving
    Spark's exact escape charset would be a fragile reimplementation."""
    out: list[str] = []
    i = 0
    while i < len(name):
        c = name[i]
        if c == "%" and i + 3 <= len(name):
            try:
                out.append(chr(int(name[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(c)
        i += 1
    return "".join(out)


def list_partition_values(spark: SparkSession, path: str, key: str) -> dict[str, str]:
    """Map of partition VALUE -> directory name under a partitioned
    dataset root (e.g. {"vector": "term=vector"}). One driver-side
    listStatus — the same O(#partitions) metadata pass partition
    discovery performs on every read of the dataset."""
    fs, hpath = hadoop_fs(spark, path)
    prefix = f"{key}="
    out: dict[str, str] = {}
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out[_unescape_partition_value(name[len(prefix) :])] = name
    return out


def _delete_partition_dirs(
    spark: SparkSession, path: str, key: str, values: set[str]
) -> None:
    """Remove the partition directories for ``values`` (post-delete
    EMPTIED partitions, which dynamic overwrite cannot touch because no
    rows are written into them)."""
    if not values:
        return
    fs, _ = hadoop_fs(spark, path)
    jvm = spark._jvm
    dirs = list_partition_values(spark, path, key)
    for v in values:
        name = dirs.get(v)
        if name is not None:
            fs.delete(jvm.org.apache.hadoop.fs.Path(f"{path}/{name}"), True)


def _swap_directory(spark: SparkSession, old_path: str, new_path: str) -> None:
    """Three-step swap: rename(old -> old_retired), rename(new -> old),
    delete(old_retired) — the commit step of the write-new-then-swap
    compaction. The retire-first order means the previous layout is never
    DELETED before its replacement is in place: a failure between the two
    renames leaves the data recoverable at ``<old>_retired`` (and the
    next compaction clears a stale retiree). Still not transactional —
    single-writer contract, concurrent readers race the renames
    (documented in the module docstring); a real table format would
    commit a manifest instead."""
    fs, old = hadoop_fs(spark, old_path)
    jvm = spark._jvm
    new = jvm.org.apache.hadoop.fs.Path(new_path)
    retired = jvm.org.apache.hadoop.fs.Path(f"{old_path}_retired")
    fs.delete(retired, True)  # clear a stale retiree from a failed swap
    if not fs.rename(old, retired):
        raise IOError(f"compaction swap failed: retire {old_path}")
    if not fs.rename(new, old):
        # put the old layout back so the live path never dangles
        fs.rename(retired, old)
        raise IOError(f"compaction swap failed: rename {new_path} -> {old_path}")
    fs.delete(retired, True)


# --- BM25 inverted-index maintenance ------------------------------------------


# above this many affected terms the rewrite switches from a partition-
# pruned isin literal to a term semi-join: a driver-side list of 10^5+
# terms would bloat the plan (and its collect), while the semi-join keeps
# the term set distributed at the cost of an unpruned second scan — the
# standard literal-vs-join pushdown crossover
_ISIN_MAX_TERMS = 10_000


def delete_bm25_docs(
    spark: SparkSession,
    path: str,
    deleted: DataFrame,
    isin_max_terms: int = _ISIN_MAX_TERMS,
) -> None:
    """Copy-on-write DELETE from a ``write_bm25_index`` layout (the
    right-to-be-forgotten path a GDPR erasure demands of a persisted
    index, completing the CREATE/APPEND lifecycle). ``deleted`` carries
    a ``doc_id`` column:

    1. ONE scan of the postings locates victim rows via a semi-join
       on the (distinct) deleted ids — the inverted index is keyed by
       term, so finding a document's postings
       inherently reads the postings once (the same full-scan cost a
       Delta/Iceberg copy-on-write DELETE without a locating index pays).
       The victim set is checkpointed: it is small (the deleted
       docs' postings) and feeds three consumers (affected terms, the
       stats delta, the emptied-term check).
    2. Only AFFECTED term partitions are rewritten (survivor rows of
       those terms, dynamic partition overwrite); unaffected term
       directories — the overwhelming majority for a bounded delete
       batch — are never touched.
    3. Term partitions whose every posting was deleted are removed via
       the filesystem (dynamic overwrite writes no data there, so the
       stale directory must be dropped explicitly).
    4. The 1-row stats table is replaced with exact decremented totals:
       n_docs/sum_dl are plain sums, and per-term df is never stored (it
       derives from postings), so the delete cannot stale it — the same
       mergeable-constants argument as append_bm25_batch, run backwards.

    Deleted ids ABSENT from the postings are treated as never-ingested
    (no-op, which also makes the delete idempotent). The deleted-id set
    carries no broadcast hint: erasure batches are small in practice
    (they arrive as requests, not as a corpus slice), so the planner
    broadcasts them by size, and a delete too large for that is planned
    as a shuffle join instead of failing — though it is cheaper served as
    a filtered REBUILD, the same crossover every lakehouse DELETE has.
    CAVEAT: a document ingested with ZERO tokens has no postings and
    therefore cannot be located in a postings-only layout — its n_docs
    contribution would survive an attempted delete. Corpora admitting
    empty documents need a (doc_id, dl) sidecar; the gate corpus has
    none (every document tokenizes to >= 1 term), and the limitation is
    inherent to inverted postings, not this implementation (Lucene
    tracks live-docs bitmaps for the same reason)."""
    del_ids = deleted.select("doc_id").distinct()
    post = spark.read.schema(BM25_POSTINGS_SCHEMA).parquet(f"{path}/postings")
    victims = checkpoint(post.join(del_ids, "doc_id", "semi"))

    aff_terms = victims.select("term").distinct().transform(checkpoint)
    # peek one past the isin crossover instead of collecting the full set:
    # the affected-term LIST only ever reaches the driver when it is small
    # enough to splice as a partition-pruning literal
    head = [r["term"] for r in aff_terms.limit(isin_max_terms + 1).collect()]
    if not head:
        return
    # stats delta: one row per deleted doc (dl is denormalized into every
    # posting of the doc; first() over identical values)
    delta = (
        victims.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_del"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("dl_del"),
        )
        .collect()[0]
    )

    if len(head) <= isin_max_terms:
        # small erasure vocabulary: literal filter → parquet partition
        # pruning, the scan touches only affected directories
        affected_posts = post.filter(F.col("term").isin(head))
    else:
        # huge erasure vocabulary: keep the term set distributed (a 10^5+
        # element isin literal bloats the plan and the driver); costs one
        # unpruned re-scan, still ≪ a rebuild which re-tokenizes the corpus
        affected_posts = post.join(aff_terms, "term", "semi")
    # checkpoint before the rewrite: (a) Spark refuses to overwrite a
    # path its plan still reads from — the checkpoint cuts that lineage
    # (the rewrite materializes exactly this data anyway; at 100 TB a
    # too-large affected set would write-new-then-swap instead, as the
    # compactor does); (b) the frame feeds two consumers (surviving-term
    # set + the write)
    surv = checkpoint(affected_posts.join(del_ids, "doc_id", "anti"))
    # a term dir left with zero survivors gets NO rows in the dynamic
    # overwrite — those dirs must be dropped explicitly; the emptied set
    # is computed DISTRIBUTED (affected anti surviving) and only it is
    # collected — bounded by terms that lost their every posting
    emptied = {
        r["term"]
        for r in aff_terms.join(
            surv.select("term").distinct(), "term", "anti"
        ).collect()
    }
    partitioned_writer(surv, ["term"]).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(f"{path}/postings")
    _delete_partition_dirs(spark, f"{path}/postings", "term", emptied)

    old = spark.read.schema(BM25_STATS_SCHEMA).parquet(f"{path}/stats").collect()[0]
    spark.createDataFrame(
        [(old["n_docs"] - delta["n_del"], old["sum_dl"] - delta["dl_del"])],
        BM25_STATS_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/stats")


def compact_bm25_postings(spark: SparkSession, path: str) -> None:
    """Compact a ``write_bm25_index`` postings layout back to one
    right-sized file per term directory. Every ``append_bm25_batch``
    leaves one file per batch per touched term dir (and a delete's
    rewrite adds its own) — the classic small-file accumulation that
    degrades scan planning at scale; compaction is the Lucene segment
    merge / lakehouse OPTIMIZE analog.

    Shape: read postings, write them through
    ``layouts.partitioned_writer`` (one file per term) into a sibling
    ``postings_compacting`` directory, then swap it in. Writing new
    files FIRST means the job never overwrites data it is still reading
    (Spark cannot overwrite a path being scanned) and a mid-compaction
    failure leaves the live layout intact — only the swap is the commit
    point. Stats are untouched: compaction is row-preserving by
    construction, and the probe-equivalence gate
    (bm25_compact_probe_equiv) proves it."""
    post = spark.read.schema(BM25_POSTINGS_SCHEMA).parquet(f"{path}/postings")
    tmp = f"{path}/postings_compacting"
    partitioned_writer(post, ["term"]).mode("overwrite").parquet(tmp)
    _swap_directory(spark, f"{path}/postings", tmp)


# --- IVF corpus maintenance ----------------------------------------------------


def delete_ivf_vecs(spark: SparkSession, path: str, deleted: DataFrame) -> None:
    """Copy-on-write DELETE of ``deleted``'s ``vec_id``s from a
    ``write_ivf_corpus`` layout: one scan locates the victims' centroid
    lists (a semi-join — the IVF corpus is keyed by cid, so the
    deleted ids' lists are not known up front), then ONLY the affected cid directories are rewritten
    without the victims (dynamic partition overwrite); lists emptied
    entirely are dropped through the filesystem. Centroids are NOT
    retrained — the caller keeps serving with the same trained list,
    exactly as appends do (re-clustering after heavy churn is an offline
    rebuild, per append_ivf_batch's contract). Unknown ids are a no-op
    and the operation is idempotent. Gate: ivf_delete_probe_equiv —
    probing the maintained layout hash-matches the IVF oracle over the
    surviving corpus with the SAME centroids."""
    del_ids = deleted.select("vec_id").distinct()
    corpus = read_parquet(spark, path)
    victims = corpus.join(del_ids, "vec_id", "semi")
    affected = {r["cid"] for r in victims.select("cid").distinct().collect()}
    if not affected:
        return
    # checkpoint for the same two reasons as delete_bm25_docs: cut the
    # read-path lineage before the in-place rewrite, and feed the
    # surviving-cid probe + the write from one materialization
    surv = (
        corpus.filter(F.col("cid").isin(list(affected)))
        .join(del_ids, "vec_id", "anti")
        .transform(checkpoint)
    )
    surviving = {r["cid"] for r in surv.select("cid").distinct().collect()}
    partitioned_writer(surv, ["cid"]).mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
    _delete_partition_dirs(
        spark, path, "cid", {str(c) for c in affected - surviving}
    )


def compact_ivf_corpus(spark: SparkSession, path: str) -> None:
    """Compact a ``write_ivf_corpus`` layout to one file per cid list
    (appends fragment the lists one file per batch). Same
    write-new-then-swap shape as compact_bm25_postings, through
    ``layouts.partitioned_writer`` (a list larger than the advisory
    partition size becomes files of about that size)."""
    corpus = read_parquet(spark, path)
    tmp = f"{path}_compacting"
    partitioned_writer(corpus, ["cid"]).mode("overwrite").parquet(tmp)
    write_schema_sidecar(spark, tmp, corpus.schema)
    _swap_directory(spark, path, tmp)
