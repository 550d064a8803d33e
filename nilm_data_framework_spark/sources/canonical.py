"""S7/S8: canonical Parquet store for the long-format model.

Replaces the reference's HDF5 canonical form (UnifiedNILM/UnifiedNILM.py:
205-381). Partitioned by (dataset, house_id) so per-house queries prune to a
handful of files; Parquet dictionary/RLE encoding subsumes the reference's
shared-timestamp dedup trick (UnifiedNILM.py:358-363). The pickle sink
(UnifiedNILM.py:200-203) is deliberately not ported.

Each writer sorts rows inside a file by (ts, channel_id) and records the
frame's schema in ``{path}/_schema.json``; :func:`read_readings` passes
that schema to the reader, so opening the store launches no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nilm_data_framework_spark.layouts import (
    partitioned_writer,
    read_parquet,
    write_schema_sidecar,
)
from nilm_data_framework_spark.materialize import checkpoint


# in-file order after the partition columns: ts-major (not channel-major)
# keeps each row group's ts min/max tight, which is what a time-slice scan
# skips on; channel-major measured a 20% larger store on the benchmark's
# raw set
_FILE_ORDER = ("ts", "channel_id")
_PARTITION_COLS = ("dataset", "house_id")
# bucket count of write_readings_bucketed; two tables join exchange-free
# only when both carry the same count
READINGS_BUCKETS = 64


def write_readings(readings: DataFrame, path: str) -> None:
    """Overwrite the store at ``path``. At 100 TB: partition pruning on
    (dataset, house_id) + min/max ts statistics in the footer give the P3
    time-slice near-free scans.
    Rows inside each file are ordered by (ts, channel_id).
    Caveat: when ``dataset`` is one literal for the whole frame, Catalyst
    folds that sort key away and the planner re-sorts by ``house_id``
    alone, so such a write keeps only the partition order.
    The write goes through ``layouts.partitioned_writer``: one file per
    (dataset, house_id) directory and no empty writer tasks; a house
    larger than the advisory partition size is split into files of about
    that size.
    A successful write records the frame's schema as
    ``{path}/_schema.json`` (:func:`read_readings` reads it)."""
    partitioned_writer(readings, _PARTITION_COLS, _FILE_ORDER).mode("overwrite").parquet(path)
    write_schema_sidecar(readings.sparkSession, path, readings.schema)


def read_readings(spark: SparkSession, path: str) -> DataFrame:
    """The canonical store at ``path``, read with the writers' schema
    sidecar (no Spark job); a store written without one falls back to
    Spark's schema inference (see nilm_data_framework_spark/layouts.py)."""
    return read_parquet(spark, path)


def write_dim(dim: DataFrame, path: str) -> None:
    dim.coalesce(1).write.mode("overwrite").parquet(path)


def write_readings_bucketed(readings: DataFrame, table: str) -> None:
    """Bucketed canonical table: hash-bucket (``READINGS_BUCKETS``) + sort by
    the series key.

    Two tables bucketed the same way join WITHOUT an exchange — the join key
    layout is pre-materialized, so fact-fact joins on (house_id, channel_id)
    (time-axis alignment J4, as-of variants) skip their shuffle entirely.
    This is the 100 TB co-location strategy; the bucket count is a
    deployment constant (≈ total data / healthy partition size).
    tests/test_bucketing_skew.py asserts the exchange-free plan.
    """
    (
        readings.write.mode("overwrite")
        .bucketBy(READINGS_BUCKETS, "house_id", "channel_id")
        .sortBy("house_id", "channel_id")
        .format("parquet")
        .saveAsTable(table)
    )


def merge_upsert_partitioned(spark: SparkSession, changes: DataFrame, path: str) -> None:
    """Warehouse-style MERGE (upsert) against the canonical store WITHOUT a
    table format: rewrite ONLY the partitions the changelog touches, via
    dynamic partition overwrite. For each touched (dataset, house_id)
    partition: current rows anti-joined on the PK ∪ incoming rows — i.e.
    update-else-insert, keyed on (dataset, house_id, channel_id, ts).
    Untouched partitions are never read or written.

    This is the plain-Spark equivalent of Delta/Iceberg MERGE INTO: those
    formats add file-level (not partition-level) rewrite granularity and
    snapshot isolation, but the data movement bound is the same — cost
    scales with TOUCHED data, not table size. At 100 TB with daily-arriving
    house data, a merge touches a few hundred partitions of millions.

    Uses ``spark.sql.sources.partitionOverwriteMode=dynamic`` scoped to this
    write (restored after), which overwrites exactly the partitions present
    in the written frame — the semantics INSERT OVERWRITE ... PARTITION
    gives in Hive SQL. The schema sidecar is rewritten with the merged
    frame's schema after the write.
    """
    part_cols = list(_PARTITION_COLS)
    keys = [*_PARTITION_COLS, "channel_id", "ts"]
    # Pin the changes frame BEFORE the duplicate-key guard: the guard is an
    # eager extra job, and without pinning, a nondeterministic changes frame
    # (sample(), rand() filter, shuffle-order-dependent pick) could pass the
    # check yet merge DIFFERENT rows when re-evaluated below (r7 advice).
    # checkpoint materializes one version that both the check and the
    # merge read. Changelog batches are churn-sized, not table-sized.
    changes = checkpoint(changes)
    # real MERGE INTO errors when the source matches one target row twice;
    # silently unioning a multi-row-per-PK changes batch would INSERT
    # duplicate PK rows and double-count downstream (r7 review). Fail fast.
    dup = (
        changes.groupBy(*keys)
        .count()
        .filter("count > 1")
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "merge_upsert_partitioned: changes batch has multiple rows for "
            "one primary key — deduplicate (last-wins by your own ordering) "
            "before merging"
        )
    current = read_readings(spark, path)
    touched = changes.select(*part_cols).distinct()
    # Partition pruning: only touched partitions are scanned (semi join on
    # the partition columns folds into the file index at small dim counts).
    affected = current.join(touched, on=part_cols, how="left_semi")
    survivors = affected.join(changes.select(*keys), on=keys, how="left_anti")
    merged = survivors.unionByName(changes)
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        partitioned_writer(merged, part_cols, _FILE_ORDER).mode("overwrite").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    write_schema_sidecar(spark, path, merged.schema)


def write_readings_orc(readings: DataFrame, path: str) -> None:
    """Alternate columnar sink (overwrites ``path``): same (dataset,
    house_id) partitioned layout in ORC. Spark's native ORC writer gives the identical pruning +
    min/max-statistics story as Parquet (both formats are first-class in
    the DataSource V2 scan path — predicate pushdown, column pruning, and
    vectorized reads all apply); interop target for Hive/Trino-flavored
    lakes that standardized on ORC. Columnar semantics are
    format-symmetric, which `tests/test_sources.py` pins by round-tripping
    the same frame through both sinks and comparing exactly."""
    partitioned_writer(readings, _PARTITION_COLS, _FILE_ORDER).mode("overwrite").orc(path)


def read_readings_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)
