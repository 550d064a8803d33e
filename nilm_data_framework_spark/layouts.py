"""The one partitioned-write path and the schema sidecars for the parquet
layouts this package writes and serves from: the canonical store
(sources/canonical.py), the term-partitioned BM25 postings
(operators/text.py) and the cid-partitioned IVF corpus
(operators/similarity.py::write_ivf_corpus).

Every key-partitioned writer starts from :func:`partitioned_writer`.

``spark.read.parquet(path)`` without a schema runs a one-task Spark job
that reads file footers to infer one — 60-80 ms per read on a 4-core
host, paid by every request that opens the layout. A writer whose columns
follow its input records ``df.schema.json()`` as ``{path}/_schema.json``
after a successful write, and :func:`read_parquet` passes that schema to
the reader. Without a sidecar (a layout written by another tool or an
older version) it falls back to inference. Spark's overwrite deletes the
directory and with it the old sidecar; the leading underscore keeps the
file out of Spark's listing and out of DuckDB's ``*.parquet`` globs.
Layouts with one fixed schema declare a constant instead
(operators/text.py's BM25 schemas).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql.types import StructType

SCHEMA_SIDECAR = "_schema.json"


def partitioned_writer(
    df: DataFrame, cols: Sequence[str], order: Sequence[str] = ()
) -> DataFrameWriter:
    """``df``'s writer partitioned by ``cols``; with ``order``, the rows of
    each file are sorted by ``(*cols, *order)``. The caller sets the mode
    and options and picks the format.

    The rebalance exchange hash-partitions on ``cols``, so each key lands
    in one shuffle partition; AQE (always on in ``session.get_session``)
    then drops the empty partitions and packs whole ones into
    byte-balanced tasks, so each key is written by one task, into one
    file, and no task is empty (a 6-key write: 1-2 tasks instead of 32).
    Only a key larger than ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
    is split, into files of about that size. The width starts at the
    session's shuffle width, at least 32. The sort leads with ``cols``
    because the planned write needs rows grouped by them: a sort with
    that prefix survives, any other is replaced by the planner's."""
    width = max(32, int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")))
    out = df.hint("rebalance", width, *cols)
    if order:
        out = out.sortWithinPartitions(*cols, *order)
    return out.write.partitionBy(*cols)


def hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop API — the same
    mechanism Spark's own dynamic-overwrite commit uses to drop dead
    partition directories. Driver-side metadata call, never data."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def write_schema_sidecar(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record ``schema`` as ``{path}/_schema.json``, replacing any old one."""
    fs, hpath = hadoop_fs(spark, f"{path}/{SCHEMA_SIDECAR}")
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(schema.json().encode("utf-8")))
    finally:
        out.close()


def read_schema_sidecar(spark: SparkSession, path: str) -> StructType | None:
    """The schema a writer recorded under ``path``, or None without one."""
    fs, hpath = hadoop_fs(spark, f"{path}/{SCHEMA_SIDECAR}")
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        text = spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return StructType.fromJson(json.loads(text))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The parquet layout at ``path``, read with its recorded schema when
    it has one (no Spark job), else with Spark's inference."""
    schema = read_schema_sidecar(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
