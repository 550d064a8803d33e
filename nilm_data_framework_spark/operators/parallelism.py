"""Explicit parallelism control for Arrow/pandas group stages.

AQE coalesces shuffle partitions by BYTE size
(spark.sql.adaptive.advisoryPartitionSizeInBytes). That is the right model
for JVM hash aggregates, but an ``applyInPandas`` stage spends ~10-100x more
CPU per byte (Arrow serialization + Python), so byte-coalescing can park all
Python work on a handful of cores: measured here, the sf0.1 tensor-export
shuffle coalesced to 3 partitions → 3 of 32 cores busy, ~2x the runtime.

A user-specified ``repartition(n, keys)`` is exempt from AQE coalescing
(shuffle origin REPARTITION_BY_NUM is preserved), and its hash partitioning
satisfies the pandas-group ClusteredDistribution requirement, so the group
stage inherits n-way parallelism with NO additional exchange — same shuffle
count, full-width Python.

At cluster scale the same logic holds: pick n ≈ total cores (or a multiple)
rather than letting byte-based coalescing decide for Python-heavy stages.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def pin_group_parallelism(df: DataFrame, keys: list[str | Column]) -> DataFrame:
    """Hash-partition ``df`` on ``keys`` into
    ``sparkContext.defaultParallelism`` partitions ahead of a groupBy-pandas
    op."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)
