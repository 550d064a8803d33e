"""Table loaders and DuckDB fragments shared by the query modules."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nilm_data_framework_spark.sources.testdata import load_table


EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

# Identical token definition to operators/text.py::tokens.
_TOKS = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize: heavy per-row expressions (shingling, hashing) over a
    # small single-file scan would otherwise run on one core.
    return load_table(spark, sf_dir, "documents", parallelize=True)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize: 64-dim dot products over a small single-file scan would
    # otherwise run on one core.
    return load_table(spark, sf_dir, "embeddings", parallelize=True)
