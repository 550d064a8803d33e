"""Deterministic dataset splitting (reference train/val/test split,
bert_single_appliance/train_bert_single.py:108-115 — random_split seed 42).

torch's random_split does not scale out and is not reproducible across
engines; the 100 TB idiom is a content-hash split: bucket = md5(id) % 100,
split assigned by cumulative fraction boundaries. Deterministic, stable
under re-partitioning and appends, and replayable in any engine that has
md5 (the DuckDB oracle does).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint


def split_bucket(id_col: Column, n_buckets: int = 100) -> Column:
    """md5-derived bucket in [0, n_buckets): stable content hash of the id
    rendered as a string (cross-engine reproducible, unlike Spark's hash()).

    PRECONDITION: the id must be an integer or string column. A
    float/double id is NOT reproducible — the hash input is the STRING
    rendering, and Spark (Jackson: ``1.0E-4``, ``-0.0``) renders doubles
    differently from DuckDB (``0.0001``, ``0.0``) — the same
    rendering-divergence class the r6 tensor_export lesson documents. A
    NULL id yields a NULL bucket (see hash_split for the label contract)."""
    return (
        F.conv(F.substring(F.md5(id_col.cast("string")), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, float],
    out: str = "split",
    n_buckets: int = 100,
) -> DataFrame:
    """Assign each row a split label by cumulative bucket ranges.

    ``splits`` maps label → fraction (must sum to ~1); boundaries are
    cumulative in dict order, e.g. {"train": .8, "val": .1, "test": .1} →
    buckets [0,80) / [80,90) / [90,100). Narrow projection — no shuffle.

    The LAST label is the catch-all (``otherwise``, matching the oracle's
    ``CASE ... ELSE`` form): a NULL id hashes to a NULL bucket, and
    without the catch-all it would get a NULL split label and silently
    vanish from every split-filtered downstream — with it, NULL-keyed
    rows land deterministically in the final split in both engines.
    """
    total = sum(splits.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = split_bucket(F.col(id_col), n_buckets)
    expr: Column | None = None
    labels = list(splits.items())
    acc = 0.0
    for label, frac in labels[:-1]:
        acc += frac
        bound = round(acc * n_buckets)
        cond = bucket < bound
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out, expr)


def group_hash_split(
    df: DataFrame,
    group_col: str,
    splits: dict[str, float],
    out: str = "split",
    n_buckets: int = 100,
) -> DataFrame:
    """Leakage-safe split: hash the GROUP key (source/domain/session), not
    the row id, so every row of a group lands in the same split. Random
    row-level splits leak near-duplicate rows of one source across
    train/test (the classic contamination bug group-k-fold exists to
    prevent); hashing the group key is the deterministic, scale-free form —
    a narrow projection, stable under appends, no shuffle, identical
    assignment on every engine.
    """
    return hash_split(df, group_col, splits, out=out, n_buckets=n_buckets)


def temporal_embargo_split(
    df: DataFrame,
    us_col: str,
    user_col: str,
    train_num: int = 4,
    train_den: int = 5,
    embargo_us: int = 21_600_000_000,
) -> DataFrame:
    """Time-based train/test split with a purge (embargo) window — the
    leakage control for forecasting / event-model training data that a
    hash split cannot provide: test events must be strictly LATER than
    every train event plus an embargo gap, or features built on trailing
    windows leak across the boundary.

    The cutoff is the exact ``floor(train_num/train_den · n)``-th smallest
    event time. Computing that via a global row_number would be a
    single-partition sort; a single value-support cumulative (the r4 form)
    is better but its support is |distinct timestamps| — on a
    microsecond-resolution stream that approaches row count, the weakest
    bound in the r6 single-support-window inventory. The r7 form is
    TWO-LEVEL (the classic exact-quantile bucket refinement): an hour-
    bucket cumulative locates the cutoff bucket (support = span in hours,
    data-size-independent), then the exact per-timestamp cumulative runs
    over THAT ONE BUCKET's distinct times only (support ≤ one hour of
    distinct stamps), offset by the preceding buckets' count. The cutoff
    is identical to the single-pass form — bucketing by ``us div 3.6e9``
    is an order-monotone coarsening for the non-negative epoch-micro
    timestamps real event data carries. Labels are then assigned BY VALUE
    (train: t < cutoff; embargo: cutoff ≤ t < cutoff+gap; test: beyond),
    so ties at the cutoff land deterministically in both engines.

    Output: one row per split with exact-integer event/user counts and
    time bounds (micros). All broadcast sides below are 1-row global
    aggregates (hint-guard exempt).

    NULL timestamps follow the oracle's NULLS-LAST semantics: k counts
    every row, but the cumulative support is built over NON-NULL stamps
    only (a NULL would sort FIRST in Spark's cumulative and LAST in
    DuckDB's, shifting the cutoff) — so NULL-stamped rows can never pull
    the cutoff earlier, and they label as 'test' via the otherwise branch
    exactly as the oracle's CASE/ELSE does. If NULLs alone would be
    needed to reach k, the cutoff is NULL and every row labels 'test' in
    both engines.
    """
    bucket_us = 3_600_000_000
    ev = df.select(F.col(us_col).alias("_us"), F.col(user_col).alias("_user"))
    total = ev.agg(F.count(F.lit(1)).alias("_n"))
    k_expr = F.expr(f"(_n * {train_num}) div {train_den}")
    sup_b = (
        ev.where(F.col("_us").isNotNull())
        .groupBy(F.expr(f"_us div {bucket_us}").alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w_b = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    cum_b = sup_b.select("_b", F.sum("_c").over(w_b).alias("_cumb"))
    bstar = (
        cum_b.crossJoin(F.broadcast(total))
        .where(F.col("_cumb") >= k_expr)
        .agg(F.min("_b").alias("_bstar"))
    )
    prev = (
        cum_b.crossJoin(F.broadcast(bstar))
        .where(F.col("_b") < F.col("_bstar"))
        .agg(F.coalesce(F.max("_cumb"), F.lit(0)).alias("_prev"))
    )
    # checkpoint: this support is BOUNDED (one hour-bucket's distinct
    # stamps) but keyed by a timestamp — the plan guard rightly refuses to
    # treat per-timestamp aggregates as bounded supports
    # (tests/test_plan_quality.py::_ROW_SCALED_KEYS), so the boundedness is
    # made explicit as a materialization boundary. Note the operator is
    # therefore not construction-lazy: under AQE, checkpointing forces the
    # upstream stages at build time whether eager or not (measured: the
    # same 6 jobs either way; eager=False merely skips the final
    # materialization pass).
    sup_in = (
        ev.crossJoin(F.broadcast(bstar))
        .where(F.expr(f"_us div {bucket_us}") == F.col("_bstar"))
        .groupBy("_us")
        .agg(F.count(F.lit(1)).alias("_c"))
        .transform(checkpoint, eager=False)
    )
    w_in = Window.orderBy("_us").rowsBetween(Window.unboundedPreceding, 0)
    cutoff = (
        sup_in.crossJoin(F.broadcast(prev))
        .select("_us", (F.sum("_c").over(w_in) + F.col("_prev")).alias("_cum"))
        .crossJoin(F.broadcast(total))
        .where(F.col("_cum") >= k_expr)
        .agg(F.min("_us").alias("_cutoff"))
    )
    labeled = ev.crossJoin(F.broadcast(cutoff)).select(
        F.when(F.col("_us") < F.col("_cutoff"), F.lit("train"))
        .when(F.col("_us") < F.col("_cutoff") + F.lit(embargo_us), F.lit("embargo"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "_us",
        "_user",
    )
    return labeled.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("_user").cast("long").alias("n_users"),
        F.min("_us").cast("long").alias("min_us"),
        F.max("_us").cast("long").alias("max_us"),
    )
