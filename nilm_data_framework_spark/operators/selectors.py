"""P1-P15: projections, filters, predicates (SURVEY.md §2.2).

All are single Catalyst expressions — they push down to the Parquet scan
(`PushedFilters` in .explain) and cost nothing beyond the scan itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def time_range(
    df: DataFrame, ts: str = "ts", start: str | None = None, end: str | None = None
) -> DataFrame:
    """P3: inclusive time-range slice with both bounds optional
    (reference UnifiedNILM.py:397,410,484 — ``df.loc[start:end]``)."""
    if start is not None:
        df = df.filter(F.col(ts) >= F.lit(start).cast("timestamp"))
    if end is not None:
        df = df.filter(F.col(ts) <= F.lit(end).cast("timestamp"))
    return df


def by_label(channels: DataFrame, label: str) -> DataFrame:
    """P4: case-normalized ``universal_label`` equality (UnifiedNILM.py:187-195)."""
    return channels.filter(F.lower(F.col("universal_label")) == label.strip().lower())


def aggregate_channel(channels: DataFrame) -> DataFrame:
    """P5: the 'aggregate' raw-label channel(s) (UnifiedNILM.py:403-411)."""
    return channels.filter(F.lower(F.col("raw_label")) == "aggregate")


def by_power_type(
    channels: DataFrame, power_type: str, device: str | None = None
) -> DataFrame:
    """P6: data_type equality AND optional acquisition-device equality,
    case-insensitive (UnifiedNILM.py:414-434)."""
    cond = F.lower(F.col("data_type")) == power_type.lower()
    if device is not None:
        cond = cond & (F.lower(F.col("acquisition_device")) == device.lower())
    return channels.filter(cond)


def dedup_keep_first(
    df: DataFrame, keys: list[str], order: list[str]
) -> DataFrame:
    """P10/W2: ordered keep-first dedup (OlaLoader.py:115-118) —
    ``row_number() over (partitionBy keys orderBy order) == 1``."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )


def binarize(df: DataFrame, value: str, threshold: float) -> DataFrame:
    """P12: threshold binarization (postprocessing.py:32-42) into ``state``."""
    return df.withColumn("state", (F.col(value) >= F.lit(threshold)).cast("int"))


def clip(col: Column, lo=None, hi=None) -> Column:
    """P14: clamp — least(greatest(x, lo), hi) (train_bert_single.py:71-72,276).

    Bounds may be floats, ints, or Columns; int bounds stay integer
    literals so integer-typed inputs keep an integer result type (the
    exact-arithmetic paths clamp BIGINT fixed-point values)."""
    out = col
    if lo is not None:
        out = F.greatest(out, lo if isinstance(lo, Column) else F.lit(lo))
    if hi is not None:
        out = F.least(out, hi if isinstance(hi, Column) else F.lit(hi))
    return out
