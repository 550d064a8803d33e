"""A2-A15: aggregations (SURVEY.md §2.4).

The reference's outer-join-then-horizontal-sum pattern collapses to vertical
groupBy aggregation in long format — one shuffle, map-side partial agg, no
per-channel driver loops. Every function here returns a DataFrame; nothing
collects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_from_appliances(
    readings: DataFrame,
    keys: list[str],
    seconds: int | None = None,
    *,
    value: str = "power",
    channel: str | None = None,
) -> DataFrame:
    """A2: compute_aggregate_from_appliances (UnifiedNILM.py:438-490).

    The reference full-outer-joins selected channels on the time axis,
    fills 0, and row-sums. In long format the union-of-timestamps +
    fillna(0) + horizontal sum IS ``groupBy(ts).sum(value)`` — absent
    channels contribute nothing, exactly like the filled zeros.

    With ``seconds`` AND ``channel``, the reference-exact two-stage form
    runs: each channel is resampled to the bucket by MEAN first, then the
    channel means are summed per bucket (the reference's
    ``resample().mean()`` per channel followed by the horizontal sum).
    With ``seconds`` but no ``channel``, the bucket SUM of raw readings
    is returned — equal to the two-stage form only when every channel
    contributes exactly one reading per bucket; a faster-sampled channel
    otherwise weights the aggregate by its per-bucket sample count (the
    r7 review's fidelity note — the registered gate queries use and
    oracle this single-stage form on single-series inputs, where the two
    coincide in intent).
    """
    if seconds is None:
        grp = readings.groupBy(*keys, F.col("ts").alias("bucket_ts"))
        return grp.agg(F.sum(value).alias("aggregate_computed"))
    bucket = F.window(F.col("ts"), f"{seconds} seconds")["start"].alias("bucket_ts")
    if channel is None:
        grp = readings.groupBy(*keys, bucket)
        return grp.agg(F.sum(value).alias("aggregate_computed"))
    per = readings.groupBy(*keys, F.col(channel), bucket).agg(
        F.avg(value).alias("_ch_mean")
    )
    return per.groupBy(*keys, "bucket_ts").agg(
        F.sum("_ch_mean").alias("aggregate_computed")
    )


def dedup_mean(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """A3: groupby(keys).mean() as ``avg_value`` (preprocess_shelly.py:63)."""
    return df.groupBy(*keys).agg(F.avg(value).alias("avg_value"))


def pivot_wide(
    df: DataFrame,
    index: str,
    column: str,
    value: str,
    column_values: list[str] | None = None,
    fill=0.0,
) -> DataFrame:
    """A4: pivot long→wide (preprocess_shelly.py:64) with fillna(``fill``).

    Run dedup_mean first so ``first()`` never sees duplicates (the
    non-determinism trap flagged in SURVEY.md §7); passing an explicit
    ``column_values`` list avoids the extra distinct-collection job and
    fixes the output schema. ``fill`` matches the cell dtype (0 for the
    exact-integer e4 cells the registered query uses since r5).
    """
    piv = df.groupBy(index).pivot(column, column_values)
    return piv.agg(F.first(value)).na.fill(fill)


def daily_activity(
    readings: DataFrame, device: str, *, value: str = "power"
) -> DataFrame:
    """A5: per-day count of devices whose daily SUM of consumption is
    positive (insights_oladatasets.ipynb cell 1). Note this is the
    day-total test, not "any positive reading" — they differ only under
    signed values (e.g. PV export netting a day to ≤ 0)."""
    daily = readings.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), F.col(device)
    ).agg(F.sum(value).alias("day_sum"))
    return daily.groupBy("day").agg(
        F.count(F.when(F.col("day_sum") > 0, 1)).alias("active_devices")
    )


def active_hours(
    readings: DataFrame, device: str, *, value: str = "power"
) -> DataFrame:
    """A8: per-device count of hours whose mean consumption > 0
    (insights_oladatasets.ipynb cell 2)."""
    hourly = readings.groupBy(
        F.col(device), F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.avg(value).alias("hour_avg"))
    return hourly.groupBy(device).agg(
        F.count(F.when(F.col("hour_avg") > 0, 1)).alias("active_hours")
    )


def channel_stats(readings: DataFrame, keys: list[str], value: str = "power") -> DataFrame:
    """A9/A11: per-key variance / stddev / count / min / max / sum
    (channel_utils.py:63-71, ConvertToH5.py:119-131)."""
    return readings.groupBy(*keys).agg(
        F.var_samp(value).alias("var_value"),
        F.stddev_samp(value).alias("std_value"),
        F.count(F.lit(1)).alias("n"),
        F.min(value).alias("min_value"),
        F.max(value).alias("max_value"),
        F.sum(value).alias("sum_value"),
    )


def exact_quantile(
    readings: DataFrame, keys: list[str], value: str, q: float, out: str = "quantile"
) -> DataFrame:
    """A10: exact per-key quantile (train_bert_single.py:48-53 uses
    torch.quantile(0.99)). Exact ``percentile`` for oracle parity; use
    percentile_approx on the 100 TB path."""
    return readings.groupBy(*keys).agg(F.expr(f"percentile({value}, {q})").alias(out))


def pairwise_corr(
    readings: DataFrame,
    pair_col: str,
    *,
    value: str = "power",
    seconds: int = 60,
) -> DataFrame:
    """A12: pairwise Pearson correlation between series, computed without
    materializing a wide pivot (insights_oladatasets.ipynb cell 3).

    Resample each series to ``seconds`` buckets (mean), then self-join on
    the bucket and aggregate ``corr`` per (a, b) pair with a < b. The
    self-join shuffles once on bucket_ts; at scale, bucket count >> series
    count so skew is bounded.
    """
    b = (
        readings.groupBy(
            F.col(pair_col), F.window(F.col("ts"), f"{seconds} seconds")["start"].alias("bucket_ts")
        )
        .agg(F.avg(value).alias("v"))
    )
    left = b.select(F.col(pair_col).alias("a"), "bucket_ts", F.col("v").alias("va"))
    right = b.select(F.col(pair_col).alias("b"), "bucket_ts", F.col("v").alias("vb"))
    joined = left.join(right, on="bucket_ts").filter(F.col("a") < F.col("b"))
    return joined.groupBy("a", "b").agg(F.corr("va", "vb").alias("pearson"))


def distinct_labels(channels: DataFrame, col: str = "universal_label") -> DataFrame:
    """A14: global distinct sorted label set (ConvertToTensor.py:35-44)."""
    return channels.select(col).distinct().orderBy(col)


def pairwise_corr_onepass(
    readings: DataFrame,
    pair_col: str,
    series_values: list[str],
    *,
    value: str = "power",
    seconds: int = 60,
) -> DataFrame:
    """A12 scale escalation (SURVEY §7 watch list): pairwise Pearson via ONE
    distributed pass — bucket-resample, pivot to a vector per bucket, and
    let ``spark.ml``'s Correlation aggregate the C×C matrix (a single
    tree-aggregated Gramian; the C×C result is driver-sized by construction).

    The per-pair self-join variant (:func:`pairwise_corr`) is O(C²)
    aggregates and fine to ~10³ series; this one is O(C²) only in the tiny
    result. Buckets with any missing series are dropped (complete-case, the
    same rows the inner-join variant correlates when every pair shares the
    bucket set). Returns (a, b, pearson) with a < b.

    NOTE: this operator executes EAGERLY (``Correlation.corr(...).head()``
    materializes the C×C Gramian on the driver) — the returned DataFrame is a
    local relation of the C(C-1)/2 pairs, not a lazy plan. Zero-variance
    series yield NaN from spark.ml; those entries are mapped to NULL to match
    SQL ``corr`` semantics (DuckDB/Spark SQL return NULL there).
    """
    import math
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.stat import Correlation

    cols = sorted(series_values)
    wide = (
        readings.groupBy(
            F.window(F.col("ts"), f"{seconds} seconds")["start"].alias("bucket_ts")
        )
        .pivot(pair_col, cols)
        .agg(F.avg(value))
        .na.drop()
    )
    assembled = VectorAssembler(inputCols=cols, outputCol="_vec").transform(wide)
    spark = readings.sparkSession
    head = Correlation.corr(assembled, "_vec", "pearson").head() if (
        assembled.limit(1).count() > 0
    ) else None
    if head is None:
        # no complete-case bucket at all (a series missing everywhere):
        # spark.ml's Correlation RAISES on an empty frame, while SQL corr
        # (the pair-agg twin and the DuckDB oracle) returns the pair rows
        # with NULL pearson — emit the same NULL rows instead of crashing
        rows = [
            (cols[i], cols[j], None)
            for i in range(len(cols))
            for j in range(i + 1, len(cols))
        ]
        return spark.createDataFrame(rows, "a string, b string, pearson double")
    mat = head[0].toArray()
    rows = [
        (
            cols[i],
            cols[j],
            None if math.isnan(mat[i][j]) else float(mat[i][j]),
        )
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    ]
    return spark.createDataFrame(rows, "a string, b string, pearson double")


def weighted_mean_udaf():
    """§2.8 UDAF surface: a GROUPED_AGG pandas UDF (Arrow-batched custom
    aggregate) computing a weight-normalized mean from a (value, weight)
    struct column. The declarative twin is sum(v*w)/sum(w) — registered
    queries use THAT (built-ins win; SURVEY §2.8's 'no UDAF needed' stance);
    this exists as the sanctioned escape hatch for aggregates with no
    built-in form (trimmed means, online quantile sketches, custom decay)
    and is parity-tested against the twin in tests/test_kernels.py.

    Scale: GROUPED_AGG ships each group's column slices through Arrow once —
    same shuffle as a native agg, but no partial aggregation (full groups
    must co-locate), which is exactly why built-ins stay the default.
    """
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: hint-based inference needs module-global pandas;
    # the explicit form keeps the import function-local.
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def weighted_mean(v, w):
        tw = w.sum()
        # None (SQL NULL) on zero total weight — the declarative twin's
        # Divide yields NULL there, and the documented parity must hold on
        # that edge too (NaN vs NULL flips the driver's typed hash)
        return float((v * w).sum() / tw) if tw else None

    return weighted_mean


def cohort_retention(
    df: DataFrame, entity: str, *, period_s: int = 7 * 86400
) -> DataFrame:
    """Cohort retention matrix: assign each entity to the cohort of its
    FIRST activity period (epoch // period_s — fixed-width periods avoid
    week-start/timezone semantics differing across engines), then count
    distinct active entities per (cohort, period offset). The classic
    product-analytics triangle view; offset 0 row doubles as cohort size.

    Scale shape: first-touch is one hash agg keyed by entity (min period);
    activity reduces to DISTINCT (entity, period) before the cohort join —
    so the join carries entity-periods, not raw events — and the final agg
    is a plain (cohort, offset) count. All linear, one join keyed on the
    entity (AQE-decided: the first-touch frame grows with the entity
    domain, never hint-broadcast per the repo's sf-scaled rule).
    """
    from nilm_data_framework_spark.operators.exact_math import epoch_div

    period = epoch_div("ts", period_s)
    active = df.select(F.col(entity), period.alias("_p")).distinct()
    first = active.groupBy(entity).agg(F.min("_p").alias("_cohort"))
    joined = active.join(first, entity)
    return (
        joined.groupBy(
            F.col("_cohort").alias("cohort_period"),
            (F.col("_p") - F.col("_cohort")).alias("period_offset"),
        )
        .agg(F.countDistinct(entity).alias("n_active"))
    )
