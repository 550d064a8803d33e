"""A1 time-bucket resample + A6 sample-rate inference + upsample guard.

Reference semantics:
  - ``Channel.resample`` (UnifiedNILM/UnifiedNILM.py:66-124): pandas
    ``resample(rate).mean()`` — i.e. tumbling windows aligned to the epoch,
    mean per bucket, *empty buckets dropped* (pandas emits NaN rows; the
    framework's downstream fillna(0) handles them — we keep the long-format
    convention of no row for an empty bucket).
  - Upsample guard (UnifiedNILM.py:118-120): if the target rate is finer
    than the inferred current rate, skip resampling.
  - Rate inference (REFITLoader.py:82-89, UKDALELoader.py:77-82,
    OlaLoader.py:21-30, UnifiedNILM.py:96-109): median of positive
    consecutive timestamp deltas, in whole seconds.

Spark shape: ``window(ts, '<n> seconds')`` tumbling agg — a single shuffle on
the grouping keys; partial aggregation (map-side combine) happens
automatically. Rate inference is a lag-window + exact median, one shuffle per
key. Both scale linearly: no driver-side loops, no collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.exact_math import epoch_div


def infer_sample_rate(readings: DataFrame, keys: list[str]) -> DataFrame:
    """A6: per-key median of positive consecutive ``ts`` deltas (seconds).

    Returns one row per key: ``keys..., rate_s double``. Uses exact
    ``median`` (not percentile_approx) so results are oracle-checkable; at
    100 TB ``percentile_approx`` is the mergeable-sketch swap (no full sort
    of deltas per key).
    """
    w = Window.partitionBy(*keys).orderBy("ts")
    delta = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    return (
        readings.withColumn("_delta_s", delta)
        .filter(F.col("_delta_s") > 0)
        .groupBy(*keys)
        .agg(F.expr("median(_delta_s)").alias("rate_s"))
    )


def resample_mean(
    readings: DataFrame,
    keys: list[str],
    seconds: int,
    *,
    value: str = "power",
    out_value: str = "power",
) -> DataFrame:
    """A1: downsample ``ts`` to ``seconds``-wide tumbling buckets by mean.

    Output: ``keys..., bucket_ts timestamp, <out_value> double`` — bucket_ts
    is the window start (epoch-aligned, matching pandas ``resample`` and
    DuckDB ``time_bucket``). Empty buckets are absent (long-format).
    """
    return (
        readings.groupBy(*keys, F.window(F.col("ts"), f"{seconds} seconds").alias("_w"))
        .agg(F.avg(value).alias(out_value))
        .withColumn("bucket_ts", F.col("_w.start"))
        .drop("_w")
        .select(*keys, "bucket_ts", out_value)
    )


def resample_mean_guarded(
    readings: DataFrame,
    keys: list[str],
    seconds: int,
    *,
    value: str = "power",
) -> DataFrame:
    """A1 with the reference's upsample guard (UnifiedNILM.py:118-120).

    Keys whose inferred native rate is already coarser than ``seconds`` are
    passed through un-resampled (the reference skips them); everything else
    is bucketed. Implemented as a join of the per-key inferred rate — a
    metadata-driven plan step, not a Catalyst rule. The rate table scales
    with key count, so the join strategy is left to AQE (no forced hint).

    Both branches emit ``value`` as ``power`` (bucket means or the
    untouched readings), so the output schema does not depend on which
    keys were resampled.
    """
    # `rates` has one row per key — key cardinality grows with data size, so
    # no forced broadcast; AQE converts to broadcast at runtime when small.
    rates = infer_sample_rate(readings, keys)
    tagged = readings.join(rates, on=keys, how="left")
    fine = tagged.filter((F.col("rate_s").isNull()) | (F.col("rate_s") <= seconds))
    coarse = tagged.filter(F.col("rate_s") > seconds)
    resampled = resample_mean(fine.drop("rate_s"), keys, seconds, value=value)
    passthrough = coarse.select(
        *keys, F.col("ts").alias("bucket_ts"), F.col(value).alias("power")
    )
    return resampled.unionByName(passthrough)


def resample_interpolate(
    readings: DataFrame,
    keys: list[str],
    seconds: int,
    *,
    value: str = "power",
    mean_round_dp: int | None = None,
) -> DataFrame:
    """A1 extension: resample to a dense per-key grid with linear
    interpolation of empty buckets (pandas ``resample().mean()
    .interpolate()`` — the gap-fill step the reference's fillna(0)
    convention papers over, UnifiedNILM/UnifiedNILM.py:66-124).

    Output: ``keys..., bucket_ts timestamp, power double, filled boolean``
    — one row per grid slot from each key's first to last bucket; ``filled``
    marks interpolated rows. Interior gaps get the linear blend of the
    nearest real buckets; leading/trailing slots (nothing to blend on one
    side) carry the nearest real value.

    With ``mean_round_dp`` set, the whole blend runs in 10^dp fixed-point:
    bucket means become integer ticks and interior gaps get the exact
    rational ``(pv*(ne-e) + nv*(e-pe)) / (ne-pe)`` TRUNCATED TOWARD ZERO
    (Spark ``div`` and DuckDB BIGINT ``//`` both truncate, so the two
    gate engines agree even for negative tick values; a flooring engine
    — Python ``//`` — would differ below zero, the same signed-division
    caveat as operators/exact_math.ratio_scaled). Grid epochs ×
    hourly buckets make blend weights dyadic rationals (10800/57600 = 3/16),
    which lands float lerps of dp-rounded inputs EXACTLY on decimal rounding
    boundaries where engines disagree (47.00375 → 47.0038 vs 47.0037);
    integer arithmetic has no boundary to disagree on, so the result is
    bit-identical in any engine. Without it, a plain double lerp is used.

    Plan: tumbling-window mean (one shuffle) → per-key min/max epoch (agg on
    the already-small bucket frame) → ``sequence()`` + explode builds the
    grid JVM-side (no driver loop, no crossJoin) → left join buckets →
    two same-partitioning window passes (asc + desc) carry (epoch, value) of
    the nearest real sample in each direction. Everything after the first
    shuffle is keyed identically, so AQE reuses one exchange for the windows.
    The grid size is bounded by (span / seconds) per key — at 100 TB,
    partition count follows key cardinality, not raw readings.
    """
    agg = resample_mean(readings, keys, seconds, value=value, out_value="_v")
    scale = None
    if mean_round_dp is not None:
        # Fixed-point ticks: round the mean to dp decimals, then scale to an
        # exact integer (round again to absorb the *10^dp float ulp).
        scale = 10**mean_round_dp
        agg = agg.withColumn(
            "_v", F.round(F.round("_v", mean_round_dp) * scale).cast("long")
        )
    epoch = F.col("bucket_ts").cast("long")
    buckets = agg.withColumn("_e", epoch)
    grid = (
        buckets.groupBy(*keys)
        .agg(F.min("_e").alias("_lo"), F.max("_e").alias("_hi"))
        .select(
            *keys,
            F.explode(F.sequence("_lo", "_hi", F.lit(seconds))).alias("_e"),
        )
    )
    joined = grid.join(buckets.select(*keys, "_e", "_v"), on=[*keys, "_e"], how="left")
    w_back = Window.partitionBy(*keys).orderBy("_e")
    w_fwd = Window.partitionBy(*keys).orderBy(F.col("_e").desc())
    real_e = F.when(F.col("_v").isNotNull(), F.col("_e"))
    prev_v = F.last("_v", ignorenulls=True).over(w_back)
    prev_e = F.last(real_e, ignorenulls=True).over(w_back)
    next_v = F.last("_v", ignorenulls=True).over(w_fwd)
    next_e = F.last(real_e, ignorenulls=True).over(w_fwd)
    if scale is not None:
        # Integer blend: exact rational truncated toward zero — no float
        # boundary (both gate engines truncate; see docstring).
        carried = joined.select(
            *keys,
            "_e",
            "_v",
            prev_v.alias("_pv"),
            prev_e.alias("_pe"),
            next_v.alias("_nv"),
            next_e.alias("_ne"),
        )
        lerp_ticks = F.expr("(_pv * (_ne - _e) + _nv * (_e - _pe)) div (_ne - _pe)")
        ticks = (
            F.when(F.col("_v").isNotNull(), F.col("_v"))
            .when(F.col("_pe").isNull(), F.col("_nv"))
            .when(F.col("_ne").isNull(), F.col("_pv"))
            .otherwise(lerp_ticks)
        )
        return carried.select(
            *keys,
            F.col("_e").cast("timestamp").alias("bucket_ts"),
            (ticks.cast("double") / scale).alias(value),
            F.col("_v").isNull().alias("filled"),
        )
    lerp = prev_v + (next_v - prev_v) * (
        (F.col("_e") - prev_e).cast("double") / (next_e - prev_e).cast("double")
    )
    return joined.select(
        *keys,
        F.col("_e").cast("timestamp").alias("bucket_ts"),
        F.when(F.col("_v").isNotNull(), F.col("_v"))
        .when(prev_e.isNull(), next_v)
        .when(next_e.isNull(), prev_v)
        .otherwise(lerp)
        .alias(value),
        F.col("_v").isNull().alias("filled"),
    )


def time_weighted_mean(
    df: DataFrame, keys: list[str], *, order_extra: list[str] | None = None
) -> DataFrame:
    """Time-weighted (LOCF) mean of ``value`` per key over an IRREGULAR
    ``ts`` series: each reading holds until the next one, so its weight is
    the interval to its successor — the physically-correct average power
    between samples, where the plain `avg` the reference computes
    (UnifiedNILM.py:122) silently over-weights bursts of fast sampling. The final reading of each key has
    no successor and is excluded (standard for step-function integrals over
    a half-open observation window).

    Emits per key: ``twa`` (4dp), ``n_intervals``, ``span_s`` (total covered
    seconds, exact integer). Intervals are exact integer microseconds
    (unix_micros), so the weights are bit-identical cross-engine.

    Scale: one window shuffle on the key (lead), then a partial+final agg on
    the same key — AQE coalesces the two stages onto one exchange. This is
    the continuous-aggregate kernel of a hypertable rollup.
    """
    order_cols = ["ts"] + (order_extra or [])
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    us = F.unix_micros(F.col("ts"))
    dt = (F.lead(us).over(w) - us).cast("double")
    d = df.withColumn("_dt_us", dt).filter(F.col("_dt_us").isNotNull())
    return d.groupBy(*keys).agg(
        F.round(
            F.sum(F.col("value") * F.col("_dt_us")) / F.sum("_dt_us"), 4
        ).alias("twa"),
        F.count(F.lit(1)).alias("n_intervals"),
        (F.sum("_dt_us").cast("long") / F.lit(1000000)).cast("long").alias("span_s"),
    )


def m4_downsample(
    df: DataFrame,
    keys: list[str],
    *,
    bucket_s: int = 3600,
    tiebreak: str | None = None,
) -> DataFrame:
    """M4 visualization downsampling (Jugel et al., VLDB 2014) of a
    (``ts``, ``value``) series: per (key, time bucket) keep exactly the four
    value-extreme/boundary points — min, max, first, last — which is
    provably sufficient to render the series' line plot pixel-exactly at
    the bucket resolution. The width-bounded
    alternative to raw export when a dashboard asks for a year of 1 Hz data.

    Emitted long-form: (keys..., bucket [epoch div bucket_s ordinal],
    point_role, point_ts, point_value) with one
    row per role (a point serving several roles appears once per role —
    simplest deterministic contract). Ties inside a bucket break on
    (ts, tiebreak) for first/last and (value, ts, tiebreak) for min/max,
    so selection replays identically cross-engine.

    Scale: all four ranks are computed in ONE pass — the window specs share
    the (keys, bucket) partitioning, so the plan has a single exchange with
    the four sorts chained on top (not a 4-branch union that would scan and
    shuffle the input four times); the role unpivot is a `stack` projection.
    Output is 4 rows per bucket regardless of input rate — a ~constant-size
    result per rendered pixel column, which is the whole point at 100 TB.
    """
    bkt = epoch_div("ts", bucket_s)
    d = df.withColumn("_bkt", bkt)
    tb = [F.col(tiebreak)] if tiebreak else []
    part = [*keys, "_bkt"]
    roles = {
        "first": [F.col("ts").asc(), *tb],
        "last": [F.col("ts").desc(), *[c.desc() for c in tb]],
        "min": [F.col("value").asc(), F.col("ts").asc(), *tb],
        "max": [F.col("value").desc(), F.col("ts").asc(), *tb],
    }
    ranked = d
    for role, order in roles.items():
        w = Window.partitionBy(*part).orderBy(*order)
        ranked = ranked.withColumn(f"_rk_{role}", F.row_number().over(w))
    stack_args = ", ".join(f"'{role}', _rk_{role}" for role in roles)
    unpivoted = ranked.select(
        *keys,
        F.col("_bkt").alias("bucket"),
        F.col("ts").alias("point_ts"),
        F.col("value").alias("point_value"),
        F.expr(f"stack({len(roles)}, {stack_args})").alias("point_role", "_rk"),
    )
    return unpivoted.filter(F.col("_rk") == 1).select(
        *keys, "bucket", "point_role", "point_ts", "point_value"
    )


# seasonal_naive_error's grid: hourly buckets, a daily season
_SEASON_BUCKET_S = 3600
_SEASON = 24


def seasonal_naive_error(df: DataFrame, keys: list[str]) -> DataFrame:
    """Forecastability audit: bucket each (``ts``, ``value``) series (hourly
    mean), then compare the SEASONAL-naive forecast (value one day of
    buckets ago) against the plain naive forecast (previous bucket) by mean
    absolute error. ratio < 1 ⇒ the series has real seasonal structure
    worth a seasonal model — the MASE-style denominator logic (Hyndman & Koehler
    2006) as a per-key screening aggregate.

    Errors only count buckets where BOTH forecasts exist (same support, fair
    comparison). Gaps in the bucket grid make "one season ago" a row-lag
    approximation; the audit is a screen, not a forecaster. Two window
    passes share one (key-ordered) shuffle; MAEs are rounded 4dp per repo
    float discipline. Returns (keys..., n_buckets, mae_naive,
    mae_seasonal, mase_ratio).
    """
    bkt = epoch_div("ts", _SEASON_BUCKET_S)
    series = (
        df.withColumn("_bkt", bkt)
        .groupBy(*keys, "_bkt")
        .agg(F.avg("value").alias("_v"))
    )
    w = Window.partitionBy(*keys).orderBy("_bkt")
    scored = series.withColumn("_prev", F.lag("_v", 1).over(w)).withColumn(
        "_seas", F.lag("_v", _SEASON).over(w)
    )
    both = scored.filter(F.col("_prev").isNotNull() & F.col("_seas").isNotNull())
    return both.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(F.avg(F.abs(F.col("_v") - F.col("_prev"))), 4).alias("mae_naive"),
        F.round(F.avg(F.abs(F.col("_v") - F.col("_seas"))), 4).alias("mae_seasonal"),
        F.round(
            F.avg(F.abs(F.col("_v") - F.col("_seas")))
            / F.avg(F.abs(F.col("_v") - F.col("_prev"))),
            4,
        ).alias("mase_ratio"),
    )
