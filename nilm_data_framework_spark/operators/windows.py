"""W1-W7: window functions, sliding windows, gaps-and-islands (SURVEY.md §2.5).

Two implementations of W4 sliding windows:
  - ``sliding_windows_sql``: rowsBetween + collect_list — fully declarative,
    oracle-checkable, fine for short seq_len.
  - ``sliding_windows_grouped``: applyInPandas per series — one shuffle on the
    series key, then NumPy stride tricks inside each group; this is the 100 TB
    path (no per-window shuffle, Arrow-batched).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    LongType,
    StructField,
    StructType,
)


def top_k(df: DataFrame, order_cols: list, k: int) -> DataFrame:
    """W3 extension: top-k = orderBy + limit (the reference only full-sorts).
    Spark plans this as TakeOrderedAndProject — no global sort at scale."""
    return df.orderBy(*order_cols).limit(k)


def sliding_windows_sql(
    readings: DataFrame,
    keys: list[str],
    seq_len: int,
    step: int,
    ts: str | list[str] = "ts",
    value: str = "power",
) -> DataFrame:
    """W4 (declarative): fixed-length overlapping windows with stride.

    Matches create_windows (channel_utils.py:180-185) / ConvertToTensor.py:60:
    windows start at positions 0, step, 2*step, ... and only full windows are
    kept (count == (len - seq_len) // step + 1).

    ``ts`` may be a list of ordering columns (tie-breaks keep the order — and
    therefore the hash-oracle — deterministic).

    PRECONDITION (both W4 paths): non-null ``value``. collect_list SKIPS
    nulls, so this path silently drops any window overlapping a null
    (size != seq_len), while :func:`sliding_windows_grouped` keeps it
    with NaN — the two paths only agree on null-free series. Impute or
    filter nulls upstream (the canonical readings pipeline does).

    Output: keys..., window_id (0-based), x array<double> (time-ordered).
    """
    order_cols = [ts] if isinstance(ts, str) else list(ts)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    fwd = Window.partitionBy(*keys).orderBy(*order_cols).rowsBetween(0, seq_len - 1)
    return (
        readings.withColumn("_pos", F.row_number().over(w) - 1)
        .withColumn("x", F.collect_list(F.col(value)).over(fwd))
        .filter((F.col("_pos") % step == 0) & (F.size("x") == seq_len))
        .select(*keys, (F.col("_pos") / step).cast("long").alias("window_id"), "x")
    )


def sliding_windows_grouped(
    readings: DataFrame,
    keys: list[str],
    seq_len: int,
    step: int,
    ts: str | list[str] = "ts",
    value: str = "power",
) -> DataFrame:
    """W4 (scale path): applyInPandas per series key; NumPy windowing inside.

    One shuffle total (groupBy keys); each group is sorted and windowed with
    stride tricks — the Spark analog of sliding_window_view
    (channel_utils.py:180-185) without a per-window shuffle. ``ts`` may be a
    list of ordering columns for deterministic tie-breaks. Same non-null
    ``value`` precondition as :func:`sliding_windows_sql` (a null becomes
    NaN here but drops the whole window there).
    """
    import numpy as np
    import pandas as pd

    order_cols = [ts] if isinstance(ts, str) else list(ts)
    key_fields = [readings.schema[k] for k in keys]
    out_schema = StructType(
        key_fields
        + [
            StructField("window_id", LongType()),
            StructField("x", ArrayType(DoubleType())),
        ]
    )

    def make_windows(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols, kind="mergesort")
        vals = pdf[value].to_numpy(dtype=np.float64)
        n = (len(vals) - seq_len) // step + 1 if len(vals) >= seq_len else 0
        if n <= 0:
            return pd.DataFrame(columns=[*keys, "window_id", "x"])
        idx = np.arange(n)[:, None] * step + np.arange(seq_len)[None, :]
        wins = vals[idx]
        out = pd.DataFrame({k: [pdf[k].iloc[0]] * n for k in keys})
        out["window_id"] = np.arange(n, dtype=np.int64)
        out["x"] = wins.tolist()
        return out

    from nilm_data_framework_spark.operators.parallelism import pin_group_parallelism

    # pin full-width parallelism for the Python stage (AQE byte-coalescing
    # would under-parallelize it — see operators/parallelism.py)
    return (
        pin_group_parallelism(readings, keys)
        .groupBy(*keys)
        .applyInPandas(make_windows, schema=out_schema)
    )


def run_length_filter(
    df: DataFrame,
    keys: list[str],
    ts: str | list[str],
    state: str,
    min_len: int,
) -> DataFrame:
    """W5: gaps-and-islands run-length ON filter (postprocessing.py:5-24).

    ``state_filtered`` is ``state`` with ON-runs shorter than ``min_len``
    samples zeroed. Classic two-window
    formulation: segment id = running count of state changes; then a
    per-segment count joined back via a second window (no self-join).
    Trailing open segments are handled identically (the count is the run's
    true length regardless of position).
    """
    order_cols = [ts] if isinstance(ts, str) else list(ts)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    changed = (F.col(state) != F.lag(state, 1, -1).over(w)).cast("int")
    seg = F.sum(changed).over(w)
    df2 = df.withColumn("_seg", seg)
    wseg = Window.partitionBy(*keys, "_seg")
    df3 = df2.withColumn("_seglen", F.count(F.lit(1)).over(wseg))
    return df3.withColumn(
        "state_filtered",
        F.when((F.col(state) == 1) & (F.col("_seglen") < min_len), 0).otherwise(
            F.col(state)
        ),
    ).drop("_seg", "_seglen")


def run_segments(
    df: DataFrame,
    keys: list[str],
    ts: str | list[str],
    state: str,
) -> DataFrame:
    """W5 segment-level output: one row per run (the batch twin of the
    streaming ``track_runs`` stateful operator): keys..., state, first/last
    ts, n_samples. Same gaps-and-islands segment id as run_length_filter."""
    order_cols = [ts] if isinstance(ts, str) else list(ts)
    w = Window.partitionBy(*keys).orderBy(*order_cols)
    changed = (F.col(state) != F.lag(state, 1, -1).over(w)).cast("int")
    first_ord = order_cols[0]
    return (
        df.withColumn("_seg", F.sum(changed).over(w))
        .groupBy(*keys, "_seg")
        .agg(
            F.first(state).alias(state),
            F.min(first_ord).alias("start_ts"),
            F.max(first_ord).alias("end_ts"),
            F.count(F.lit(1)).alias("n_samples"),
        )
        .drop("_seg")
    )


def median_smooth(
    df: DataFrame,
    keys: list[str],
    ts: str | list[str],
    value: str,
    half_width: int,
) -> DataFrame:
    """W6: sliding-window median smoothing into ``smoothed``
    (postprocessing.py:27-30). ``ts`` may be a list of ordering columns
    (tie-breaks keep the window contents deterministic).

    NOTE edge semantics: scipy.ndimage.median_filter reflect-pads; this
    declarative version shrinks the window at the edges (rowsBetween clips).
    Interior rows (full windows) equal scipy's; tests/test_kernels.py and
    tests/test_stateful_reflect.py check that.
    """
    order_cols = [ts] if isinstance(ts, str) else list(ts)
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(-half_width, half_width)
    )
    return df.withColumn("smoothed", F.expr(f"percentile({value}, 0.5)").over(w))


def truncate_to_min(
    df: DataFrame,
    group: list[str],
    series: str,
    ts: str | list[str],
) -> DataFrame:
    """W7: truncate every series in a group to the group's shortest series
    (channel_utils.py:213-220) — row_number <= min(count) per series.
    ``ts`` may be a list of ordering columns: with duplicate timestamps the
    single-column order makes WHICH tied rows get truncated at the cutoff
    shuffle-dependent (the same determinism contract as the W4 kernels)."""
    order_cols = [ts] if isinstance(ts, str) else list(ts)
    w = Window.partitionBy(*group, series).orderBy(*order_cols)
    counts = df.groupBy(*group, series).agg(F.count(F.lit(1)).alias("_cnt"))
    min_counts = counts.groupBy(*group).agg(F.min("_cnt").alias("_min_cnt"))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        # min_counts is per-group (sf-scaled cardinality) — no forced hint.
        .join(min_counts, on=group)
        .filter(F.col("_rn") <= F.col("_min_cnt"))
        .drop("_rn", "_min_cnt")
    )


def scd2_intervals(
    df: DataFrame,
    key: str,
    ts: str,
    attr: str,
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """Changelog → slowly-changing-dimension type-2 validity intervals: per
    ``key``, collapse consecutive runs of equal ``attr`` and emit one row per
    run with [valid_from, valid_to) bounds (valid_to NULL for the current
    run). The batch form of "latest-state + history" dimension maintenance a
    warehouse MERGE would do incrementally; generalizes the reference's
    keep-first dedup (P10/W2) from "one survivor" to "one row per value run".

    Scale shape: exactly one shuffle on ``key`` serving three same-
    partitioning window passes (lag to find run starts, lead for the next
    run's start); Catalyst reuses the single sort. Runs per key << rows per
    key, so output shrinks. At 100 TB keys are users/devices — millions of
    small partitions, no single-key concentration.
    """
    order = [F.col(ts)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(key).orderBy(*order)
    changed = F.coalesce(F.lag(attr).over(w) != F.col(attr), F.lit(True))
    starts = df.withColumn("_chg", changed).filter(F.col("_chg"))
    w2 = Window.partitionBy(key).orderBy(*order)
    return starts.select(
        F.col(key),
        F.col(attr),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w2).alias("valid_to"),
    )


def sweepline_concurrency(
    intervals: DataFrame,
    keys: list[str],
    start: str = "start",
    end: str = "end",
) -> DataFrame:
    """Per-key PEAK CONCURRENCY over half-open intervals [start, end) via the
    classic sweep line: +1 at every start, −1 at every end, running prefix
    sum in time order, max. The interval-overlap aggregate behind "max
    concurrent sessions/campaigns/connections" — a range-join question
    answered WITHOUT any join (the naive form is interval × timepoint).

    Determinism: deltas are SUMMED PER TIMESTAMP before the prefix sum, so
    the running order is over unique (key, t) rows — no tie ambiguity — and
    the half-open convention means an interval ending exactly when another
    starts never double-counts. Returns (keys..., peak_concurrency,
    n_intervals).

    Scale shape: one hash agg (delta per timestamp) + one window shuffle on
    the key — both linear; the sweep state is a single integer per key. At
    100 TB the window partitions by key (bounded series each); a single
    global key would instead use the two-pass prefix-sum decomposition
    (per-partition partials, then a broadcast cumulative offset).
    """
    starts = intervals.select(
        *keys, F.col(start).alias("_t"), F.lit(1).alias("_d")
    )
    ends = intervals.select(*keys, F.col(end).alias("_t"), F.lit(-1).alias("_d"))
    deltas = (
        starts.unionByName(ends)
        .groupBy(*keys, "_t")
        .agg(F.sum("_d").alias("_delta"))
    )
    w = (
        Window.partitionBy(*keys)
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    running = deltas.withColumn("_open", F.sum("_delta").over(w))
    counts = intervals.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_intervals"))
    peaks = running.groupBy(*keys).agg(F.max("_open").alias("peak_concurrency"))
    return peaks.join(counts, keys)


def skyline_2d(
    df: DataFrame,
    keys: list[str],
    x: str,
    y: str,
) -> DataFrame:
    """Per-key 2-D skyline (Pareto frontier, maximize both): keep rows no
    OTHER row dominates, where q dominates p iff q.x ≥ p.x ∧ q.y ≥ p.y with
    at least one strict. Ties on both coordinates survive together (neither
    dominates). Börzsönyi et al. ICDE'01 semantics — the "best tradeoff"
    selector (quality vs length, recall vs cost) the quadratic NOT-EXISTS
    formulation answers in O(n²); this is the sort-based O(n log n) form.

    Strict-inequality form, exact for ANY numeric x (r7: the previous
    ``rangeBetween(1, ∞)`` frame meant x' ≥ x+1, which silently missed
    dominators less than one unit larger — wrong for fractional metrics
    like the recall-vs-cost tradeoffs this docstring advertises):
      • per-(keys, x) group max of y (one hash agg on the same keys);
      • max over STRICTLY larger x via a rows frame over the DISTINCT-x
        group rows ordered x DESC (each row is one x value, so
        rowsBetween(unboundedPreceding, -1) is exactly x' > x — no
        numeric offset, no unit assumption);
      • join the two flags back on (keys, x) — AQE reuses the (keys, x)
        partitioning from the agg.
    The oracle twin IS the quadratic NOT EXISTS — equivalence of the two
    formulations is what the gate checks. Scale: linear + per-key sort
    over the distinct-x support; no self-join, no explosion.

    NULL/NaN coordinates are FILTERED up front (r7 advice): the join-back
    on the double x column would silently drop NULL/NaN-x rows (equi-join
    never matches them) while the quadratic NOT-EXISTS oracle KEPT them
    (all comparisons false → vacuously undominated) — two formulations
    diverging on garbage inputs. A skyline over a partial order with
    incomparable NULL/NaN points is not well-defined, so the operator
    defines the frontier over rows with comparable (non-null, non-NaN)
    coordinates only, and the explicit filter makes operator and oracle
    agree by construction.
    """
    comparable = F.col(x).isNotNull() & F.col(y).isNotNull()
    for c in (x, y):
        if isinstance(df.schema[c].dataType, (DoubleType, FloatType)):
            comparable = comparable & ~F.isnan(F.col(c))
    df = df.filter(comparable)
    gx = df.groupBy(*keys, x).agg(F.max(F.col(y)).alias("_my_eq"))
    w_desc = (
        Window.partitionBy(*keys)
        .orderBy(F.col(x).desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flags = gx.withColumn("_my_gt", F.max("_my_eq").over(w_desc))
    flagged = df.join(flags, on=[*keys, x])
    return flagged.filter(
        (F.col("_my_gt").isNull() | (F.col("_my_gt") < F.col(y)))
        & (F.col("_my_eq") <= F.col(y))
    ).drop("_my_gt", "_my_eq")


def interval_coalesce(
    df: DataFrame, keys: list[str], *, weight: str | None = None
) -> DataFrame:
    """Merge overlapping-or-touching intervals [``s``, ``e``] per key
    (interval COALESCING — the union/gaps-and-islands kernel), with
    ``event_id`` as the tiebreak: a new island starts
    exactly where an interval's start exceeds the running max of all
    PRIOR ends. Returns one row per (keys, island) with
    ``island_s``/``island_e`` (exact min start / max end) and
    ``n_raw_in`` (member count). Touching intervals (start == prior end)
    MERGE; strict gaps split.

    Both windows — the prior-end running max and the island-id running
    sum — order by the SAME total key (s, event_id). Ordering the
    island-id sum by anything else (e.g. (s, e, new_island)) sorts the
    marked first-of-island row AFTER its equal-(s, e) peers, assigning
    those peers to the PREVIOUS island and silently bridging a genuine
    gap — the authoring-time near-miss pinned by
    tests/test_extra_ops_r8c.py::test_interval_coalesce_equal_start_tie.

    ``weight`` (optional integer column) makes ``n_raw_in`` a weighted
    member count instead of a row count — the hook the INCREMENTAL fold
    uses: previously-coalesced islands re-enter as intervals carrying
    their member counts, and interval union's associativity/idempotence
    (coalesce(coalesce(A) ∪ B) = coalesce(A ∪ B)) makes the fold exact.

    Scale: ONE exchange on ``keys`` serves both windows and the island
    aggregation (Catalyst reuses the sort); nothing is unpartitioned.
    Reference analog: none (interval union is absent from the reference;
    its activity masks are per-sample booleans)."""
    order = [F.col("s"), F.col("event_id")]
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_col = F.col(weight) if weight else F.lit(1)
    marked = df.select(
        *keys,
        "event_id",
        "s",
        "e",
        w_col.alias("_w"),
        F.when(
            F.col("s")
            > F.coalesce(
                F.max("e").over(w_prev), F.lit(-(2 ** 63)).cast("long")
            ),
            1,
        )
        .otherwise(0)
        .alias("_new_island"),
    )
    w_isl = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    islands = marked.select(
        *keys, "s", "e", "_w", F.sum("_new_island").over(w_isl).alias("island")
    )
    return islands.groupBy(*keys, "island").agg(
        F.min("s").cast("long").alias("island_s"),
        F.max("e").cast("long").alias("island_e"),
        F.sum("_w").cast("long").alias("n_raw_in"),
    )
