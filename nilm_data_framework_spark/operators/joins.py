"""J1-J6 + as-of join extension (SURVEY.md §2.3).

Bounded-size dims (literal lookup tables, houses/channels metadata) may be
broadcast-hinted; anything whose cardinality scales with the data is left to
AQE's runtime join selection. Fact-fact alignment (J4, as-of) co-partitions
on the join key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType


def enrich(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str],
    defaults: dict[str, object] | None = None,
    broadcast_hint: bool = False,
) -> DataFrame:
    """J1/J2: left-outer metadata enrichment with defaulting
    (REFITLoader.py:60-80 dict .get(..., {}) semantics).

    ``broadcast_hint=True`` forces a broadcast — use it ONLY for dims whose
    size is bounded independently of data scale (literal lookup tables, the
    houses/channels dim). For dims derived from sf-scaled tables the default
    leaves join selection to AQE, which broadcasts when the runtime size is
    genuinely small and shuffles when it is not.
    """
    dim_side = F.broadcast(dim) if broadcast_hint else dim
    out = fact.join(dim_side, on=on, how="left")
    for col, default in (defaults or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return out


def common_channel_best_pick(
    channels_stats: DataFrame,
    group: list[str],
    label: str,
    required_labels: list[str],
) -> DataFrame:
    """J5: cross-dataset house intersection + best-channel pick
    (channel_utils.py:7-81).

    1. Keep groups (dataset, house) whose label set covers required_labels
       (subset check channel_utils.py:45) — semi-join on a collect_set agg.
    2. Within each (group, label), pick the best channel: max variance,
       tie → longest (channel_utils.py:63-71) — row_number over
       (var desc, n desc).

    ``channels_stats`` carries one row per channel with its ``var_value``
    and ``n`` (aggregates.channel_stats' columns).
    """
    req = F.array(*[F.lit(x) for x in required_labels])
    covered = (
        channels_stats.filter(F.col(label).isin(required_labels))
        .groupBy(*group)
        .agg(F.collect_set(label).alias("_have"))
        .filter(F.size(F.array_except(req, F.col("_have"))) == 0)
        .select(*group)
    )
    # `covered` is one row per qualifying group — grows with group count, so
    # the semi-join strategy is left to AQE rather than a forced broadcast.
    eligible = channels_stats.join(covered, on=group, how="left_semi").filter(
        F.col(label).isin(required_labels)
    )
    w = Window.partitionBy(*group, label).orderBy(
        F.col("var_value").desc_nulls_last(), F.col("n").desc(), F.col("channel_id")
    )
    return (
        eligible.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


def range_join(fact: DataFrame, intervals: DataFrame, fact_ts: str) -> DataFrame:
    """Engine extension: interval range join — each fact row matched to the
    interval(s) containing its timestamp (half-open: start_ts <= ts < end_ts).

    Scale stance: the intervals side is a small dim → broadcast, so the plan
    is a BroadcastNestedLoopJoin with the range predicate evaluated stream-
    side (no shuffle of the fact). For fact-fact range joins at 100 TB,
    :func:`range_join_bucketed` buckets both sides by time epoch so each
    bucket joins co-partitioned (not needed for dim-sized interval sets).
    """
    cond = (F.col(fact_ts) >= F.col("start_ts")) & (F.col(fact_ts) < F.col("end_ts"))
    return fact.join(F.broadcast(intervals), on=cond)


def asof_join(
    left: DataFrame, right: DataFrame, keys: list[str], *, right_value: str = "power"
) -> DataFrame:
    """Engine extension: as-of (nearest-previous) join on ``ts`` — the
    natural generalization of J4 time alignment for mismatched clocks.
    Emits the left rows plus ``asof_value``, the ``right_value`` of the
    key's last right row at-or-before the left ``ts`` (null when none).

    Implemented shuffle-lean: union both sides tagged, sort within each key
    partition, and carry the last right-side ROW forward as ONE struct with
    ``last(..., ignorenulls=True)`` — one shuffle on ``keys``, no range
    cross-product.

    The struct carry (r7) is load-bearing twice: (a) a right row whose
    value is NULL is still the as-of row (matching pd.merge_asof and
    DuckDB ASOF JOIN) — carrying value and ts as SEPARATE
    last(ignorenulls) columns skipped the null-valued row's value but
    kept its timestamp; (b) the window orders by the struct as the
    final tiebreak, so duplicate (key, ts) right rows resolve
    deterministically instead of shuffle-order.

    TIE POLICY (r8, uniform across the as-of family): duplicate
    (keys, ts) right rows resolve to the MAX value among ties
    (NULL sorting first, so the max non-null wins; all-null ties yield
    null). pd.merge_asof's "last row in input order" rule is NOT a
    distributed semantics — input order does not survive a shuffle — so
    the property oracle in tests/test_properties.py pre-collapses ties to
    the same max-value policy before calling merge_asof.
    """
    payload = F.struct(
        F.col("ts").cast("double").alias("rt"),
        F.col(right_value).cast("double").alias("rv"),
    )
    carried = _asof_carry(
        left, right, keys, "ts", "ts", payload, "struct<rt:double,rv:double>"
    )
    return carried.select(*left.columns, F.col("_last.rv").alias("asof_value"))


def _asof_carry(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str,
    right_ts: str,
    payload: Column,
    payload_type,
) -> DataFrame:
    """Shared union + tag + last(ignorenulls) carry-forward kernel behind
    :func:`asof_join` and :func:`asof_state_join` (one copy of the tagged
    select lists and the ordering contract). ``payload`` is a Column over
    the RIGHT side's rows (non-null for every right row — wrap nullable
    values in a struct so the row itself is never skipped);
    ``payload_type`` its DDL type. Returns the LEFT rows plus ``_t`` (the
    left timestamp) and ``_last`` (the carried payload, null when no
    prior right row exists). Window order is (_t, right-before-left,
    payload): payload must be an ORDERABLE type (structs/atomics — not
    maps), which is what makes duplicate-(key, ts) right rows resolve
    deterministically."""
    lcols = left.columns
    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(payload_type).alias("_pay"),
    )
    r_tagged = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in keys
        ],
        *[F.col(k) for k in keys],
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        payload.alias("_pay"),
    ).select(*l_tagged.columns)
    unioned = l_tagged.unionByName(r_tagged)
    # right rows sort before left rows at equal timestamps → "<=" as-of.
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t"), F.col("_is_left"), F.col("_pay"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return unioned.withColumn(
        "_last", F.last("_pay", ignorenulls=True).over(w)
    ).filter(F.col("_is_left") == 1)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_value: str = "power",
    out: str = "nearest_value",
    out_ts: str | None = None,
    tolerance: float | None = None,
    direction: str = "nearest",
) -> DataFrame:
    """Nearest/forward as-of join (pd.merge_asof ``direction='nearest'``
    and ``direction='forward'``): each left row matches the right row
    minimizing |left_ts − right_ts| (``nearest``) or the first right row
    at-or-after left_ts (``forward``, >= semantics — the
    time-to-next-event lookup), optionally only within ``tolerance``
    (same time unit as the ts columns). Completes the as-of family
    (backward: :func:`asof_join`; this adds the both-sided and forward
    forms sensor alignment and feature lookups use when the reading may
    be at or after the query time).

    TIE POLICY (total, documented here and in TIES.md):
    - duplicate (keys, right_ts) right rows are COLLAPSED to the max
      value per timestamp first (nulls lose to non-nulls; all-null stays
      null) — the uniform r8 family policy of :func:`asof_join`, applied
      as a groupBy/max;
    - an EQUIDISTANT backward/forward pair resolves to the BACKWARD
      (earlier) row. After the collapse, (keys, right_ts) is unique, so
      (|diff|, direction) is a total order and the pick is deterministic.

    Shape: two shuffles total — the tie collapse shuffles the RIGHT side
    on (keys, right_ts) with map-side partial agg, then both directions
    come from one tagged union shuffled once on ``keys`` and sorted
    once: the backward candidate is the running ``last(payload)`` (right
    rows sort before left at equal ts, giving <= semantics) and the
    forward candidate the ``first(payload)`` over the following frame
    (equal-ts rows are already owned by the backward side, diff 0 is
    unbeatable and ties break backward anyway). Spark merges the two
    frames into ONE Window node over one Sort (verified: 1 Window,
    1 Sort in the physical plan) — never a range cross-product. Timestamps/values ride a double payload struct:
    exact for integer inputs up to 2^53 (microsecond epochs ≈ 1.7e15 and
    e6-scaled values fit; document at the call site otherwise).

    Left rows with no in-tolerance candidate get null ``out`` (and null
    ``out_ts`` when requested). ``forward`` reuses the same single-sort
    plan: an exact-ts match IS the backward carry at diff 0 (the
    collapse makes it unique), so forward = that row if present, else
    the strictly-after candidate — no third window. Reference analog:
    none — extension of the J4 alignment family, like the rest of the
    as-of kernels."""
    if direction not in ("nearest", "forward"):
        raise ValueError(f"direction must be 'nearest' or 'forward': {direction!r}")
    reserved = {"_t", "_is_left", "_pay", "_b", "_f", "_rts", "_rv"}
    clash = reserved & set(left.columns) | reserved & set(right.columns)
    if clash:
        # colliding temp names would silently drop or shadow caller
        # columns (ADVICE r7) — reject them instead
        raise ValueError(f"asof_join_nearest reserves column names {clash}")
    pay_t = "struct<rt:double,rv:double>"
    r2 = (
        right.groupBy(*[F.col(k) for k in keys], F.col(right_ts).alias("_rts"))
        .agg(F.max(F.col(right_value)).alias("_rv"))
    )
    lcols = left.columns
    l_tagged = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).cast("double").alias("_t"),
        F.lit(1).alias("_is_left"),
        F.lit(None).cast(pay_t).alias("_pay"),
    )
    r_tagged = r2.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in keys
        ],
        *[F.col(k) for k in keys],
        F.col("_rts").cast("double").alias("_t"),
        F.lit(0).alias("_is_left"),
        F.struct(
            F.col("_rts").cast("double").alias("rt"),
            F.col("_rv").cast("double").alias("rv"),
        ).alias("_pay"),
    ).select(*l_tagged.columns)
    u = l_tagged.unionByName(r_tagged)
    order = [F.col("_t"), F.col("_is_left"), F.col("_pay")]
    wb = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    got = (
        u.withColumn("_b", F.last("_pay", ignorenulls=True).over(wb))
        .withColumn("_f", F.first("_pay", ignorenulls=True).over(wf))
        .filter(F.col("_is_left") == 1)
    )
    db = F.col("_t") - F.col("_b.rt")
    df_ = F.col("_f.rt") - F.col("_t")
    b_ok = F.col("_b").isNotNull()
    f_ok = F.col("_f").isNotNull()
    if tolerance is not None:
        b_ok = b_ok & (db <= F.lit(float(tolerance)))
        f_ok = f_ok & (df_ <= F.lit(float(tolerance)))
    if direction == "forward":
        # ">= ts": the exact-ts row (unique after the collapse) is the
        # backward carry at diff 0; otherwise the strictly-after candidate
        pick_b = b_ok & (db == F.lit(0.0))
    else:
        pick_b = b_ok & (~f_ok | (db <= df_))
    val = F.when(pick_b, F.col("_b.rv")).when(f_ok, F.col("_f.rv"))
    extra = []
    if out_ts is not None:
        extra = [
            F.when(pick_b, F.col("_b.rt"))
            .when(f_ok, F.col("_f.rt"))
            .alias(out_ts)
        ]
    return got.select(*lcols, val.alias(out), *extra)


def snapshot_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Snapshot differencing / CDC generation: given two snapshots that each
    carry a precomputed row-content hash column ``_h`` (caller builds
    it from the compared columns — integer-stable encodings, not raw double
    rendering), emit one row per key whose content differs:
    change_type ∈ {added, removed, changed}. The batch producer of the
    changelog that :func:`~nilm_data_framework_spark.sources.canonical.
    merge_upsert_partitioned` and the SCD2 operator consume.

    Scale shape: ONE full-outer shuffle join on the PK; both sides carry only
    (keys, 16-byte hash) — content columns never move. Output is bounded by
    the churn rate, not table size. At 100 TB both snapshots are the same
    bucketed/partitioned layout, so the join co-locates and the exchange
    drops entirely (bucketed canonical tables, sources/canonical.py).
    """
    o = old.select(*keys, F.col("_h").alias("_ha"))
    n = new.select(*keys, F.col("_h").alias("_hb"))
    j = o.join(n, on=keys, how="full_outer")
    return j.filter(~F.col("_ha").eqNullSafe(F.col("_hb"))).select(
        *keys,
        F.when(F.col("_ha").isNull(), F.lit("added"))
        .when(F.col("_hb").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
        .alias("change_type"),
    )


# range_join_bucketed's grid cell: one day
_RANGE_GRID_S = 86400


def range_join_bucketed(fact: DataFrame, intervals: DataFrame, fact_ts: str) -> DataFrame:
    """Range join, fact-fact scale path: grid-bucket both sides and
    EQUI-join on the cell, with the range predicate as a residual filter —
    the shuffle-partitionable form of :func:`range_join` for interval sets
    too large to broadcast (the broadcast-NLJ form stops scaling once the
    interval side outgrows executor memory; this form never materializes a
    nested loop).

    Each interval explodes to the one-day grid cells it covers (half-open
    [start_ts, end_ts)); each fact row keys on its own cell, so every
    matching (fact, interval) pair meets in EXACTLY one cell — no post-join
    dedup. Cell width trades interval replication against per-cell fanout;
    a day sits near the interval lengths of the registered callers. Both sides
    shuffle once on the cell key; AQE handles hot cells (a flash-sale day)
    via skew splitting, and the residual predicate runs codegen-side.

    Intervals must be non-empty (start_ts < end_ts); callers validate
    upstream.
    """
    us = _RANGE_GRID_S * 1_000_000
    f = fact.withColumn(
        "_cell", F.floor(F.unix_micros(F.col(fact_ts)) / F.lit(us))
    )
    iv = intervals.withColumn(
        "_cell",
        F.explode(
            F.sequence(
                F.floor(F.unix_micros(F.col("start_ts")) / F.lit(us)),
                F.floor((F.unix_micros(F.col("end_ts")) - 1) / F.lit(us)),
            )
        ),
    )
    joined = f.join(iv, on="_cell").filter(
        (F.col(fact_ts) >= F.col("start_ts")) & (F.col(fact_ts) < F.col("end_ts"))
    )
    return joined.drop("_cell")


def asof_state_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    state_col: str = "state",
) -> DataFrame:
    """Point-in-time (PIT) state lookup: for every left row, ``state`` is the
    value of ``state_col`` from the key's most recent right row at-or-before
    the left timestamp — i.e. the SCD2 question "which dimension version was valid at
    event time" answered WITHOUT materializing validity intervals or running
    a range join: the SCD2 interval [valid_from, valid_to) containing t is,
    by construction, the last run START at-or-before t.

    Same union + last(ignorenulls) carry-forward kernel as
    :func:`asof_join` (shared ``_asof_carry`` — one shuffle on ``keys``,
    no range cross-product) but carries a column of any ORDERABLE type
    (the struct wrap keeps a null state from skipping its row, and the
    payload tiebreak keeps duplicate-(key, ts) right rows deterministic:
    MAX state among ties, nulls sorting first — the same documented tie
    policy as asof_join). Left rows before the key's first right row get
    null. SCD2-produced right sides have unique (key, valid_from) by
    construction (scd2_intervals collapses change runs), so the tiebreak
    is a safety net there, not a semantics choice.

    Scale: identical to asof_join — the 100 TB form of point-in-time
    enrichment, because the interval-join alternative shuffles O(facts ×
    avg overlapping versions) while this moves each row exactly once.
    """
    state_t = right.schema[state_col].dataType
    payload = F.struct(F.col(state_col).cast(state_t).alias("sv"))
    carried = _asof_carry(
        left, right, keys, left_ts, right_ts, payload,
        StructType([StructField("sv", state_t)]),
    )
    return carried.select(*left.columns, F.col("_last.sv").alias("state"))
