"""Scale-safe replacements for unpartitioned analytic windows.

A global ``row_number()/ntile() OVER (ORDER BY ...)`` plans as
``Exchange SinglePartition → Window`` — one task sorts the whole input, the
scale-killer class the round-5 verdict flagged in six queries. These helpers
rebuild the SAME exact ranks/tiles from partitioned primitives:

- ``bucketed_global_rank``: global rank = (cumulative count of coarser
  buckets that sort strictly before mine) + (row_number within my bucket).
  The only unpartitioned window runs over the bucket SUPPORT (one row per
  distinct bucket value — bounded by construction, never by row count); the
  per-row window is partitioned by bucket. This is the value-support
  cumulative-count trick `rank_calibration` / `ks_drift_stat` already use,
  generalized to any (bucket, tiebreak) total order.
- ``ntile_from_rank``: replays SQL NTILE's exact bucket-size contract
  (first ``total % n`` tiles get one extra row) from a precomputed rank, so
  ntile needs no window at all once the rank exists.
- ``exact_ranks_for_candidates``: exact global ranks for a SMALL candidate
  set without ranking the corpus — rank(c) = 1 + #{rows sorting strictly
  before c}, split into a strict-value count (support × candidates
  broadcast inequality join) and a tie count (corpus × candidates broadcast
  EQUI-join on the value). Used by the RRF / RAG shortlist fusions where
  only top-N list members ever need a rank.

All three keep outputs bit-identical to the single-sort forms (property
tests in tests/test_scale_windows.py pin equality against
``F.row_number()``/``F.ntile()``), so existing DuckDB oracles stay valid.
Reference analog: none (pure Spark scale engineering).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucketed_global_rank(
    df: DataFrame,
    bucket: Column,
    within_order: list[Column],
    descending: bool = False,
    out: str = "rank",
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY bucket [DESC], *within)``
    without a single-partition sort.

    ``bucket`` must be a coarsening of the primary sort key in the SAME
    direction (any non-strictly-monotone function: the key itself, a
    floor-div range bucket, a string prefix), and ``within_order`` must
    totally order rows inside one bucket value (include the primary key
    itself when the bucket coarsens it, plus a unique tiebreak).

    Plan: one shuffle on bucket (per-bucket counts), one unpartitioned
    cumulative window over the bucket SUPPORT, one broadcast join of the
    support-sized offset table, one bucket-partitioned row_number. No stage
    ever sorts more than one bucket's rows in one task.

    The input subtree is referenced TWICE here (per-row window + support)
    and a third time by bucketed_ntile's total count — callers with a
    scan-heavy input should checkpoint it once (the r6 rfm lesson:
    2.2 s chained vs 1.2 s checkpointed at sf0.1). ``_sw*`` names are
    reserved working columns; colliding caller columns would be silently
    overwritten and dropped, so they are rejected outright.
    """
    for col in ("_swb", "_swc", "_swrn", "_swoff", "_swb_off"):
        if col in df.columns:
            raise ValueError(
                f"bucketed_global_rank reserves working column {col!r}; "
                f"rename it in the input"
            )
    base = df.withColumn("_swb", bucket)
    sup = base.groupBy("_swb").agg(F.count(F.lit(1)).alias("_swc"))
    order = F.col("_swb").desc() if descending else F.col("_swb").asc()
    w_off = Window.orderBy(order).rowsBetween(Window.unboundedPreceding, -1)
    off = sup.select(
        "_swb", F.coalesce(F.sum("_swc").over(w_off), F.lit(0)).alias("_swoff")
    )
    w_in = Window.partitionBy("_swb").orderBy(*within_order)
    # no broadcast hint on the support join: it derives from an sf-scaled
    # scan (the repo-wide hint guard rightly rejects that) and the planner
    # broadcasts the support-sized side from stats anyway (verified:
    # BroadcastHashJoin BuildRight in the executed plan). Null-safe join:
    # a NULL bucket value (nullable sort key) must keep its rows — plain
    # equi-join would silently drop them; <=> matches NULL groups, and
    # both the window ordering and the support cumulative put NULLS FIRST
    # (Spark's ASC default), matching native row_number semantics.
    off = off.withColumnRenamed("_swb", "_swb_off")
    return (
        base.withColumn("_swrn", F.row_number().over(w_in))
        .join(off, F.col("_swb").eqNullSafe(F.col("_swb_off")))
        .withColumn(out, (F.col("_swoff") + F.col("_swrn")).cast("long"))
        .drop("_swb", "_swb_off", "_swrn", "_swoff")
    )


def _exact_floordiv(a: Column, b: Column) -> Column:
    """Floor division of non-negative integer Columns, exact for any
    operands below 10^18. Plain ``(a / b).cast('long')`` goes through
    IEEE double division, whose half-ulp error starts crossing integer
    boundaries once operands pass ~2^52 — small for today's fixtures but
    exactly the magnitude a 100 TB row count flirts with. Casting through
    decimal(20,0) makes Spark track 18 fractional digits in the quotient
    (decimal division promotes scale before capping at precision 38), so
    the floor is exact while 1/b > 10^-18 — i.e. for every b a row count
    can reach."""
    return F.floor(a.cast("decimal(20,0)") / b.cast("decimal(20,0)")).cast(
        "long"
    )


def ntile_from_rank(rank: Column, total: Column, n: int) -> Column:
    """SQL NTILE(n) replayed from an exact 1-based rank and the total row
    count: the first ``total % n`` tiles hold ``total div n + 1`` rows, the
    rest ``total div n`` (both Spark's NTile and DuckDB's ntile implement
    exactly this). Exact integer arithmetic at any realistic magnitude —
    quotients go through :func:`_exact_floordiv`, not double division —
    so the tiles replay identically cross-engine."""
    q = _exact_floordiv(total, F.lit(n))  # total div n: both non-negative
    r = total - q * n
    big = (q + F.lit(1)) * r  # rows covered by the (q+1)-sized tiles
    in_big = _exact_floordiv(rank - 1, q + 1) + 1
    # q can be 0 only when total < n, where every rank is inside `big`
    in_small = r + _exact_floordiv(rank - big - 1, F.greatest(q, F.lit(1))) + 1
    return F.when(rank <= big, in_big).otherwise(in_small).cast("long")


def bucketed_ntile(
    df: DataFrame,
    bucket: Column,
    within_order: list[Column],
    n: int,
    descending: bool = False,
    out: str = "tile",
) -> DataFrame:
    """``ntile(n) OVER (ORDER BY bucket [DESC], *within)`` via
    ``bucketed_global_rank`` + ``ntile_from_rank`` (the total-count single
    row joins in as a broadcast, keeping the plan fully lazy)."""
    ranked = bucketed_global_rank(
        df, bucket, within_order, descending=descending, out="_swr"
    )
    total = df.agg(F.count(F.lit(1)).cast("long").alias("_swn"))
    return (
        ranked.crossJoin(F.broadcast(total))
        .withColumn(out, ntile_from_rank(F.col("_swr"), F.col("_swn"), n))
        .drop("_swr", "_swn")
    )


def exact_ranks_for_candidates(
    base: DataFrame,
    cands: DataFrame,
    value: str,
    id_col: str,
    out: str = "rank",
) -> DataFrame:
    """Exact global rank over ``(value DESC, id ASC)`` for each row of the
    SMALL ``cands`` frame (must contain ``value`` and ``id_col``), without
    ordering ``base``.

    rank(c) = 1 + #{b : b.value > c.value}                (strict part)
            + #{b : b.value = c.value AND b.id < c.id}    (tie part)

    Precondition: ``value`` and ``id_col`` are non-null in both frames
    (SQL inequality/equality comparisons drop NULLs from both counts,
    which would under-rank). Every current caller ranks non-null scores;
    null-rank semantics belong to the caller (filter or coalesce first).

    The strict part joins the VALUE SUPPORT (one row per distinct value)
    against the small candidate side on an inequality — support × |cands|
    work, no corpus pass; the tie part is an equi-join on the value
    (map-side, one corpus scan). Both scale linearly with |base| and
    |support| and never single-partition anything. No broadcast hints:
    both candidate subtrees derive from sf-scaled scans (the repo hint
    guard rejects hinting those) and the planner already builds
    BroadcastNestedLoopJoin/BroadcastHashJoin with the candidate side as
    the build side from the limit-derived stats (verified in the executed
    plans).
    """
    c = cands.select(
        F.col(value).alias("_cv"), F.col(id_col).alias("_cid")
    )
    sup = base.groupBy(F.col(value).alias("_sv")).agg(
        F.count(F.lit(1)).alias("_sc")
    )
    strict = (
        sup.join(c, F.col("_sv") > F.col("_cv"))
        .groupBy("_cv", "_cid")
        .agg(F.sum("_sc").alias("_ngt"))
    )
    ties = (
        base.select(F.col(value).alias("_bv"), F.col(id_col).alias("_bid"))
        .join(
            c,
            (F.col("_bv") == F.col("_cv")) & (F.col("_bid") < F.col("_cid")),
        )
        .groupBy("_cv", "_cid")
        .agg(F.count(F.lit(1)).alias("_ntie"))
    )
    return (
        c.join(strict, ["_cv", "_cid"], "left")
        .join(ties, ["_cv", "_cid"], "left")
        .select(
            F.col("_cv").alias(value),
            F.col("_cid").alias(id_col),
            (
                F.lit(1)
                + F.coalesce("_ngt", F.lit(0))
                + F.coalesce("_ntie", F.lit(0))
            )
            .cast("long")
            .alias(out),
        )
    )


def exact_ranks_for_candidates_pair(
    base_a: DataFrame,
    cand_a: DataFrame,
    value_a: str,
    base_b: DataFrame,
    cand_b: DataFrame,
    value_b: str,
    id_col: str,
    out_a: str = "rank_a",
    out_b: str = "rank_b",
) -> DataFrame:
    """Two :func:`exact_ranks_for_candidates` calls fused into ONE tagged
    strict join + ONE tagged tie join (r10 optimization — the r8 asof
    tagged-union discipline applied to the RAG serve tail, VERDICT r9
    item 7: each exact_ranks call pays two broadcast-build joins, and the
    serve path ran four of them as four separate jobs).

    Semantics: rank_a(c) over ``base_a``'s ``(value_a DESC, id ASC)`` order
    and rank_b(c) over ``base_b``'s, exactly as the unfused form — the tag
    column rides every join key, so rows of one ranking can never count
    into the other (property-pinned bit-identical by
    tests/test_scale_windows.py). Output: one row per id in BOTH candidate
    frames (inner), columns ``(id_col, out_a, out_b)`` — the shape the
    caller's fused-score join consumed, minus two joins.

    Preconditions: as exact_ranks_for_candidates (non-null values/ids),
    plus ``id_col`` unique within each candidate frame, plus ``value_a``
    and ``value_b`` of the SAME data type (checked: raises TypeError).
    The two rankings share one unioned value column, and a union of, say,
    long and double widens both to double — longs above 2^53 would then
    compare differently than in two unfused calls.
    """
    for side, a_df, b_df in (("base", base_a, base_b), ("candidate", cand_a, cand_b)):
        ta, tb = a_df.schema[value_a].dataType, b_df.schema[value_b].dataType
        if ta != tb:
            raise TypeError(
                f"exact_ranks_for_candidates_pair: {side} value columns differ "
                f"in type ({value_a}: {ta.simpleString()}, {value_b}: "
                f"{tb.simpleString()}); cast them to one type first"
            )
    b_u = base_a.select(
        F.lit(0).alias("_t"), F.col(value_a).alias("_bv"), F.col(id_col).alias("_bid")
    ).unionByName(
        base_b.select(
            F.lit(1).alias("_t"),
            F.col(value_b).alias("_bv"),
            F.col(id_col).alias("_bid"),
        )
    )
    c_u = cand_a.select(
        F.lit(0).alias("_t"), F.col(value_a).alias("_cv"), F.col(id_col).alias("_cid")
    ).unionByName(
        cand_b.select(
            F.lit(1).alias("_t"),
            F.col(value_b).alias("_cv"),
            F.col(id_col).alias("_cid"),
        )
    )
    sup = b_u.groupBy("_t", F.col("_bv").alias("_sv")).agg(
        F.count(F.lit(1)).alias("_sc")
    )
    strict = (
        sup.join(
            c_u.select(F.col("_t").alias("_tc"), "_cv", "_cid"),
            (F.col("_t") == F.col("_tc")) & (F.col("_sv") > F.col("_cv")),
        )
        .groupBy("_tc", "_cv", "_cid")
        .agg(F.sum("_sc").alias("_ngt"))
        .withColumnRenamed("_tc", "_t")
    )
    ties = (
        b_u.join(
            c_u.select(F.col("_t").alias("_tc"), "_cv", "_cid"),
            (F.col("_t") == F.col("_tc"))
            & (F.col("_bv") == F.col("_cv"))
            & (F.col("_bid") < F.col("_cid")),
        )
        .groupBy("_tc", "_cv", "_cid")
        .agg(F.count(F.lit(1)).alias("_ntie"))
        .withColumnRenamed("_tc", "_t")
    )
    ranked = (
        c_u.join(strict, ["_t", "_cv", "_cid"], "left")
        .join(ties, ["_t", "_cv", "_cid"], "left")
        .select(
            "_t",
            F.col("_cid").alias(id_col),
            (
                F.lit(1)
                + F.coalesce("_ngt", F.lit(0))
                + F.coalesce("_ntie", F.lit(0))
            )
            .cast("long")
            .alias("_rank"),
        )
    )
    return (
        ranked.groupBy(id_col)
        .agg(
            F.max(F.when(F.col("_t") == 0, F.col("_rank"))).alias(out_a),
            F.max(F.when(F.col("_t") == 1, F.col("_rank"))).alias(out_b),
        )
        .where(F.col(out_a).isNotNull() & F.col(out_b).isNotNull())
    )
