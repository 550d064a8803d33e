"""Cross-engine-exact arithmetic helpers.

The round driver hash-compares TYPED values between the Spark result and the
DuckDB oracle. Two traps (CLAUDE.md, VERDICT r4) make naive ratio columns
fragile:

1. ``round(int/int, d)`` — when the quotient lands exactly on a decimal
   half-boundary, Spark rounds the shortest-string BigDecimal while DuckDB
   rounds the raw double, so the two engines can flip the last digit.
2. DuckDB ``sum(INTEGER)`` returns HUGEINT (int128), which pandas fetches as
   float64/object while Spark emits int64 — values equal, hashes differ.

The fix used across the registry: report ratios as EXACT scaled integers
(round-half-up at 4 decimal places, i.e. units of 1e-4) computed with pure
BIGINT arithmetic that is bit-identical in both engines:

    e4(n, d) = floor((n * 20000 + d) / (2 * d))      -- == round_half_up(1e4*n/d)

No floating point is involved at any scale, so the expression survives
100 TB inputs where a double-based ``floor(x * 1e4 + 0.5)`` would lose
exactness past 2^53. Overflow bound: the multiply caps operands at
~9.2e18 / (2*10^digits) — 4.6e14 at 4 digits, 4.6e12 at 6 — far beyond
any per-GROUP count this engine aggregates, and overflow is LOUD in both
engines (DuckDB raises; Spark 4 runs ANSI mode by default), never a
silent wrap. For whole-corpus counts past that bound, decompose:
``e = (n div d)*10^k + ((n % d)*2*10^k + d) div (2*d)`` — the multiply
is then bounded by d, not n.

Reference parity: the reference frameworks report these ratios as Python
floats (e.g. UnifiedNILM.py's summary stats); we deliberately strengthen the
contract to exact integers because the driver's gate is a typed hash.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def ratio_scaled(num: str, den: str, digits: int = 4) -> Column:
    """Spark side: exact round-half-up of 10^digits * num/den over BIGINT
    columns.

    ``num``/``den`` are SQL expressions (usually already-aggregated column
    names) of integer type; den must be > 0, num >= 0 (round-half-up via
    floor is only half-up for nonnegative quotients). Uses the SQL ``div``
    operator so the whole computation stays in 64-bit integer space (no
    double rounding).
    """
    two_scale = 2 * 10 ** digits
    return F.expr(f"(({num}) * {two_scale} + ({den})) div (2 * ({den}))")


def ratio_scaled_sql(num: str, den: str, digits: int = 4) -> str:
    """DuckDB twin of :func:`ratio_scaled` — BIGINT ``//`` integer division.

    Operands are cast to BIGINT first: DuckDB sums of INTEGER are HUGEINT,
    and HUGEINT ``//`` results would fetch as object, not int64.
    """
    two_scale = 2 * 10 ** digits
    return (
        f"CAST((CAST({num} AS BIGINT) * {two_scale} + CAST({den} AS BIGINT))"
        f" // (2 * CAST({den} AS BIGINT)) AS BIGINT)"
    )


def trunc_div_sql(num: str, den: str) -> str:
    """DuckDB text for SIGNED integer division with Spark's semantics.

    Spark ``div`` truncates toward zero for any sign; DuckDB ``//`` floors
    — the two diverge exactly when the quotient is negative and inexact
    (the reason ratio_scaled requires num >= 0). When a SIGNED quantity
    must pass through a division INSIDE a recurrence (so emitting num/den
    isn't possible — e.g. the power-iteration renormalization in
    queries/similarity.py::gram_power_iteration), the oracle uses this
    sign-magnitude form, which equals Spark's ``div`` bit-for-bit: ``den``
    must be > 0."""
    return (
        f"CAST(CASE WHEN ({num}) < 0"
        f" THEN -((-({num})) // ({den}))"
        f" ELSE ({num}) // ({den}) END AS BIGINT)"
    )


def ratio_e4(num: str, den: str) -> Column:
    """Four-decimal (basis-point-of-percent) form of :func:`ratio_scaled`."""
    return ratio_scaled(num, den, 4)


def ratio_e4_sql(num: str, den: str) -> str:
    return ratio_scaled_sql(num, den, 4)


def u6_mean_e4(sum_u6: str, n: str) -> Column:
    """Exact e4 mean of 1e-6-truncated integer values: round_half_up(
    (sum_u6 / n) / 100 ) == (2*sum_u6 + 100*n) div (200*n), all BIGINT.

    The canonical cross-engine-exact mean: per-row values are floored to
    integer micro-units BEFORE summing (floor(value * 1e6)), so the sum is
    exact, and the e4 mean is one integer division — no accumulation-order
    float drift in either engine. Same num >= 0 precondition as
    :func:`ratio_scaled` (negative values need num/den columns instead).
    ``sum_u6``/``n`` are SQL expressions over already-aggregated BIGINTs.
    """
    return ratio_scaled(sum_u6, f"100 * ({n})", 0)


def u6_mean_e4_sql(sum_u6: str, n: str) -> str:
    """DuckDB twin of :func:`u6_mean_e4`."""
    return ratio_scaled_sql(sum_u6, f"100 * ({n})", 0)


def epoch_div(ts_col: str, period: int) -> Column:
    """Exact integer epoch→bucket index: ``cast(ts as long) div period``.
    The double-division form ``(col.cast('long') / period).cast('long')``
    round-trips the quotient through an IEEE double (low bits drop past
    2^53 — the testdata nanos lesson) and truncates where the DuckDB
    oracles use integer ``//`` — this is the one shared copy (r7 review:
    three inline variants had drifted in). Non-negative epochs assumed
    (both engines truncate toward zero, so even negatives agree — but the
    bucket ORDER around zero is not monotone; see splits.py).

    ``ts_col`` is an IDENTIFIER, not an expression: it is backtick-quoted
    before splicing into the SQL text, so caller-supplied names containing
    spaces/dots/hyphens parse as one column reference instead of breaking
    the parse or resolving as a struct access (r7 advice)."""
    quoted = "`" + ts_col.replace("`", "``") + "`"
    return F.expr(f"cast({quoted} as long) div {period}")
