"""Cross-engine-stable rendering of floating-point statistics.

The driver's correctness gate hash-compares our Spark results with a DuckDB
oracle. Aggregated doubles (means, variances, moments) legitimately differ
between engines in the last few ULPs (different summation orders), so raw
doubles would hash-mismatch. Every FP-derived statistic is therefore emitted
as a 7-significant-digit string on BOTH sides; exact quantities (counts,
min/max, which involve no FP arithmetic) stay raw.

printf('%.6e') is NOT cross-engine-stable: Java String.format rounds ties
half-up while C printf rounds half-even, and exact ties DO occur for rational
statistics (e.g. var_pop of a uniform 1..N integer key = (N^2-1)/12 can end
in ...25 exactly at the 7th digit). So we round explicitly to an integer
mantissa + exponent using only operations that are bit-deterministic across
engines:

  e      = floor(log10(abs(x)))
  m      = round(x / 10^(e-6))        # integer in [1e6, 1e7]
  if |m| = 10^7: m /= 10, e += 1      # log10/round boundary normalization
  out    = '<m>e<e-6>'                # e.g. 333333.25 -> '3333333e-1'

Division by an exact power of ten (exact for |exponent| <= 22, which covers
every statistic we emit) is correctly rounded IEEE in both engines, and both
Spark's round() (BigDecimal HALF_UP on the exact decimal expansion) and
DuckDB's round() (std::round) round ties away from zero, so the mantissa is
identical bit-for-bit. NULL/NaN -> NULL; +-0 -> '0e0'; +-Inf -> 'inf'/'-inf'
(NaN/Inf sentinel policy: SURVEY.md §2.6 items 4-5).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


NUDGE = 1.0 + 2.0 ** -40
"""Tie-breaking nudge: decimal-ish data (prices, 2-dp measurements) makes
aggregate values with EXACT decimal expansions ending at the 8th significant
digit common, and the two engines' ulp-level summation differences then land
on opposite sides of the rounding boundary. Scaling by exactly 1+2^-40
(9.1e-13 relative — 100x the engine deltas, 1e5x below the output quantum)
pushes every exact tie off the boundary in the same direction on every
implementation (Spark Column and SQL text, DuckDB SQL, Python)."""


def sig6(c: Column) -> Column:
    """Render a double Column as a cross-engine-stable 7-sig-digit string."""
    y = c * F.lit(NUDGE)
    e = F.floor(F.log10(F.abs(y))).cast("bigint")
    scaled = y / F.pow(F.lit(10.0), (e - 6).cast("double"))
    m = F.round(scaled, 0).cast("bigint")
    overflow = F.abs(m) >= 10000000
    m2 = F.when(overflow, (m / 10).cast("bigint")).otherwise(m)
    e2 = F.when(overflow, e + 1).otherwise(e)
    return (
        F.when(c.isNull() | F.isnan(c), F.lit(None).cast("string"))
        .when(c == 0, F.lit("0e0"))
        # Magnitudes outside (1e-300, 1e300) render as 0e0 / +-inf: below,
        # 10^(e-6) denormalizes/underflows; above, the tie-break nudge
        # overflows — either way the scaled arithmetic loses the
        # bit-exactness the three implementations rely on. No real
        # statistic lives out there.
        .when(F.abs(c) < 1e-300, F.lit("0e0"))
        .when(c > 1e300, F.lit("inf"))
        .when(c < -1e300, F.lit("-inf"))
        .otherwise(F.concat(m2.cast("string"), F.lit("e"),
                            (e2 - 6).cast("string")))
    )


def sig6_sql(x: str) -> str:
    """:func:`sig6` as Spark SQL text over the double expression ``x``
    (best a column reference or a lambda variable: the text repeats it
    ~7x). The same arithmetic, with the overflow renormalization folded
    into one branch. Render many statistics with one copy, through
    ``transform`` over their array (``operators.moments.finish``): each
    copy costs a parse."""
    y = f"({x} * {NUDGE!r}D)"
    e = f"floor(log10(abs({y})))"                 # floor(double) is BIGINT
    m = f"CAST(round({y} / pow(10.0D, {e} - 6), 0) AS BIGINT)"
    return (f"CASE WHEN {x} IS NULL OR isnan({x}) THEN CAST(NULL AS STRING) "
            f"WHEN {x} = 0 OR abs({x}) < 1e-300D THEN '0e0' "  # see sig6
            f"WHEN {x} > 1e300D THEN 'inf' "
            f"WHEN {x} < -1e300D THEN '-inf' "
            f"WHEN abs({m}) >= 10000000 "
            f"THEN concat(CAST({m} / 10 AS BIGINT), 'e', {e} - 5) "
            f"ELSE concat({m}, 'e', {e} - 6) END")


def sig6_py(x: float | None) -> str | None:
    """Pure-Python mirror of :func:`sig6` (IEEE doubles == Python floats).

    Used by operators that render statistics computed driver-side over a
    collected aggregate row. Decimal ROUND_HALF_UP on the exact binary
    expansion reproduces both Spark's BigDecimal HALF_UP and C round()'s
    ties-away-from-zero behavior.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    if x is None or math.isnan(x):
        return None
    if x == 0 or abs(x) < 1e-300:  # domain guards: see sig6
        return "0e0"
    if math.isinf(x) or abs(x) > 1e300:
        return "inf" if x > 0 else "-inf"
    y = x * NUDGE
    e = math.floor(math.log10(abs(y)))
    scaled = y / (10.0 ** (e - 6))
    m = int(Decimal(scaled).quantize(Decimal(1), rounding=ROUND_HALF_UP))
    if abs(m) >= 10_000_000:
        m = int(m / 10)
        e += 1
    return f"{m}e{e - 6}"


def duck_sig6(expr: str) -> str:
    """DuckDB SQL fragment mirroring :func:`sig6` for scalar ``expr``.

    DuckDB errors on log10(0) (it does not return -inf) and evaluates the
    mantissa subquery eagerly, so the value fed to log10 is guarded to 1 for
    the NULL/0/NaN/Inf branches (whose output the outer CASE overrides).
    """
    x = f"CAST(({expr}) AS DOUBLE)"
    safe = (f"(CASE WHEN {x} IS NULL OR {x} = 0 OR isnan({x}) "
            f"OR NOT isfinite({x}) OR abs({x}) < 1e-300 "
            f"OR abs({x}) > 1e300 THEN 1.0 ELSE {x} * {NUDGE!r} END)")
    return (
        f"CASE WHEN {x} IS NULL OR isnan({x}) THEN NULL "
        f"WHEN {x} = 0 OR abs({x}) < 1e-300 THEN '0e0' "
        f"WHEN {x} > 1e300 THEN 'inf' "
        f"WHEN {x} < -1e300 THEN '-inf' "
        f"ELSE (SELECT CASE WHEN abs(m) >= 10000000 "
        f"      THEN printf('%de%d', CAST(m / 10 AS BIGINT), e + 1 - 6) "
        f"      ELSE printf('%de%d', m, e - 6) END "
        f"      FROM (SELECT e, CAST(round({safe} / pow(10.0, CAST(e - 6 AS DOUBLE)), 0) AS BIGINT) AS m "
        f"            FROM (SELECT CAST(floor(log10(abs({safe}))) AS BIGINT) AS e))) "
        f"END"
    )
