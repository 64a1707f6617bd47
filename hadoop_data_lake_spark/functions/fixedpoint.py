"""Fixed-point (integer) summation for money-like doubles.

Floating-point addition is not associative, so `SUM(double)` depends on
partitioning/merge order — results differ run-to-run under AQE and differ
from any external oracle. For columns with known decimal scale (prices,
discounts, quantities), we instead round each ROW to an integer number of
fixed-point units (deterministic: one IEEE multiply + round per row), sum
exactly as BIGINT, and divide once at the end.

This is both a correctness tool (engine-portable, reproducible aggregates)
and the right call at 100 TB: a 1000-executor partial+final aggregation tree
gives a different double sum per run; the bigint tree does not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_units(col: Column, scale: int = 2) -> Column:
    """Row-level: double -> bigint fixed-point units (10^scale per 1.0).

    Implemented as signum(x) * floor(abs(x) + 0.5) over primitive doubles
    rather than F.round: Spark's Round(DoubleType) routes EVERY ROW
    through BigDecimal.valueOf — a Double.toString allocation + decimal
    parse per value — measured 1.7x slower on the q1 aggregate (round-12
    adjudication, BENCH_NOTES.md). The two forms agree exactly whenever
    the column honors the fixed-point contract this module states (a
    value with at most `scale` true decimals, |x| * 10^scale < 2^52):
    the scaled value then sits within a few ulps of an integer, far from
    the half-way boundary where shortest-decimal rounding (Round) and
    binary +0.5 arithmetic (this form) can disagree — and DuckDB's
    binary std::round oracle agrees on the same domain (half away from
    zero on both signs). Outside the contract: +-Infinity saturates to
    Long.Min/Max instead of raising the ANSI cast error (NaN still
    raises), and a value within one ulp of a .5 boundary rounds by
    binary arithmetic rather than by its shortest decimal repr.
    Row-level equality with F.round on every real money/value column is
    pinned by tests/test_fixedpoint.py."""
    x = col * F.lit(10**scale)
    return (F.signum(x) * F.floor(F.abs(x) + F.lit(0.5))).cast("long")


def sum_fixed(col: Column, scale: int = 2) -> Column:
    """Exact sum of a double column with `scale` reliable decimals."""
    return (F.sum(to_units(col, scale)) / F.lit(float(10**scale))).cast("double")


def avg_fixed(col: Column, scale: int = 2) -> Column:
    """Deterministic mean: exact bigint sum, one final double division."""
    return (
        F.sum(to_units(col, scale)).cast("double")
        / (F.count(col) * F.lit(float(10**scale)))
    ).cast("double")


def sum_fixed_sql(expr: str, scale: int = 2) -> str:
    """DuckDB fragment matching sum_fixed()."""
    return f"(sum(cast(round({expr} * {10**scale}) as bigint)) / {float(10**scale)})"


def avg_fixed_sql(expr: str, scale: int = 2) -> str:
    """DuckDB fragment matching avg_fixed()."""
    return (
        f"(cast(sum(cast(round({expr} * {10**scale}) as bigint)) as double)"
        f" / (count({expr}) * {float(10**scale)}))"
    )


def dprod(a: Column, b: Column) -> Column:
    """Overflow-safe integer product for moment sums: both operands cast
    to decimal(18,0) so the product (decimal(37,0)) and its sum
    (decimal(38,0)) stay EXACT at any scale. A bigint product/sum chain
    overflows at ~9.2e18 — reached by cents^2 or ppm^2 moments well
    inside the 100 TB row counts this engine designs for — and Spark's
    ANSI mode turns that into a runtime error while DuckDB silently
    auto-widens to hugeint: the decimal path keeps both engines exact
    and identical. Downstream code casts the aggregate to double once,
    as with any integer moment."""
    return a.cast("decimal(18,0)") * b.cast("decimal(18,0)")
