"""Deterministic-aggregation helpers.

Floating-point summation is order-dependent, and Spark's partial aggregation
order differs run-to-run and engine-to-engine — a plain ``SUM(double)`` will
not hash-match a DuckDB oracle bit-for-bit.  All source money-like columns in
the warehouse carry at most 2 decimal digits, so we sum them as exact
DECIMALs (associative, partitioning-independent) and only cast the final
result back to DOUBLE.  The DuckDB oracle applies the identical casts, so both
engines produce the same 64-bit value regardless of parallelism.

This is also the right call at 100 TB: decimal partial aggregation is still
map-side combinable and whole-stage-codegen'd; determinism costs nothing.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: Column, scale: int = 4) -> Column:
    """Lossless exact-decimal view of a <=2dp money/metric column."""
    return col.cast(f"decimal(18,{scale})")


def dsum(col: Column, scale: int = 4) -> Column:
    """Deterministic SUM of a money-like double: exact decimal sum -> double."""
    return F.sum(dec(col, scale)).cast("double")


def lscale(col: Column, scale: int = 4) -> Column:
    """Exact scaled-long view of a <=``scale``-dp metric: ``round(x*10^s)``.

    ``round`` recovers the exact scaled integer because the true value has at
    most ``scale`` decimals, so the double product sits within 1 ulp of that
    integer — the same value ``CAST(x AS DECIMAL(18,s))`` produces, in a
    representation whose SUM stays on Spark's primitive-long hash-aggregate
    fast path.  A DECIMAL(18,s) input does not: its sum accumulator is
    DECIMAL(28,s), which exceeds the compact-long precision bound (18) and
    falls back to per-row BigDecimal allocation (measured ~1.7x the whole
    TPC-H-Q1-shape agg at sf0.1)."""
    return F.round(col * F.lit(10**scale)).cast("long")


def unscale(col: Column, scale: int) -> Column:
    """Exact scaled-long sum -> the same double DECIMAL-sum arithmetic yields.

    The widening to DECIMAL(38,0) happens on the AGGREGATED value (one row
    per group), so the per-row path stays all-long; dividing by the exact
    power-of-ten literal and casting gives the correctly-rounded nearest
    double of the exact rational sum — bit-identical to
    ``SUM(DECIMAL).cast(double)`` — even when the scaled sum exceeds 2^53
    (a bare long->double division would double-round there)."""
    return (col.cast("decimal(38,0)") / F.lit(10**scale)).cast("double")


# Split-accumulator shift: low 20 bits summed separately from the (arithmetic-
# shifted) high bits.  s == (s >> 20)*2^20 + (s & 0xFFFFF) holds for signed
# two's-complement longs, so the pair of long sums is exact for any sign mix.
_SPLIT_BITS = 20
_SPLIT_MASK = (1 << _SPLIT_BITS) - 1


def lsum_scaled(scaled: Column, scale: int) -> Column:
    """Exact SUM of an already-scaled long expression -> double.

    Overflow-safe at warehouse scale without BigDecimal: the scaled value is
    split into low-20-bit and high-bit halves, each summed as a primitive
    long (two codegen'd sums cost ~1% over one; a DECIMAL accumulator costs
    ~55% more — measured at sf0.1), then recombined on the aggregated row
    as DECIMAL(38,0) where 38 digits hold any real-world total.  Per-group
    row bounds before either half can wrap: low half 2^43 rows (~8.8e12);
    high half ~rows * (|scaled|/2^20 + 1) < 2^63 — for the largest money
    expression here (scale-6 charge, |scaled| ~ 1.2e11) that is ~7.7e13
    rows per group, two orders past a 100 TB lineitem."""
    lo = F.sum(scaled.bitwiseAND(F.lit(_SPLIT_MASK)))
    hi = F.sum(F.shiftright(scaled, _SPLIT_BITS))
    total = hi.cast("decimal(38,0)") * F.lit(1 << _SPLIT_BITS) + lo
    return (total / F.lit(10**scale)).cast("double")


def lsum(col: Column, scale: int = 4) -> Column:
    """``dsum`` fast path: exact split-accumulator SUM of a <=``scale``-dp
    metric -> double.  Value-identical to ``dsum`` (same exact rational,
    same final rounding); keeps the per-row aggregate inside primitive-long
    codegen at any group size."""
    return lsum_scaled(lscale(col, scale), scale)


def lmoney(price: Column, discount: Column) -> Column:
    """price*(1-discount) as an exact scale-4 long (cents x (100 -
    discount-cents)), the Column twin of ``SQL_MONEY``.  Sum with
    ``lsum_scaled(_, 4)``."""
    return lscale(price, 2) * (F.lit(100) - lscale(discount, 2))


# SQL twins for the DuckDB oracle (keep in lockstep with the Column versions).
SQL_DSUM = "CAST(SUM(CAST({x} AS DECIMAL(18,4))) AS DOUBLE)"
SQL_MONEY = (
    "CAST(CAST({p} AS DECIMAL(18,4)) * "
    "(CAST(1 AS DECIMAL(18,4)) - CAST({d} AS DECIMAL(18,4))) AS DECIMAL(18,6))"
)
