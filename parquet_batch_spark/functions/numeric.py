"""Oracle-stable numeric aggregation helpers.

Floating-point SUM/AVG over a distributed dataset is order-dependent,
so a Spark double-sum and a DuckDB double-sum can differ in the last
bits — enough to break a value-hash comparison. The fix used throughout
this engine: aggregate money-like doubles in DECIMAL (exact,
associative, order-insensitive), cast the final value back to double,
and round derived doubles to 6 decimals. Identical SQL on the oracle
side then yields bit-identical results.

This is also the *correct* choice at 100 TB: decimal partial aggregates
are deterministic under any AQE re-planning / partial-aggregate
ordering, so results are reproducible run-to-run.

Precision plan: input money/quantity/rate columns carry ≤2 fractional
digits; we cast factors to DECIMAL(18,4), so a product is DECIMAL(37,8)
(< 38, no rounding) and sums widen to DECIMAL(38,*) — exact for any
realistic row count (sum magnitude ~1e17 at 100 TB « 1e30 capacity).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"
# Narrow factor type for multi-way products: (12,4)×(12,4) → (25,8) and
# ×(12,4) again → (38,12), within precision 38 in BOTH engines, so no
# engine-specific scale truncation ever occurs. Values must be < 1e8.
DEC9 = "decimal(12,4)"


def dec(col: Column | str) -> Column:
    """Cast a ≤4-dp double column to exact decimal — safe to ×/+ once."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def dec9(col: Column | str) -> Column:
    """Narrow exact decimal for chained products (values < 1e8)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC9)


# Final sums are squeezed to DECIMAL(18,6) before the double cast:
# DuckDB's int128-backed (precision>18) decimal→double conversion is
# not correctly rounded (verified: 512451652.170606 at DECIMAL(38,10)
# converts 1 ulp off), but its int64 path is exact while the scaled
# numerator stays under 2^53. True values carry ≤6 fractional digits
# (2-dp inputs, ≤3-way products), so the scale-6 squeeze never rounds
# and both engines produce bit-identical doubles for |sum| < ~9e9 —
# comfortably covering the oracle scale factors.
FINAL = "decimal(18,6)"


def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Exact decimal sum of a ≤4-dp double column, returned as double."""
    out = F.sum(dec(col)).cast(FINAL).cast("double")
    return out.alias(alias) if alias else out


def dsum_expr(decimal_expr: Column, alias: str | None = None) -> Column:
    """Exact sum of a caller-built decimal expression, as double.

    Build the expression with :func:`dec` so no intermediate rounding
    occurs, e.g. ``dsum_expr(dec("price") * (lit(1) - dec("disc")))``.
    """
    out = F.sum(decimal_expr).cast(FINAL).cast("double")
    return out.alias(alias) if alias else out


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-insensitive average: exact decimal sum / count, as double.

    Division happens in double on both engines from bit-identical
    numerator and denominator, so the quotient is bit-identical too.
    """
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(dec(c)).cast(FINAL).cast("double") / F.count(c)
    return out.alias(alias) if alias else out


def r6(col: Column, alias: str | None = None) -> Column:
    """Round a double to 6 decimals (hash-stability for derived floats)."""
    out = F.round(col, 6)
    return out.alias(alias) if alias else out


# ---- Oracle-side (DuckDB) SQL fragments mirroring the helpers above ----

def sql_dsum(expr: str) -> str:
    return (
        f"CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(18,4))) AS DECIMAL(18,6))"
        f" AS DOUBLE)"
    )


def sql_dsum_expr(decimal_expr: str) -> str:
    return f"CAST(CAST(SUM({decimal_expr}) AS DECIMAL(18,6)) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return (
        f"(CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(18,4))) AS DECIMAL(18,6))"
        f" AS DOUBLE) / COUNT({expr}))"
    )
