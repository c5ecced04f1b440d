"""Deterministic rounding for double-typed feature values.

``F.round`` on a DOUBLE rounds the value's shortest decimal representation
(JVM ``BigDecimal.valueOf``) HALF_UP, which disagrees with engines that
round the binary value (e.g. 160954.70375 stored as 160954.703749999…)
whenever a value sits on a rounding boundary — and with money-like inputs
(2-decimal amounts divided by small integers) boundaries are *common*, not
rare. Routing through DECIMAL first makes the rounding well-defined and
engine-independent: cast the double to DECIMAL(38,10) (both Spark and
DuckDB preserve the shortest-repr value), then round in decimal arithmetic
(HALF_UP in both), then cast back to DOUBLE.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dround(col: Column | str, scale: int = 4) -> Column:
    """Deterministic HALF_UP rounding of a double via decimal arithmetic."""
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c.cast("decimal(38,10)"), scale).cast("double")


def oracle_dround(expr: str, scale: int = 4) -> str:
    """The DuckDB-SQL twin of :func:`dround` for oracle queries."""
    return f"CAST(ROUND(CAST({expr} AS DECIMAL(38,10)), {scale}) AS DOUBLE)"


def decimal_half_up_div(num: Column, den: Column) -> Column:
    """Sign-aware HALF_UP integer division over DECIMAL(38,0) operands —
    ``round(num/den)`` computed exactly for operands far past 2^53:
    ``sign(n) · floor((2|n| + d) / (2d))``.

    The floor runs through ``pmod`` so the decimal division is exactly
    integer-valued: a direct ``floor(a/b)`` is NOT provably exact for
    large denominators, because Spark's decimal ``/`` rounds at a finite
    result scale (6) and the true quotient can sit within 10^-6 of the
    floor boundary when ``1/(2d) < 10^-6`` (the seasonal_decompose
    helper's proof needs small denominators; this form needs none).
    Returns DECIMAL(38,0).
    """
    two = F.lit(2).cast("decimal(38,0)")
    a = (two * F.abs(num.cast("decimal(38,0)")) + den.cast("decimal(38,0)")).cast(
        "decimal(38,0)"
    )
    b = (two * den.cast("decimal(38,0)")).cast("decimal(38,0)")
    r = F.pmod(a, b)
    q = ((a - r) / b).cast("decimal(38,0)")  # exactly divisible ⇒ exact
    return (F.signum(num).cast("decimal(2,0)") * q).cast("decimal(38,0)")


def floor_quantize(col: Column, scale: int = 6) -> Column:
    """Engine-STABLE quantization of a double to ``scale`` decimals:
    ``floor(x·10^scale + 0.5) / 10^scale`` — pure IEEE double ops that
    Spark and DuckDB evaluate bit-identically on the same input, unlike
    :func:`dround`, whose double→DECIMAL cast is engine-dependent at the
    10^-scale boundaries (Spark quantizes the shortest decimal repr,
    DuckDB the binary value). Use this for DERIVED continuous values
    (ratios, interpolations, standardized scores) where the requirement
    is cross-engine determinism, not exact decimal semantics; keep
    dround/integer-unit arithmetic for exact-decimal quantities. Ties
    resolve toward +∞ (floor(+0.5)) rather than away from zero — an
    immaterial difference that is, crucially, the SAME everywhere.
    NULL-safe (NULL in → NULL out)."""
    c = F.col(col) if isinstance(col, str) else col
    unit = float(10**scale)
    return F.floor(c * F.lit(unit) + F.lit(0.5)).cast("long").cast(
        "double"
    ) / F.lit(unit)
