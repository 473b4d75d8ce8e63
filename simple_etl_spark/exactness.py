"""Cross-engine numeric exactness helpers.

The correctness gate hash-compares Spark results against a DuckDB
oracle, so floating-point aggregates must be *bit-identical*, not just
close. Strategy: aggregate in DECIMAL (exact, order-insensitive), then
convert the exact decimal to double at the very end; any further
arithmetic is a single deterministic double op mirrored in the oracle
SQL. Plain double SUM/AVG would differ in the last ulps because Spark
and DuckDB reduce in different orders.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Precision 9 (not 18): Spark's Decimal stays on the Long fast path
# when every intermediate precision ≤ 18 — (9,2) elements keep sums at
# (19,2) and products at (14,4), all Long-backed; (18,2) elements push
# products past precision 19 onto the BigDecimal slow path (~40×
# slower per row). All measured quantities are < 10^7 so (9,2) is
# lossless here; widen per-call if a column can exceed it.
DEC = "decimal(9,2)"


def dsum(col: Column | str, alias: str) -> Column:
    """Exact sum of a non-negative 2-dp quantity, returned as double.

    Same result as ``cast(sum(cast(c as decimal(9,2))) as double)``
    (the oracle form) but accumulated as integer units on the Long
    fast path — sum(decimal(9,2)) promotes to (19,2), which exceeds
    Spark's 18-digit compact-long limit and falls onto BigDecimal.
    """
    return lsum(units(col), 2, alias)


def davg(col: Column | str, alias: str) -> Column:
    """Exact-sum average: long-units sum converted to double, then one
    double division by the group count (same op in the oracle)."""
    return lavg(units(col), 2, alias)


def units(col: Column | str, scale: int = 2) -> Column:
    """A non-negative 2-dp quantity as integer units of 10^-scale (long).

    ``floor(x·10^scale + 0.5)`` is HALF_UP for x ≥ 0 and compiles to
    pure double codegen — no per-row BigDecimal. Equivalent to the
    decimal-cast formulation on every money column here (verified
    value-for-value at sf0.1) and ~2× faster on the scan+agg hot path.
    From here on, per-row arithmetic and the sum accumulator run
    entirely in JVM longs — the same int64-with-tracked-scale strategy
    columnar engines use internally for decimal aggregation — instead
    of the BigDecimal slow path that Spark's sum(decimal) promotion
    (p+10 > 18) would force.

    Precondition: x ≥ 0 (floor+0.5 rounds ties toward +∞, which is
    HALF_DOWN for negatives). Use :func:`units_signed` for signed data.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * F.lit(10**scale) + F.lit(0.5))


def units_signed(col: Column | str, scale: int = 2) -> Column:
    """Signed variant of :func:`units`: HALF_UP away from zero via
    sign·floor(|x|·10^scale + 0.5), still pure double codegen."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.floor(F.abs(c) * F.lit(10**scale) + F.lit(0.5))
    return F.when(c < 0, -m).otherwise(m).cast("long")


def _exact_value(sum_col: Column, scale: int) -> Column:
    """Exact long sum S → double value of S/10^scale with ONE correct
    rounding: route through decimal so S itself is never rounded (a
    bare cast-to-double rounds S first when S ≥ 2^53, then divides —
    double-rounding that can differ from the oracle's single rounding
    of the exact decimal sum in the last ulp)."""
    return (sum_col.cast("decimal(38,0)") / F.lit(10**scale)).cast("double")


def lsum(units_col: Column, scale: int, alias: str) -> Column:
    """Sum of integer units → double value (exact S/10^scale).

    Per-row accumulation stays on the JVM long fast path; only the
    per-GROUP finish is decimal, so exactness holds to int64's 2^63
    (~9.2·10^18 units), not double's 2^53 — the round-1 envelope,
    which scale-6 unit sums crossed at ~2× the benchmarked scale.
    Overflow past 2^63 fails loudly (ANSI); groups that can reach it
    (10^-6-unit products at 10^11+ rows/group) use :func:`lsum_split`.
    """
    return _exact_value(F.sum(units_col), scale).alias(alias)


def lsum_split(
    units_col: Column, scale: int, alias: str, split_bits: int = 20
) -> Column:
    """Split-accumulator exact sum for wide units (scale ≥ 4 products).

    units = hi·2^split_bits + lo, with hi and lo each summed as plain
    longs (still whole-stage-codegen; two columns instead of one) and
    recombined exactly in decimal at the finish. Envelope per group:
    sum(lo) < 2^63 needs rows < 2^(63-split_bits) (~8.8·10^12 at 20
    bits); sum(hi) < 2^63 needs rows·max(units)/2^20 < 2^63 — for
    10^-6-unit money products (~3·10^10 units/row) that is ~2.8·10^14
    rows per group, comfortably past a 100 TB fact table, where the
    single-accumulator envelope (~3·10^8 rows/group) is not.
    """
    hi = F.sum(F.shiftright(units_col.cast("long"), split_bits)).cast("decimal(38,0)")
    lo = F.sum(
        units_col.cast("long").bitwiseAND(F.lit((1 << split_bits) - 1))
    ).cast("decimal(38,0)")
    exact = hi * F.lit(1 << split_bits) + lo
    return (exact / F.lit(10**scale)).cast("double").alias(alias)


def lavg(units_col: Column, scale: int, alias: str) -> Column:
    """Exact-sum average: exact double of the sum (see lsum), then one
    double division by the group count (same two ops in the oracle)."""
    return (_exact_value(F.sum(units_col), scale) / F.count(F.lit(1))).alias(alias)

