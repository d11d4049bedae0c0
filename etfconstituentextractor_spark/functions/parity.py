"""Oracle-parity numeric discipline (SURVEY.md §5.2, FIXTURES.md notes).

Summing doubles is order-dependent; Spark's partial/final hash
aggregation and DuckDB's vectorized aggregation add in different
orders, so raw double sums drift in the last bits and can flip a
rounded digit. The engine's convention, applied identically on both
sides of every oracle comparison:

1. cast measures to exact ``decimal`` *before* aggregating — decimal
   addition is associative, so both engines produce the identical
   exact sum;
2. round the exact result to a fixed scale;
3. cast to double for a stable, engine-neutral output type.

Averages divide the exact decimal sum (as double) by the count — a
single deterministic IEEE division — rather than using the engines'
``avg`` (whose internal accumulation order differs).

Decimal widths are chosen so products stay exactly representable in
BOTH engines (Spark: p1+p2+1 ≤ 38; DuckDB: w1+w2 ≤ 38): measure
columns get decimal(14,4), rate-like columns (discount/tax/pct)
decimal(8,6). (14+9+1)+9+1 = 34 ≤ 38 keeps even the three-factor
TPC-H Q1 "charge" product exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MEASURE_DECIMAL = "decimal(14,4)"
RATE_DECIMAL = "decimal(8,6)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dec(c: Column | str) -> Column:
    """Measure column (price/quantity/value) as exact decimal."""
    return _col(c).cast(MEASURE_DECIMAL)


def dec_rate(c: Column | str) -> Column:
    """Rate column (discount/tax/percentage) as exact decimal."""
    return _col(c).cast(RATE_DECIMAL)


def dsum(c: Column | str, alias: str) -> Column:
    """Exact decimal sum, rounded to 2 places, emitted as double."""
    return F.round(F.sum(_col(c)), 2).cast("double").alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """Exact-sum-based average: round(double(sum_dec)/count, 4)."""
    return F.round(
        F.sum(_col(c)).cast("double") / F.count(F.lit(1)), 4
    ).cast("double").alias(alias)
