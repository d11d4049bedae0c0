"""Deterministic HyperLogLog distinct-count sketch (SURVEY.md §2B
"Aggregations — approx count distinct"; the reproducible twin of
Spark's built-in HLL++ `approx_count_distinct`, which is
engine-specific and therefore only rows-checkable by the driver).

This is classic Flajolet et al. 2007 HLL with the linear-counting
small-range fallback, built from a deterministic md5 hash so that
EVERY engine derives the SAME registers and the SAME estimate —
DuckDB replays it bit-for-bit, which puts the sketch (and with it the
whole q36 approx family) under the full value-hash oracle rather than
a rows-only check. Construction:

- hash: first 15 hex chars of md5(value) → a 60-bit integer (fits a
  signed BIGINT in both engines; `conv` / `'0x'||…::BIGINT`).
- bucket: low ``p`` bits (``h & (m-1)``); rho: position of the first
  set bit in the remaining ``60-p`` bits, computed portably as
  ``(60-p) - length(bin(w)) + 1`` — both Spark's and DuckDB's
  ``bin()`` render without leading zeros, so ``length(bin(w))`` is
  ``floor(log2(w))+1`` exactly, no floating-point log anywhere.
- register sum: kept EXACT as a dyadic integer. Instead of summing
  ``2^-reg`` in floating point (whose summation order differs across
  engines), we sum ``2^(RMAX-reg)`` in BIGINT — every term is an
  integer, addition is associative, both engines get the identical
  sum (max ``m * 2^RMAX = 2^61`` at p=12, inside int64). The one
  float op is the final ``alpha*m²*2^RMAX / S`` division: same two
  operands → same IEEE result everywhere. This is the same
  bit-identical-dyadic trick `operators/quality_model.py` uses for
  its margins.
- small range: when the raw estimate ≤ 2.5m and empty buckets exist,
  linear counting ``m*ln(m/V)`` (V = empty buckets). The branch
  condition is computed from deterministic quantities, so both
  engines take the same branch; the estimate is rounded to 4 dp.

Scale posture: one shuffle of (group, bucket, rho-partial) — the
``groupBy(group, bucket).max(rho)`` pre-aggregates map-side, so at
100 TB the exchange carries at most ``m`` register rows per group
(fixed memory, like any mergeable sketch), never values. Registers
are mergeable by construction (max is commutative/associative).

No reference counterpart: `ETFQuarterlyHoldingsExtractor.py` never
aggregates; this is the engine-brief "novel sketch" family beside KMV
(`operators/sketch.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import hex_to_long, sql_hex_to_long

#: Bits taken from the md5 prefix (15 hex chars — BIGINT-safe).
_W = 60


def _consts(p: int) -> tuple[int, int, int, float]:
    """(m, wbits, rmax, alpha_num) for precision ``p``. alpha_num is
    the fully pre-multiplied numerator ``alpha_m * m^2 * 2^RMAX`` as a
    Python float — inlined as a literal in BOTH engine spellings so
    each parses the identical double."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    m = 1 << p
    wbits = _W - p
    rmax = wbits + 1
    alpha = 0.7213 / (1 + 1.079 / m)  # Flajolet 2007, m >= 128
    return m, wbits, rmax, alpha * m * m * float(1 << rmax)


def hll_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
) -> DataFrame:
    """(group_cols..., hll_est, hll_sum_dyadic, hll_zero_regs) —
    deterministic HLL distinct-count estimate of ``value_col`` per
    group. ``hll_sum_dyadic`` (the exact BIGINT register sum) and
    ``hll_zero_regs`` (empty-bucket count) are emitted so the oracle
    checks the sketch STATE, not just the rounded estimate."""
    regs = hll_registers(df, group_cols, value_col, p)
    return hll_finalize(regs, group_cols, p)


def hll_registers(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = 12,
) -> DataFrame:
    """The sketch STATE: (group_cols..., __b, __reg) — one row per
    occupied register per group. Registers are a per-bucket MAX, so
    two register frames max-merge (mergeable-sketch property).
    ``hll_finalize`` turns state into the estimate columns."""
    m, wbits, rmax, _ = _consts(p)
    # NULLs never enter the sketch (COUNT(DISTINCT) semantics; also
    # md5(NULL) is NULL and would consume a register differently per
    # engine — same guard as operators/sketch.py).
    hashed = df.filter(F.col(value_col).isNotNull()).select(
        *group_cols,
        hex_to_long(f"substring(md5(cast({value_col} as string)), 1, 15)").alias("__h"),
    )
    rho = F.when(F.expr(f"shiftright(__h, {p})") == 0, F.lit(rmax)).otherwise(
        F.lit(wbits) - F.length(F.expr(f"bin(shiftright(__h, {p}))")) + F.lit(1)
    )
    return (
        hashed.select(*group_cols, F.expr(f"__h & {m - 1}").alias("__b"), rho.alias("__rho"))
        .groupBy(*group_cols, "__b")
        .agg(F.max("__rho").alias("__reg"))
    )


def hll_finalize(
    regs: DataFrame,
    group_cols: list[str],
    p: int = 12,
) -> DataFrame:
    """(group_cols..., hll_est, hll_sum_dyadic, hll_zero_regs) from a
    register-state frame (the second half of ``hll_distinct``)."""
    m, wbits, rmax, alpha_num = _consts(p)
    per_group = regs.groupBy(*group_cols).agg(
        (
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {rmax} - __reg)"))
            + (F.lit(m) - F.count(F.lit(1))) * F.lit(1 << rmax)
        ).alias("hll_sum_dyadic"),
        (F.lit(m) - F.count(F.lit(1))).cast("int").alias("hll_zero_regs"),
    )
    e_raw = F.lit(alpha_num) / F.col("hll_sum_dyadic").cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (F.col("hll_zero_regs") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("hll_zero_regs")),
    ).otherwise(e_raw)
    return per_group.select(
        *group_cols,
        F.round(est, 4).alias("hll_est"),
        "hll_sum_dyadic",
        "hll_zero_regs",
    )


def sql_hll_distinct(
    from_sql: str, group_col: str, value_col: str, p: int = 12
) -> str:
    """DuckDB spelling of the identical sketch (shared construction,
    independent engine) — a CTE body yielding
    (group_col, hll_est, hll_sum_dyadic, hll_zero_regs)."""
    m, wbits, rmax, alpha_num = _consts(p)
    return f"""
    SELECT {group_col},
           ROUND(CASE WHEN {alpha_num!r} / hll_sum_dyadic <= {2.5 * m}
                       AND hll_zero_regs > 0
                 THEN {m} * ln({m}.0 / hll_zero_regs)
                 ELSE {alpha_num!r} / hll_sum_dyadic END, 4) AS hll_est,
           hll_sum_dyadic, hll_zero_regs
    FROM (
      -- CAST: DuckDB SUM(BIGINT) widens to HUGEINT, which the pandas
      -- bridge renders as float64 — narrow back so both engines emit
      -- int64 (the sum is <= m * 2^RMAX = 2^61, BIGINT-safe).
      SELECT {group_col},
             CAST(SUM(1::BIGINT << ({rmax} - __reg))
               + ({m} - COUNT(*)) * (1::BIGINT << {rmax}) AS BIGINT) AS hll_sum_dyadic,
             CAST({m} - COUNT(*) AS INTEGER) AS hll_zero_regs
      FROM (
        SELECT {group_col}, __h & {m - 1} AS __b,
               MAX(CASE WHEN (__h >> {p}) = 0 THEN {rmax}
                   ELSE {wbits} - length(bin(__h >> {p})) + 1 END) AS __reg
        FROM (SELECT {group_col},
                     {sql_hex_to_long(f"substr(md5(CAST({value_col} AS VARCHAR)), 1, 15)")} AS __h
              FROM {from_sql}
              WHERE {value_col} IS NOT NULL)
        GROUP BY {group_col}, __b
      )
      GROUP BY {group_col}
    )
    """
