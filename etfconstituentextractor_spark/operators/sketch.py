"""KMV (k-minimum-values) distinct-count sketch (SURVEY.md §2B
"Aggregations — approx count distinct" adjunct; the "novel sketch"
custom-operator family of the engine brief — no reference counterpart,
the reference never aggregates at all).

Spark's built-in HLL++ (`approx_count_distinct`, q36) is the
production sketch, but its estimate is engine-specific — q36 puts its
ACCURACY CONTRACT (not its estimate) under the oracle, plus a
deterministic md5-based HLL (operators/hll.py). KMV is the other
sketch you reach for when the estimate itself must be REPRODUCIBLE
across engines: keep the k
smallest values of a uniform hash per group; if the group has fewer
than k distinct hashes the sketch is exact, otherwise the k-th
smallest normalized hash U(k) estimates the distinct count as
(k-1)/U(k) (Bar-Yossef et al. 2002). With a deterministic md5 hash,
every engine keeps the SAME k hashes and computes the SAME estimate —
DuckDB replays it bit-for-bit, so the sketch sits under the full hash
oracle (q34), not a rows-only check.

Scale posture: one distinct-shuffle of (group, 32-hex hash) — never
payload values — then a per-group top-k window (WindowGroupLimit
prunes map-side) over at most k rows per group. The sketch state is
mergeable by construction (union the hash sets, keep the k smallest),
which is what makes KMV a sketch rather than a sample.

Normalization uses the first 13 hex chars (52 bits): the integer fits
a double EXACTLY in both engines, so U(k) = h13 / 16^13 carries no
engine-specific rounding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import hex_to_long

#: 16^13 — the normalization denominator for 13-hex-char prefixes.
_DENOM = 16**13

#: the catalog's sketch size: k smallest hashes kept per group
_K = 32


def kmv_distinct(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = _K,
) -> DataFrame:
    """(group_cols..., kmv_est) — deterministic KMV distinct-count
    estimate of ``value_col`` per group, rounded to 4 dp. Groups with
    fewer than k distinct values get the exact count (the sketch holds
    every hash)."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    # NULLs never enter the sketch: md5(NULL) is a NULL hash, and the
    # engines disagree on where NULL sorts in the window (Spark
    # nulls-first vs DuckDB nulls-last) — a NULL row would consume a
    # sketch slot in one engine but not the other. Distinct-count
    # semantics ignore NULL anyway (COUNT(DISTINCT x) does).
    hashes = (
        df.filter(F.col(value_col).isNotNull())
        .select(*group_cols, F.md5(F.col(value_col).cast("string")).alias("__h"))
        .distinct()
    )
    w = W.partitionBy(*group_cols).orderBy("__h")
    sk = (
        hashes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("__n_h"), F.max("__h").alias("__hk"))
    )
    frac = hex_to_long("substring(__hk, 1, 13)") / F.lit(float(_DENOM))
    est = F.when(F.col("__n_h") < k, F.col("__n_h").cast("double")).otherwise(
        F.lit(float(k - 1)) / frac
    )
    return sk.select(*group_cols, F.round(est, 4).alias("kmv_est"))


def sql_kmv_distinct(from_sql: str, group_col: str, value_col: str) -> str:
    """DuckDB spelling of the identical sketch at k = ``_K`` (shared
    construction, independent engine) — a CTE body yielding
    (group_col, kmv_est)."""
    return f"""
    SELECT {group_col},
           ROUND(CASE WHEN COUNT(*) < {_K} THEN CAST(COUNT(*) AS DOUBLE)
                 ELSE {_K - 1}.0 / (CAST('0x' || substr(MAX(__h), 1, 13) AS BIGINT)
                                   / {float(_DENOM)}) END, 4) AS kmv_est
    FROM (
      SELECT {group_col}, __h,
             row_number() OVER (PARTITION BY {group_col} ORDER BY __h) AS __rn
      FROM (SELECT DISTINCT {group_col},
                   md5(CAST({value_col} AS VARCHAR)) AS __h
            FROM {from_sql}
            WHERE {value_col} IS NOT NULL)
    )
    WHERE __rn <= {_K}
    GROUP BY {group_col}
    """
