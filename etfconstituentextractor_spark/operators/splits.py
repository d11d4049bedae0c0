"""Leakage-safe train/val/test splits (SURVEY.md §2B "LLM-pipeline —
sampling/dedup": the split stage a training-data pipeline runs AFTER
near-dup grouping; the reference ETFQuarterlyHoldingsExtractor.py has
no notion of dataset splits — this is engine-beyond-reference).

The correctness point is WHERE the hash is taken: splitting on
``md5(doc_id)`` leaks — two near-duplicate documents land in train and
test and the eval set is contaminated. Splitting on the DEDUP GROUP
(q65's connected-component label, with singleton docs keying as
themselves) assigns every near-dup cluster wholly to one split, so no
pair of known near-duplicates ever straddles a boundary.

Determinism contract (the q83 discipline): the split is a pure
function of ``md5(group || ':' || salt)`` — no RNG state, no
partitioning dependence, reproducible from the row alone in any
engine. DuckDB replays it as
``CAST('0x' || substr(md5(...), 1, 8) AS BIGINT) % 100``.

Scale: one codegen'd projection — zero shuffle, zero UDF; the group
label is already on the row (from components/pagerank), so at 100 TB
the split adds nothing beyond the dedup pass that produced the label.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["split_bucket", "leakage_safe_split", "sql_split_bucket"]

#: percent buckets, matching the DuckDB replay's `% 100`.
_BUCKETS = 100


def _check_salt(salt: str) -> str:
    # defense-in-depth (ADVICE round 6): the salt only ever enters the
    # plan through F.lit here, but reject quotes anyway so a caller
    # that string-templates its own oracle SQL can't be broken by it
    if "'" in salt or '"' in salt:
        raise ValueError(f"salt must not contain quotes: {salt!r}")
    return salt


def split_bucket(group: Column, salt: str) -> Column:
    """0..99 bucket as a pure function of the group label — the
    column-level primitive (codegen only: md5 + hex parse + mod)."""
    h = F.md5(F.concat(group.cast("string"), F.lit(":" + _check_salt(salt))))
    # 8 hex chars < 2^32: always nonnegative in a bigint, so Spark's
    # pmod and DuckDB's % agree
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(_BUCKETS))


def leakage_safe_split(
    df: DataFrame,
    group_col: str,
    salt: str = "split",
) -> DataFrame:
    """Adds ``split_id``: 0=train, 1=val, 2=test at 80/10/10 percent,
    constant within each ``group_col`` value (integer percent
    thresholds keep the two engines' comparisons exact).
    NULL groups raise in-plan (an F.assert_true guard, not an eager
    count): a NULL label means the dedup stage upstream failed, and
    hashing NULL would silently funnel every such doc into one split.
    """
    g = F.col(group_col)
    guard = F.assert_true(
        g.isNotNull(), F.lit(f"leakage_safe_split: NULL {group_col}")
    )
    b = split_bucket(g, salt)
    split = (
        F.when(b < F.lit(80), F.lit(0))
        .when(b < F.lit(90), F.lit(1))
        .otherwise(F.lit(2))
    )
    return df.withColumn("split_id", F.when(guard.isNull(), split))


def sql_split_bucket(group_expr: str, salt: str) -> str:
    """The DuckDB spelling of :func:`split_bucket` over ``group_expr``
    (a SQL expression yielding the group label)."""
    return (
        f"CAST('0x' || substr(md5(concat(CAST({group_expr} AS VARCHAR), "
        f"':{_check_salt(salt)}')), 1, 8) AS BIGINT) % {_BUCKETS}"
    )
