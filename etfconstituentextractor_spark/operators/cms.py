"""Count–min sketch (Cormode & Muthukrishnan 2005) token-frequency
estimation + heavy-hitter extraction (SURVEY.md §2B "LLM-pipeline —
text analysis" adjunct; the frequency-sketch member of the engine's
novel-sketch family beside KMV `operators/sketch.py` and HLL
`operators/hll.py`). No reference counterpart: the reference
(`ETFQuarterlyHoldingsExtractor.py`) never aggregates.

Why a sketch when the exact groupBy also works: at 100 TB the CMS
counter table is a FIXED d×w integer grid — mergeable by plain
addition, so partial sketches combine map-side and the exchange
carries d*w rows per partition regardless of vocabulary size, while
the exact token groupBy must shuffle every distinct token. The
heavy-hitter read-out then needs only the candidate tokens probed
against the (broadcast-sized) grid.

Determinism: row hashes are md5("r:" || token) prefixes — integer
bucket arithmetic and integer counter sums only, so Spark, DuckDB and
a pure-Python replay agree bit-for-bit (no FP anywhere). CMS is
one-sided: estimate >= true count always; collisions only ever
inflate. Both engines inflate identically.

Plan shape (Spark): one exact token pre-count (the same single
token shuffle q81 already pays), then the d-row fan-out runs over the
DISTINCT-token frame (vocabulary-bounded, not corpus-bounded); the
d×w counter grid broadcasts back into the probe join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import hex_to_long, sql_hex_to_long


def _bucket(token_expr: str, r: int, w: int):
    """Deterministic bucket of ``token`` under hash row ``r``."""
    return hex_to_long(f"substring(md5(concat('{r}:', {token_expr})), 1, 15)") % w


def _sql_bucket(token_expr: str, r: int, w: int) -> str:
    hex_prefix = f"substr(md5('{r}:' || {token_expr}), 1, 15)"
    return f"({sql_hex_to_long(hex_prefix)} % {w})"


def cms_from_counts(
    counts: DataFrame, token_col: str = "token", d: int = 4, w: int = 64
) -> DataFrame:
    """Same read-out from a pre-counted (token, n_exact) frame — lets
    a caller that already paid the token shuffle (q81) share it."""
    if d < 1 or w < 2:
        raise ValueError(f"need d >= 1 hash rows and w >= 2 buckets, got d={d} w={w}")
    rb = counts.select(
        token_col,
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"), _bucket(token_col, r, w).alias("b")
                    )
                    for r in range(d)
                ]
            )
        ).alias("__rb"),
    ).select(token_col, "n_exact", F.col("__rb.r").alias("__r"), F.col("__rb.b").alias("__b"))
    counters = rb.groupBy("__r", "__b").agg(F.sum("n_exact").alias("__c"))
    return (
        rb.join(F.broadcast(counters), ["__r", "__b"])
        .groupBy(token_col, "n_exact")
        .agg(F.min("__c").alias("cms_est"))
    )


def sql_cms_from_counts(
    counts_sql: str, token_col: str = "token", d: int = 4, w: int = 64
) -> str:
    """DuckDB spelling of the identical read-out — a CTE body yielding
    (token_col, n_exact, cms_est) from ``counts_sql`` (a relation with
    (token_col, n_exact) — one row per distinct token). CASTs narrow
    DuckDB's HUGEINT sums back to BIGINT so the pandas bridge emits
    int64 like Spark."""
    rows = " UNION ALL ".join(
        f"SELECT {token_col}, n_exact, {r} AS __r, "
        f"{_sql_bucket(token_col, r, w)} AS __b FROM __cms_counts"
        for r in range(d)
    )
    return f"""
    WITH __cms_counts AS ({counts_sql}),
    __cms_rb AS ({rows}),
    __cms_counters AS (
      SELECT __r, __b, CAST(SUM(n_exact) AS BIGINT) AS __c
      FROM __cms_rb GROUP BY __r, __b
    )
    SELECT __cms_rb.{token_col}, __cms_rb.n_exact,
           CAST(MIN(__cms_counters.__c) AS BIGINT) AS cms_est
    FROM __cms_rb JOIN __cms_counters USING (__r, __b)
    GROUP BY __cms_rb.{token_col}, __cms_rb.n_exact
    """


