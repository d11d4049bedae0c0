"""The user-defined-function surface (SURVEY.md §2B "UDF" rows): one
query per extension mechanism, each with a full DuckDB hash oracle.

The engine's standing rule is the opposite of this module: built-in
column expressions everywhere (JVM-side, codegen'd) — every other
plan file has zero Python in the row path. These queries exist to
prove the escape hatches work when semantics genuinely require Python:

- q90: row-at-a-time scalar UDF (the slow path — pickled per row)
  NEXT TO the Arrow-vectorized ``pandas_udf`` doing equivalent-shape
  work on whole Series. The juxtaposition is the point: same query,
  both boundaries, so the ~10-100x cost difference is measurable on
  one plan (SURVEY.md §2B "UDF — scalar": prefer pandas_udf).
- q91: Python UDTF (Spark 3.5+ ``@udtf``) exploding documents into
  bigram rows via a SQL LATERAL join, then a grouped custom aggregate
  via ``applyInPandas`` (the UDAF shape: full-group pandas frame in,
  one summary row out).

Float discipline at the Python boundary: Python/numpy round is
HALF_EVEN while SQL ROUND is half-away — so UDFs emit RAW doubles
(bit-identical arithmetic on both engines) and all rounding happens
engine-side (F.round vs SQL ROUND) where the semantics match.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udf, udtf

from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import load


# ---------------------------------------------------------------------------
# q90 — scalar UDF vs vectorized pandas UDF, side by side.
#
# The udf/pandas_udf/udtf wrappers are built INSIDE the query
# functions: the decorators parse their DDL return types eagerly and
# therefore need an active SparkSession, which plan modules don't have
# at import time (the registry imports them before any session exists).
# ---------------------------------------------------------------------------
def _qty_band_py(q: float) -> str | None:
    # row-at-a-time: one Python call per row (demonstration only; the
    # CASE expression in the oracle is what production code should use)
    if q is None:
        return None
    if q >= 40:
        return "bulk"
    if q >= 10:
        return "mid"
    return "small"


def _gross_vec_py(qty: pd.Series, price: pd.Series) -> pd.Series:
    # Arrow-batched: one call per ~10k-row batch, numpy multiply —
    # IEEE-identical to the engines' double multiply, so no rounding
    # happens here (see module docstring).
    return qty * price


@query(
    "q90_udf_scalar_pandas",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_quantity >= 40 THEN 'bulk'
                WHEN l_quantity >= 10 THEN 'mid'
                ELSE 'small' END AS qty_band,
           CAST(ROUND(CAST(l_quantity * l_extendedprice AS DECIMAL(28,8)), 2) AS DOUBLE) AS gross
    FROM lineitem
    WHERE l_linenumber = 1
    """,
)
def q90_udf_scalar_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    qty_band = udf(_qty_band_py, "string", useArrow=False)
    gross_vec = pandas_udf(_gross_vec_py, "double")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        qty_band("l_quantity").alias("qty_band"),
        F.round(gross_vec("l_quantity", "l_extendedprice").cast("decimal(28,8)"), 2)
        .cast("double")
        .alias("gross"),
    )


# ---------------------------------------------------------------------------
# q91 — Python UDTF (doc → bigram rows, LATERAL-joined) + grouped
# pandas UDAF (per-language median/mean of per-doc bigram counts).
# The UDTF output is cross-checked structurally by the oracle: a doc
# with n tokens MUST yield exactly n-1 bigram rows, so the per-doc
# counts — and everything downstream — hash-match len(tokens)-1.
# ---------------------------------------------------------------------------
class _Bigrams:
    def eval(self, text: str):  # noqa: ANN001 - UDTF contract
        if text is None:
            return
        toks = text.split(" ")
        for i in range(len(toks) - 1):
            yield i, toks[i] + " " + toks[i + 1]


def _lang_summary(pdf: pd.DataFrame) -> pd.DataFrame:
    # full-group custom aggregate (UDAF shape). Raw doubles out; the
    # caller rounds engine-side. Median/mean of ints are exact and
    # order-independent (integer sums), hence engine-portable.
    return pd.DataFrame(
        {
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [len(pdf)],
            "median_bigrams": [float(pdf["n_bigrams"].median())],
            "avg_bigrams": [float(pdf["n_bigrams"].mean())],
        }
    )


@query(
    "q91_udtf_udaf",
    oracle="""
    WITH counts AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) - 1 AS n_bigrams
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(ROUND(median(n_bigrams), 4) AS DOUBLE) AS median_bigrams,
           CAST(ROUND(AVG(n_bigrams), 4) AS DOUBLE) AS avg_bigrams
    FROM counts GROUP BY lang
    """,
)
def q91_udtf_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    d.createOrReplaceTempView("udtf_documents")
    spark.udtf.register("etfce_bigrams", udtf(_Bigrams, returnType="pos int, bigram string"))
    bigrams = spark.sql(
        """
        SELECT d.doc_id, d.lang, t.pos, t.bigram
        FROM udtf_documents d, LATERAL etfce_bigrams(d.text) t
        """
    )
    counts = bigrams.groupBy("doc_id", "lang").agg(F.count(F.lit(1)).alias("n_bigrams"))
    summary = counts.groupBy("lang").applyInPandas(
        _lang_summary,
        schema="lang string, n_docs bigint, median_bigrams double, avg_bigrams double",
    )
    return summary.select(
        "lang",
        "n_docs",
        F.round("median_bigrams", 4).alias("median_bigrams"),
        F.round("avg_bigrams", 4).alias("avg_bigrams"),
    )
