"""DSIR — Data Selection with Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) — hashed n-gram importance weights for targeted
data selection (SURVEY.md §2B "LLM-pipeline — sampling": pick raw-web
documents that look like a curated target domain).

Method, exactly the paper's estimator restricted to unigrams:
- every token hashes into one of ``N_BUCKETS`` feature buckets
  (hashed n-grams — the paper's trick for a FIXED-size feature space,
  which is also what makes this 100 TB-safe: the two count frames are
  ``N_BUCKETS`` rows no matter how big the corpus is);
- a bag-of-buckets unigram model is fit to the TARGET slice and to
  the RAW slice with add-1 smoothing:
  ``p(b) = (count_b + 1) / (total + N_BUCKETS)``;
- a document's importance weight is the mean per-token log ratio
  ``avg ln(p_target(bucket(tok)) / p_raw(bucket(tok)))`` — the mean
  (not the paper's sum) normalizes length so selection doesn't simply
  prefer long documents; monotone-equivalent per length class;
- selection: top-k raw documents by weight (deterministic — the
  resampling variant replaces the Gumbel noise the paper adds with
  rank order, keeping the result hash-checkable cross-engine).

Determinism contract (the lm.py discipline): counts are exact
integers; the per-token mean is computed as the count-weighted form
``sum(n_b · lr_b) / sum(n_b)`` over per-(doc, bucket) token counts —
identical expression shape in both engines — and ln/avg are IEEE
doubles ROUNDED at 6 dp BEFORE the ranking decision, ties broken on
doc_id. This leg is rounding-TOLERANT rather than bit-exact: it
relies on JVM Math.log and DuckDB ln agreeing to well under the 6 dp
rounding grain (they are both correctly-rounded-to-≤1ulp libm logs;
a score sitting within ~1e-7 of a rounding boundary could in
principle flip a rank between engines — accepted and documented, the
same posture as every ln-scored leg).

Scale posture: text is tokenized ONCE — the token stream reduces
immediately to a per-(doc, bucket) count frame (≤ docs × N_BUCKETS
rows, ~2-3 orders smaller than token grain), which is
localCheckpoint-materialized and feeds BOTH the global bucket counts
and the per-doc scoring; text never shuffles; the log-ratio table is
``N_BUCKETS`` rows and broadcasts; zero Python, all codegen. The
materialized frame is the operator's only state — the classic
token-count index, linear in corpus size, freed by the
ContextCleaner on GC.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import nonempty_tokens

__all__ = ["dsir_scores", "sql_dsir_ctes"]

_SALT = "dsir"

#: hashed-unigram feature buckets, shared by the Spark and DuckDB sides
N_BUCKETS = 256


def _bucket(tok: Column) -> Column:
    h = F.md5(F.concat(tok, F.lit(":" + _SALT)))
    return F.pmod(F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(N_BUCKETS))


def dsir_scores(docs: DataFrame, target: Column) -> DataFrame:
    """(doc_id, dsir_score) for every RAW (non-target) document with at
    least one space-separated token of ``text``; ``target`` is a
    boolean Column splitting the corpus into the curated target slice
    and the raw pool to be scored. Higher score = more target-like."""
    toks = docs.select(
        F.col("doc_id"),
        target.alias("__t"),
        F.explode(F.expr(nonempty_tokens())).alias("__tok"),
    ).select("doc_id", "__t", _bucket(F.col("__tok")).alias("__b"))

    # ONE tokenize pass: the token stream reduces to per-(doc, bucket)
    # counts and materializes; both consumers below (global bucket
    # counts + per-doc scoring) read this frame, not the text. Without
    # the checkpoint Spark would re-execute the tokenize per branch
    # (plan DAGs re-derive shared subtrees) — the round-7 double-scan
    # this replaces.
    per_doc = (
        toks.groupBy("doc_id", "__t", "__b")
        .agg(F.count(F.lit(1)).alias("__n"))
        .localCheckpoint()
    )

    counts = per_doc.groupBy("__b").agg(
        F.sum(F.when(F.col("__t"), F.col("__n")).otherwise(0)).alias("__ct"),
        F.sum(F.when(F.col("__t"), 0).otherwise(F.col("__n"))).alias("__cr"),
    )
    totals = counts.agg(
        F.sum("__ct").alias("__tt"), F.sum("__cr").alias("__tr")
    )
    ratios = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "__b",
            (
                F.log((F.col("__ct") + 1) / (F.col("__tt") + F.lit(N_BUCKETS)))
                - F.log((F.col("__cr") + 1) / (F.col("__tr") + F.lit(N_BUCKETS)))
            ).alias("__lr"),
        )
    )
    # count-weighted mean == the per-token mean; the weighted shape is
    # what both engines compute (sum(n·lr)/sum(n)) so the float
    # summation structure matches across engines.
    return (
        per_doc.filter(~F.col("__t"))
        .join(F.broadcast(ratios), "__b")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(F.col("__n") * F.col("__lr")) / F.sum("__n"), 6
            ).alias("dsir_score")
        )
    )


def sql_dsir_ctes(target_pred: str) -> str:
    """DuckDB replay over the ``documents`` view: CTE chain ending at
    ``dsir_scores(doc_id, dsir_score)`` — identical bucketing,
    smoothing, and 6 dp rounding. ``target_pred`` is a SQL boolean
    over documents columns."""
    return f"""dsir_toks AS (
      SELECT doc_id, t,
             CAST('0x' || substr(md5(concat(tok, ':{_SALT}')), 1, 8) AS BIGINT)
               % {N_BUCKETS} AS b
      FROM (SELECT doc_id, ({target_pred}) AS t,
                   unnest(list_filter(str_split(text, ' '), x -> x <> '')) AS tok
            FROM documents)
    ),
    dsir_perdoc AS (
      SELECT doc_id, t, b, COUNT(*) AS n
      FROM dsir_toks GROUP BY doc_id, t, b
    ),
    dsir_counts AS (
      SELECT b,
             SUM(CASE WHEN t THEN n ELSE 0 END) AS ct,
             SUM(CASE WHEN t THEN 0 ELSE n END) AS cr
      FROM dsir_perdoc GROUP BY b
    ),
    dsir_tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM dsir_counts),
    dsir_ratio AS (
      SELECT b, ln((ct + 1) / (tt + {N_BUCKETS})) - ln((cr + 1) / (tr + {N_BUCKETS})) AS lr
      FROM dsir_counts, dsir_tot
    ),
    dsir_scores AS (
      SELECT doc_id,
             ROUND(SUM(CAST(n AS DOUBLE) * lr) / SUM(CAST(n AS DOUBLE)), 6)
               AS dsir_score
      FROM dsir_perdoc JOIN dsir_ratio USING (b)
      WHERE NOT t
      GROUP BY doc_id
    )"""
