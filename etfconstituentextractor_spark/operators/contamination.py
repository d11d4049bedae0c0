"""Benchmark-contamination detection: word n-gram overlap between a
training corpus and a (small) evaluation/benchmark set.

The standard decontamination check of a pretraining pipeline: a
training document is suspect when it shares high-order n-grams with
any benchmark document (the PaLM/GPT-style collision test). Extends
the reference's text processing (`ETFQuarterlyHoldingsExtractor.py`
extracts structured rows from documents; a training pipeline must
also *exclude* documents) — no reference counterpart, SURVEY.md §2B
"LLM-pipeline" tier.

Scale posture (the part that matters at 100 TB):

- the benchmark side is tiny by construction (eval sets are MBs, the
  corpus is TBs) → distinct its n-grams and **broadcast**; the corpus
  never shuffles its text;
- the corpus side is ONE scan: shingle → array_distinct →
  explode_outer, probed map-side against the broadcast set. The only
  shuffle is the final per-doc aggregation, and it moves
  (doc_id, n_ngrams, flag) triples — never text — with map-side
  partial aggregation collapsing each doc's rows before the exchange
  (explode output is partition-local, so each doc contributes a
  handful of partial rows);
- `explode_outer` keeps sub-n-token documents (empty shingle set) in
  the result with n_ngrams = 0 — a contamination report must cover
  every input document, not just shingle-able ones.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import shingles


def ngram_contamination(
    train: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = 4,
    contaminated_at: int = 8,
) -> DataFrame:
    """Per-train-document overlap stats against ``eval_docs`` n-grams.

    Both frames carry space-separated ``text``. Returns one row per
    ``train`` document: ``(doc_id, n_ngrams,
    n_matched, hit_ratio, verdict)`` where ``n_ngrams`` counts the
    document's DISTINCT word n-grams, ``n_matched`` those that also
    occur anywhere in ``eval_docs``, and ``verdict`` bands the count:
    ``clean`` (0) / ``suspect`` (1..contaminated_at-1) /
    ``contaminated`` (>= contaminated_at).
    """
    # __toks: the shingle zip_with chain references its tokens_expr ~8
    # times (slices + size guards) — materialize the split once per
    # row as a multi-reference alias (round-14 optimization, guide
    # §1.2 per-task work; same CollapseProject reasoning as the grams
    # materialization below).
    grams: Column = shingles("__toks", n)

    eval_grams = (
        eval_docs.withColumn("__toks", F.expr("split(text, ' ')"))
        .select(F.explode(grams).alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    # Materialize the distinct-shingle array in its own projection so
    # size() and explode_outer() both reference the computed column —
    # inlining would run the whole zip_with shingle chain twice per row
    # (CollapseProject keeps multi-referenced non-cheap expressions).
    prepared = train.withColumn("__toks", F.expr("split(text, ' ')")).select(
        "doc_id", F.array_distinct(grams).alias("grams")
    )
    exploded = prepared.select(
        "doc_id",
        F.size("grams").alias("n_ngrams"),
        F.explode_outer("grams").alias("g"),
    )
    matched = exploded.join(F.broadcast(eval_grams), "g", "left")
    stats = matched.groupBy("doc_id").agg(
        F.first("n_ngrams").alias("n_ngrams"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_matched"),
    )
    ratio = F.when(
        F.col("n_ngrams") > 0,
        F.round(F.col("n_matched") / F.col("n_ngrams").cast("double"), 4),
    ).otherwise(F.lit(0.0))
    return stats.select(
        "doc_id",
        "n_ngrams",
        "n_matched",
        ratio.cast("double").alias("hit_ratio"),
        F.when(F.col("n_matched") >= contaminated_at, "contaminated")
        .when(F.col("n_matched") >= 1, "suspect")
        .otherwise("clean")
        .alias("verdict"),
    )
