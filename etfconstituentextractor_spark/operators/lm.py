"""N-gram language-model training + perplexity scoring (quality filter).

The CCNet-style third pillar of corpus curation (alongside dedup and
langid): score every document's fluency with a smoothed bigram LM
trained on a reference corpus, then drop/route the high-perplexity
tail. Both halves stay declarative:

- ``train_bigram_lm``: tokens → adjacent pairs (``zip_with`` of
  slices, one codegen pass) → groupBy counts. One corpus shuffle per
  count family, carrying (word(s), count) — never documents. The
  model IS a pair of DataFrames; nothing is collected to the driver.
- ``perplexity``: explode each scored doc into (id, w1, w2) pairs,
  left-join the bigram counts on the pair key (shuffle join — at
  100 TB the bigram table is itself too large to broadcast), the
  per-context totals on w1 (vocabulary-sized → broadcast), and the
  vocab size as a broadcast scalar frame. Add-k conditional
  P(w2|w1) = (c(w1,w2) + k) / (ctx(w1) + k·V); cross-entropy is the
  mean negative ln P over the doc's pairs, perplexity its exp.
  Unseen words/pairs fall through the left joins as count 0 — the
  smoothing handles them, so scoring a corpus disjoint from the
  training corpus is well-defined.

Scale posture: train = two hash-count shuffles; score = one pair-key
shuffle of (id, w1, w2) rows plus one id-key shuffle of (id, logp) —
text never shuffles in either phase. Everything whole-stage codegen;
zero Python.

Determinism: counts are exact; ln/exp are IEEE doubles — compare
cross-engine results rounded (tests round to 6 places, the idf
precedent in plans/llm_text.py).

Reference provenance: no counterpart in the reference engine;
LLM-pipeline surface (SURVEY.md §2B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.text import nonempty_tokens


def _toks(tokens_col: str | None) -> str:
    """The caller's pre-tokenized column, or THE corpus tokenizer
    expression over ``text`` — one definition, so training and scoring
    cannot tokenize differently."""
    return tokens_col or nonempty_tokens()


def _pairs_of(toks: str):
    """Pair expression over an arbitrary token-array SQL expression —
    callers that already materialized a token column pass its name so
    the corpus tokenizes ONCE, not once per LM phase."""
    return F.expr(
        f"CASE WHEN size({toks}) < 2 THEN "
        "CAST(array() AS ARRAY<STRUCT<w1: STRING, w2: STRING>>) "
        f"ELSE zip_with(slice({toks}, 1, size({toks}) - 1), "
        f"slice({toks}, 2, size({toks}) - 1), "
        "(x, y) -> struct(x AS w1, y AS w2)) END"
    )


def train_bigram_lm(
    docs: DataFrame,
    *,
    tokens_col: str | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(bigrams, contexts, vocab_size) count frames for a bigram LM.

    bigrams: (w1, w2, n) — adjacent-pair counts; contexts: (w1, n_ctx)
    — how often w1 opens a pair (derived from bigrams, no extra corpus
    scan); vocab_size: single-row (v) frame counting distinct words
    (the add-k smoothing denominator's V).

    ``tokens_col`` names an already-tokenized (empty-filtered)
    array<string> column; when given, training reads it instead of
    re-splitting ``text`` — callers that also feature-extract
    share ONE tokenization (and typically one checkpointed scan)
    across all LM phases.
    """
    toks = _toks(tokens_col)
    bigrams = (
        docs.select(F.explode(_pairs_of(toks)).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    contexts = bigrams.groupBy("w1").agg(F.sum("n").alias("n_ctx"))
    vocab_size = (
        docs.select(F.explode(F.expr(toks)).alias("w"))
        .agg(F.countDistinct("w").alias("v"))
    )
    return bigrams, contexts, vocab_size


def perplexity(
    docs: DataFrame,
    bigrams: DataFrame,
    contexts: DataFrame,
    vocab_size: DataFrame,
    *,
    k: float = 0.5,
    tokens_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_pairs, cross_entropy, ppl) per document with >= 2 tokens.

    Documents with fewer than two tokens have no bigrams and produce
    no output row (callers treat them as unscoreable, same contract as
    ``bpe.encode_corpus`` for wordless docs). ``tokens_col``: see
    ``train_bigram_lm``.
    """
    if k <= 0:
        raise ValueError("k must be > 0 (zero-count pairs need mass)")
    toks = _toks(tokens_col)
    pairs = docs.select(
        F.col("doc_id"), F.explode(_pairs_of(toks)).alias("p")
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    scored = (
        pairs.join(bigrams, ["w1", "w2"], "left")
        .join(F.broadcast(contexts), "w1", "left")
        .crossJoin(F.broadcast(vocab_size))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("n"), F.lit(0)) + F.lit(k))
                / (F.coalesce(F.col("n_ctx"), F.lit(0)) + F.lit(k) * F.col("v"))
            ).alias("logp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(-F.avg("logp"), 6).alias("cross_entropy"),
        F.round(F.exp(-F.avg("logp")), 4).alias("ppl"),
    )


