"""BM25 lexical retrieval as a reusable operator (SURVEY.md §2B
"LLM-pipeline — lexical retrieval"; consumed by the registered
`q73_text_bm25_topk` and property-fuzzed against a from-scratch Python
implementation in tests/test_property_parity.py).

Okapi BM25 (k1, b):

    score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    idf(t)      = ln((N − df + 0.5)/(df + 0.5) + 1)

Scale posture: exploded tokens are filtered to the (tiny, literal)
query-term set BEFORE the only data shuffle — the groupBy(doc, term)
carries corpus HITS, not the corpus; corpus stats (N, avgdl) and
per-term document frequencies join back as broadcast scalar frames;
the per-query top-k window gets Catalyst's partial WindowGroupLimit
pre-prune. No driver collect anywhere.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def bm25_topk(
    docs: DataFrame,
    queries: Mapping[str, Sequence[str]],
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents per named query by BM25 over the space-separated
    tokens of ``text``.

    Returns (query_id, doc_id, score, rn); scores round to 6 dp BEFORE
    ranking (engine-parity convention — rank decisions are identical
    across engines despite float-summation order), ties break on
    doc_id.
    """
    spark = docs.sparkSession
    d = docs.select("doc_id", F.split("text", " ").alias("toks")).withColumn(
        "dl", F.size("toks").cast("bigint")
    )

    all_terms = sorted({t for ts in queries.values() for t in ts})
    stats = d.agg(F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl"))
    tf = (
        d.select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok").isin(all_terms))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    qterms = spark.createDataFrame(
        [(qid, t) for qid, terms in sorted(queries.items()) for t in terms],
        "query_id string, tok string",
    )
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    term_score = (
        idf
        * F.col("tf")
        * (k1 + 1)
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
    )
    scored = (
        tf.join(F.broadcast(qterms), "tok")
        .join(F.broadcast(dfreq), "tok")
        .join(d.select("doc_id", "dl"), "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(term_score), 6).cast("double").alias("score"))
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
        .select("query_id", "doc_id", "score", "rn")
    )


def rrf_fuse(
    ranked: Sequence[DataFrame],
    *,
    k_rrf: int = 60,
    top_k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion over N ranked lists (Cormack/Clarke/
    Buettcher 2009): fused(d) = Σ_lists 1/(k_rrf + rank_list(d)),
    the standard way production retrieval fuses lexical (BM25) and
    vector (cosine) rankings without score calibration — only RANKS
    cross the fusion boundary, so the two sides' score scales never
    need reconciling.

    Inputs carry (query_id, doc_id, rn); a document absent from a
    list simply contributes nothing for it. The fused score is a sum
    of exact small-integer reciprocals (identical doubles in any
    engine; IEEE addition is commutative so 2-list sums are
    order-free), rounded to 9 dp before ranking per the module
    convention; ties break on doc_id.

    Scale posture: each input is already a per-query top-N (tiny);
    the union + groupBy shuffles only (query_id, doc_id, rn) rows —
    fusion cost is O(queries × N × lists) regardless of corpus size.
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    if k_rrf < 1:
        raise ValueError(f"k_rrf must be >= 1, got {k_rrf}")
    allr = None
    for df in ranked:
        part = df.select("query_id", "doc_id", "rn")
        allr = part if allr is None else allr.unionByName(part)
    fused = allr.groupBy("query_id", "doc_id").agg(
        F.round(F.sum(1.0 / (F.lit(k_rrf) + F.col("rn"))), 9).cast("double").alias("score")
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= top_k)
        .select("query_id", "doc_id", "score", "rn")
    )
