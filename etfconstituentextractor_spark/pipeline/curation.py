"""End-to-end corpus curation: the LLM-training-data analogue of the
reference's ``run()`` orchestration (R23,
`ETFQuarterlyHoldingsExtractor.py:145-159` — fetch → filter →
extract → accumulate-with-dedup → save), recast over the engine's own
operators as ONE composition:

    quality-score → decontaminate → exact dedup → near-dup grouping
    → mixture sampling → survivors

Every stage is an already-tested engine piece (operators/text.py
expression builders, the q60 keep-first window, q62's banded LSH
pairs, operators/components.py clustering, operators/contamination.py
benchmark overlap, operators/sampling.py deterministic mixing); this
module only wires them and assigns each document a single, auditable
verdict. Like the reference's pipeline, the whole thing is lazy until
an action — but distributed, and with drop DECISIONS as data instead
of silently overwritten dict keys (:158).

Scale posture: every shuffle in the composition carries hashes, keys,
or band signatures — never document text except the one fanout
repartition before shingling; the clustering step's iterative joins
run on the (tiny) near-dup pair set only; the contamination gate
broadcasts the (tiny) benchmark n-gram set; the mixture gate is a
pure hash filter.

Drop-reason precedence (first applicable wins, so each doc has
exactly one verdict):
1. ``quality``      — fails the length/stopword-ratio gate;
2. ``contaminated`` — shares >= `contaminated_at` distinct n-grams
   with the benchmark set (checked before dedup so a benchmark copy
   can never become a group's kept representative);
3. ``exact_dup``    — identical content hash, not the smallest doc_id
   among eligible docs;
4. ``near_dup``     — in a near-dup group, not the representative;
5. ``downsampled``  — survived every gate but lost the deterministic
   mixture draw for its stratum;
6. ``kept``.
"""

from __future__ import annotations

from collections.abc import Mapping
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.components import connected_components
from etfconstituentextractor_spark.operators.contamination import ngram_contamination
from etfconstituentextractor_spark.operators.sampling import (
    hash_bucket,
    rate_threshold,
)
from etfconstituentextractor_spark.operators.text import STOPWORDS, stopword_hits
from etfconstituentextractor_spark.plans.llm_dedup import lsh_pairs


def curate(
    docs: DataFrame,
    min_tokens: int = 15,
    eval_docs: Optional[DataFrame] = None,
    contaminated_at: int = 8,
    mix_rates: Optional[Mapping[str, float]] = None,
    strat_col: str = "lang",
) -> DataFrame:
    """Audit frame for a (doc_id, text, ...) corpus: every input doc,
    its quality features, gate flags, and a single ``verdict``.

    Survivors are ``verdict = 'kept'``; everything else names the
    first gate that dropped it. The quality gate keeps docs of at
    least ``min_tokens`` tokens, 2% or more of them stopwords. Optional gates engage when their
    inputs are provided: ``eval_docs`` (a (doc_id, text) benchmark
    frame) enables decontamination, ``mix_rates`` (stratum → keep
    rate over ``strat_col``) enables mixture sampling. Expensive
    stages only ever see documents every earlier, cheaper gate
    passed — the stage ordering a real corpus pipeline uses.
    """
    # __toks: one split evaluation per row shared by the token count
    # and the stopword filter (round-14 optimization, guide §1.2 —
    # multi-reference aliases survive CollapseProject); dropped by the
    # select so the token array never rides the content_hash shuffle.
    featured = docs.withColumn("__toks", F.expr("split(text, ' ')")).select(
        "doc_id",
        "text",
        *([strat_col] if mix_rates is not None else []),
        F.expr("size(__toks)").alias("n_tokens"),
        stopword_hits("__toks", STOPWORDS).alias("stop_hits"),
        F.md5("text").alias("content_hash"),
    ).withColumn(
        "quality_pass",
        (F.col("n_tokens") >= min_tokens)
        & (F.col("stop_hits") / F.col("n_tokens") >= 0.02),
    )

    if eval_docs is not None:
        # Materialize ONLY the contaminated doc_ids: the flagged frame
        # feeds two downstream branches (the survivor→LSH side and the
        # final audit join), and an un-materialized contamination stage
        # re-runs the whole benchmark-overlap computation per branch
        # (measured +1.1s of the q99 stage budget at sf0.1, round 11).
        # The contaminated SET — unlike the per-doc overlap stats — is
        # bounded by benchmark near-duplicates, the same smallness
        # argument that broadcasts the benchmark grams themselves, so
        # it checkpoints tiny and BROADCASTS: the corpus-side frame now
        # never shuffles for this gate at any scale (the previous
        # row-per-doc left join was an O(N)-to-O(N) join Spark could
        # only avoid shuffling while AQE saw the stats side as small).
        cont_ids = (
            ngram_contamination(
                featured.filter(F.col("quality_pass")).select("doc_id", "text"),
                eval_docs,
                contaminated_at=contaminated_at,
            )
            .filter(F.col("verdict") == "contaminated")
            .select("doc_id", F.lit(True).alias("contaminated"))
            .coalesce(8)
            .localCheckpoint()
        )
        featured = featured.join(F.broadcast(cont_ids), "doc_id", "left").withColumn(
            "contaminated", F.coalesce(F.col("contaminated"), F.lit(False))
        )
    else:
        featured = featured.withColumn("contaminated", F.lit(False))

    eligible = F.col("quality_pass") & ~F.col("contaminated")
    w_exact = W.partitionBy("content_hash")
    flagged = featured.withColumn(
        "is_exact_keeper",
        ~eligible  # exact dedup judged among eligible docs only
        | (F.col("doc_id") == F.min(F.when(eligible, F.col("doc_id"))).over(w_exact)),
    )

    survivors_in = flagged.filter(eligible & F.col("is_exact_keeper"))
    pairs = lsh_pairs(survivors_in.select("doc_id", "text"))
    # near-dup pair graphs are tiny relative to the corpus: pin few
    # shuffle partitions for the propagation loop (components.py)
    labels = connected_components(
        pairs, src="doc_a", dst="doc_b", shuffle_partitions=8
    ).select(F.col("node").alias("doc_id"), "component")

    if mix_rates is not None:
        sampled = hash_bucket("doc_id") < rate_threshold(mix_rates, strat_col)
    else:
        sampled = F.lit(True)

    audited = flagged.join(labels, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "content_hash",
        "quality_pass",
        "contaminated",
        "is_exact_keeper",
        "component",
        sampled.alias("mix_sampled"),
        F.when(~F.col("quality_pass"), F.lit("quality"))
        .when(F.col("contaminated"), F.lit("contaminated"))
        .when(~F.col("is_exact_keeper"), F.lit("exact_dup"))
        .when(
            F.col("component").isNotNull() & (F.col("component") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .when(~sampled, F.lit("downsampled"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    )
    return audited


