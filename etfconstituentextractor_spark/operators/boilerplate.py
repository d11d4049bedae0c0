"""Corpus-frequency boilerplate removal (line/paragraph dedup).

The CCNet / RefinedWeb cleaning stage: a line that recurs across many
documents (cookie banners, nav chrome, copyright footers) is template
boilerplate, not content — compute each line's document frequency over
the WHOLE corpus and strip lines at or above a threshold, preserving
the order of what remains.

Reference provenance: the reference engine has no corpus-level
cleaning stage (it processes one filing at a time,
ETFQuarterlyHoldingsExtractor.py:54-132); this operator belongs to the
LLM-pipeline surface (SURVEY.md §2B) modeled on the published CCNet
(Wenzek et al., 2020) and RefinedWeb (Penedo et al., 2023) pipelines.

Scale shape (100 TB): the frequency pass shuffles ONLY per-doc-distinct
64-bit line hashes — never text. ``strip_boilerplate`` then collapses
the frequent set to ONE array row and broadcasts it into a
per-document array filter: document text never shuffles at all (zero
Exchange on the documents side). That holds whenever the number of
DISTINCT frequent lines fits a broadcast — boilerplate is by
definition few distinct strings repeated many times (CCNet's frequent
set is thousands of lines even at web scale). 64-bit hash collisions
carry the usual 2^-64 caveat.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _lines() -> Column:
    return F.split(F.col("text"), "\n")


def line_doc_frequencies(docs: DataFrame) -> DataFrame:
    """Document frequency of each distinct line of ``text``:
    (line_hash, n_docs).

    array_distinct runs per-document BEFORE the explode, so the shuffle
    carries at most one (doc, hash) pair per distinct line per doc and
    the aggregate is a plain count — no count-distinct Expand.
    """
    hashes = F.array_distinct(F.transform(_lines(), lambda s: F.xxhash64(s)))
    return (
        docs.select(F.explode(hashes).alias("line_hash"))
        .groupBy("line_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def frequent_lines(docs: DataFrame, *, min_docs: int) -> DataFrame:
    """Hashes of lines appearing in >= min_docs documents."""
    if min_docs < 2:
        raise ValueError("min_docs < 2 would strip every line")
    return (
        line_doc_frequencies(docs)
        .filter(F.col("n_docs") >= min_docs)
        .select("line_hash")
    )


def strip_boilerplate(docs: DataFrame, *, min_docs: int) -> DataFrame:
    """Broadcast-set path: all docs columns + clean_text/n_lines/n_kept,
    splitting ``text`` on newlines.

    The frequent set is aggregated to a single array row (always
    exactly one row, empty array when nothing is frequent) and
    broadcast-cross-joined in, so the per-document work is a pure
    array filter inside codegen — document text never shuffles.
    """
    bp = frequent_lines(docs, min_docs=min_docs).agg(
        F.collect_set("line_hash").alias("__bp")
    )
    kept = F.filter(
        _lines(),
        lambda s: ~F.array_contains(F.col("__bp"), F.xxhash64(s)),
    )
    return (
        docs.crossJoin(F.broadcast(bp))
        .withColumn("__kept", kept)
        .select(
            *docs.columns,
            F.array_join(F.col("__kept"), "\n").alias("clean_text"),
            F.size(_lines()).cast("bigint").alias("n_lines"),
            F.size("__kept").cast("bigint").alias("n_kept"),
        )
    )
