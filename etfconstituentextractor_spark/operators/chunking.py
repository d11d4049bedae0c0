"""Token-window document chunking (context-length preparation).

The standard pre-training / retrieval prep step: split each document
into fixed-size token windows with configurable overlap (stride <
chunk_tokens), keeping (doc_id, chunk_idx) provenance. Complements
operators/packing.py — packing concatenates SHORT docs up to a budget,
chunking splits LONG docs down to one.

Spark shape: `explode(sequence(0, n_chunks-1))` + a `slice` over the
token array — pure codegen, ZERO shuffle (pinned in tests). At 100 TB
the operator is embarrassingly parallel; the only scale lever is the
deliberate ~chunk/stride data amplification, which the caller controls.

Reference provenance: no counterpart in the reference engine;
LLM-pipeline surface (SURVEY.md §2B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def chunk_documents(
    docs: DataFrame,
    *,
    chunk_tokens: int,
    stride: int | None = None,
    min_tail_tokens: int = 1,
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_chunk_tokens) per token window
    of the space-separated ``text``.

    Window i covers tokens [i*stride, i*stride + chunk_tokens); windows
    start while i*stride < n_tokens, so every token lands in >= 1 chunk.
    Tail windows shorter than ``min_tail_tokens`` are dropped, except
    window 0 (a doc is never dropped outright). A dropped window i >= 1
    starts inside window i-1 and, being shorter than the stride-overlap
    remainder, is fully contained in it whenever stride < chunk_tokens —
    so raising the floor never loses tokens in the overlapping regime.
    """
    stride = chunk_tokens if stride is None else stride
    if chunk_tokens < 1 or stride < 1:
        raise ValueError("chunk_tokens and stride must be >= 1")
    if stride > chunk_tokens:
        raise ValueError("stride > chunk_tokens would skip tokens")
    # last window index is floor((n-1)/stride): windows start while
    # i*stride < n_tokens
    last_idx = (F.size(F.col("__toks")) - 1).cast("bigint") / F.lit(stride)
    out = (
        docs.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
        .select(
            "doc_id",
            "__toks",
            F.explode(
                F.sequence(F.lit(0), F.floor(last_idx).cast("int"))
            ).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.expr(f"slice(__toks, chunk_idx * {stride} + 1, {chunk_tokens})").alias(
                "__chunk"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.array_join("__chunk", " ").alias("chunk_text"),
            F.size("__chunk").cast("bigint").alias("n_chunk_tokens"),
        )
    )
    return out.filter(
        (F.col("n_chunk_tokens") >= min_tail_tokens) | (F.col("chunk_idx") == 0)
    )
