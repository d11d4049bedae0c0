"""BPE encoding under a fixed merge list (q81's ``bpe`` leg).

Byte-pair encoding (Sennrich et al. 2016): a word starts as its
characters plus an end-of-word mark, and each merge (a, b) in order
replaces adjacent (a, b) symbols with ``ab``, greedily left to right.

- ``symbolize``: word → array of single characters + ``</w>`` (pure
  codegen split).
- ``_apply_merge``: one greedy left-to-right fold (aggregate HOF) over
  each word's symbol array — words are short, so the O(len²) array
  rebuild is trivial and stays inside whole-stage codegen.
- ``encode_corpus``: runs the folds over the corpus's DISTINCT words
  and maps word → pieces back onto the documents.

The merge list itself is committed with the query; the pure-Python
trainer in tests/test_bpe.py derives merge lists with a deterministic
(count desc, pair lexicographic) tiebreak.

Reference provenance: no counterpart in the reference engine; this is
LLM-pipeline surface (SURVEY.md §2B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

END = "</w>"


def _q(s: str) -> str:
    """Quote a symbol as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def symbolize(words: DataFrame) -> DataFrame:
    """Add the initial symbol array: characters + the end-of-word mark."""
    # split(w, '(?!^)') yields one element per char plus a trailing ""
    # (Spark split keeps trailing empties); drop it in the same codegen
    return words.withColumn(
        "syms",
        F.expr(
            "concat(filter(split(word, '(?!^)'), x -> x != ''), "
            f"array({_q(END)}))"
        ),
    )


def _apply_merge(vocab: DataFrame, a: str, b: str) -> DataFrame:
    merged = _q(a + b)
    fold = (
        f"aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) -> "
        f"IF(size(acc) > 0 AND element_at(acc, -1) = {_q(a)} AND x = {_q(b)}, "
        f"concat(slice(acc, 1, size(acc) - 1), array({merged})), "
        f"concat(acc, array(x))))"
    )
    return vocab.withColumn("syms", F.expr(fold))


def encode_corpus(docs: DataFrame, merges: list[tuple[str, str]]) -> DataFrame:
    """(doc_id, pieces, n_pieces): BPE-encode every document's
    space-separated ``text``.

    The word-frequency insight applied to inference: the merge folds
    run over the corpus's DISTINCT words, so each merge is one codegen
    pass over a vocabulary-sized frame and the dictionary covers every
    corpus word by construction (no unseen-word fallback needed). The
    corpus itself is touched exactly twice — once to collect the
    vocabulary (one shuffle of bare words) and once to map word →
    pieces back through a broadcast join and reassemble per-document
    piece arrays in position order (one shuffle on the doc key). At
    100 TB the per-merge cost is bounded by vocabulary size, never
    corpus size; documents shuffle once, as (doc_id, pos, pieces) rows.

    Documents with no words after the split (empty text) produce no
    output row. Each merge is a greedy left-to-right fold, as in
    the pure-Python encoder it is pinned against in tests.
    """
    toks = F.split(F.col("text"), " ")
    words = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    vocab = symbolize(words).localCheckpoint()
    for a, b in merges:
        vocab = _apply_merge(vocab, a, b).localCheckpoint()
    tokens = docs.select(
        F.col("doc_id"), F.posexplode(toks).alias("pos", "word")
    ).filter(F.col("word") != "")
    return (
        tokens.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("pieces")
        )
        .select("doc_id", "pieces", F.size("pieces").cast("bigint").alias("n_pieces"))
    )
