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


def encode_corpus(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = " ",
    broadcast_dict: bool = True,
) -> DataFrame:
    """(id, pieces, n_pieces): BPE-encode every document.

    The word-frequency insight applied to inference: the merge folds
    run over the corpus's DISTINCT words, so each merge is one codegen
    pass over a vocabulary-sized frame and the dictionary covers every
    corpus word by construction (no unseen-word fallback needed). The
    corpus itself is touched exactly twice — once to collect the
    vocabulary (one shuffle of bare words) and once to map word →
    pieces back through a broadcast join and reassemble per-document
    piece arrays in position order (one shuffle on the doc key). At
    100 TB the per-merge cost is bounded by vocabulary size, never
    corpus size; documents shuffle once, as (id, pos, pieces) rows.

    Documents with no words after the split (empty text) produce no
    output row. Each merge is a greedy left-to-right fold, as in
    the pure-Python encoder it is pinned against in tests.

    ``broadcast_dict=False`` switches the word→pieces join to a plain
    shuffle join for vocabularies too large to broadcast (a web-scale
    corpus's long-tail vocabulary can exceed executor broadcast
    budgets); the token side then shuffles on the word key — the same
    unbroadcastable-side fallback the boilerplate operator documents.
    """
    reserved = {"word", "pos", "syms"}
    if id_col in reserved or text_col in reserved:
        raise ValueError(f"id_col/text_col must not be one of {sorted(reserved)}")
    toks = F.split(F.col(text_col), delim)
    words = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
    )
    vocab = symbolize(words).localCheckpoint()
    for a, b in merges:
        vocab = _apply_merge(vocab, a, b).localCheckpoint()
    tokens = docs.select(
        F.col(id_col), F.posexplode(toks).alias("pos", "word")
    ).filter(F.col("word") != "")
    joined = tokens.join(F.broadcast(vocab) if broadcast_dict else vocab, "word")
    return (
        joined.groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                    lambda s: s["syms"],
                )
            ).alias("pieces")
        )
        .select(id_col, "pieces", F.size("pieces").cast("bigint").alias("n_pieces"))
    )
