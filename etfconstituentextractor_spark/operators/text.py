"""Text-analysis expression builders (SURVEY.md §2B "LLM-pipeline").

All Spark-side expressions are built-in higher-order functions
(transform/filter/aggregate) — JVM-side, codegen'd, no Python
boundary. Each builder has a ``sql_*`` twin producing the equivalent
DuckDB SQL fragment so queries and oracles stay in lockstep.

Portability notes (probed against DuckDB 1.x):
- md5() produces identical lowercase hex in both engines — it is the
  engine's portable deterministic hash (for minhash/simhash/ids).
- hex→int: Spark ``conv(s,16,10)``; DuckDB ``('0x'||s)::BIGINT``.
- DuckDB ``list_slice(l, i, j)`` is inclusive of j; Spark
  ``slice(l, i, n)`` takes a length — shingle builders account for it.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: tiny per-language stopword lists for the n-gram/stopword language
#: heuristic (deterministic; linguistic accuracy is not the contract)
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "is", "of", "and"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "les", "et", "une", "dans"),
    "zh": ("的", "是", "了", "在", "我"),
}

STOPWORDS = LANG_STOPWORDS["en"]


def nonempty_tokens() -> str:
    """THE corpus word-tokenization expression over ``text``
    (whitespace split, empties dropped) as a SQL fragment — one
    definition for every operator that tokenizes this way (substring
    dedup, the q80 LM frame): a tokenization change must happen in
    one place."""
    return "filter(split(text, ' '), x -> x != '')"


def tokens() -> Column:
    """Whitespace tokenization of ``text`` (corpus is single-space
    separated)."""
    return F.split(F.col("text"), " ")


def sql_tokens() -> str:
    return "string_split(text, ' ')"


def spark_shingles(tokens_expr: str, n: int = 3) -> str:
    """Spark SQL string for word n-gram shingles; <n tokens → empty
    array.

    Spelled as a zip_with chain over n shifted slices rather than
    ``transform(sequence(...), i -> slice(tokens, i, n))``: free
    subexpressions inside a higher-order-function lambda re-evaluate
    PER ELEMENT, so the transform spelling re-runs the whole
    tokens_expr (typically a split) once per shingle — O(len²) per
    document (measured 3x slower end-to-end at sf0.1). zip_with's
    inputs are top-level expressions, evaluated once. The size guard
    matters: a short doc must yield [], and slice lengths must stay
    positive."""
    m = f"size({tokens_expr}) - {n - 1}"  # number of shingles
    acc = f"slice({tokens_expr}, 1, {m})"
    for k in range(2, n + 1):
        acc = (
            f"zip_with({acc}, slice({tokens_expr}, {k}, {m}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    return f"CASE WHEN size({tokens_expr}) < {n} THEN array() ELSE {acc} END"


def shingles(tokens_expr: str, n: int = 3) -> Column:
    return F.expr(spark_shingles(tokens_expr, n))


def sql_shingles(tokens_expr: str, n: int = 3) -> str:
    return (
        f"CASE WHEN len({tokens_expr}) < {n} THEN [] "
        f"ELSE list_transform(range(1, len({tokens_expr}) - {n - 2}), "
        f"i -> array_to_string(list_slice({tokens_expr}, i, i + {n - 1}), ' ')) END"
    )


def _sql_quote_list(words: tuple[str, ...]) -> str:
    return ", ".join("'" + w.replace("'", "''") + "'" for w in words)


def _spark_quote_list(words: tuple[str, ...]) -> str:
    # Spark SQL string literals escape with backslash (not doubled
    # quotes) — escape both so wordlists with apostrophes (fr "d'")
    # stay valid and agree with the DuckDB twin.
    return ", ".join(
        "'" + w.replace("\\", "\\\\").replace("'", "\\'") + "'" for w in words
    )


def stopword_hits(tokens_expr: str, words: tuple[str, ...]) -> Column:
    """Count (with multiplicity) of tokens in the wordlist — explicit
    filter+size rather than array_intersect, whose dedup semantics
    differ between engines."""
    return F.expr(f"size(filter({tokens_expr}, t -> t IN ({_spark_quote_list(words)})))")


def sql_stopword_hits(tokens_expr: str, words: tuple[str, ...]) -> str:
    return (
        f"len(list_filter({tokens_expr}, t -> t IN ({_sql_quote_list(words)})))"
    )


def minhash(shingles_expr: str) -> Column:
    """Min of md5 over shingles — one LSH band signature.
    Empty shingle set → NULL (array_min of empty)."""
    return F.expr(f"array_min(transform({shingles_expr}, s -> md5(s)))")


def sql_minhash(shingles_expr: str) -> str:
    return f"list_min(list_transform({shingles_expr}, s -> md5(s)))"


#: hex chars whose high nibble bit is set — the portable "random bit"
#: extracted from an md5 hex digit
_HI = "'8','9','a','b','c','d','e','f'"


def _simhash_hash_expr(n_bits: int) -> str:
    """One hex digit feeds one fingerprint bit: a single md5 covers 32
    bits; wider fingerprints (production simhash is 64-bit) concatenate
    a second salted md5 — both engines build the identical string."""
    if n_bits <= 32:
        return "md5(t)"
    if n_bits <= 64:
        return "concat(md5(t), md5(concat('simhash2|', t)))"
    raise ValueError(f"n_bits must be <= 64, got {n_bits}")


def simhash_bits(tokens_expr: str, n_bits: int = 16) -> Column:
    """SimHash over token md5s: bit i of the fingerprint is the sign of
    the sum over tokens of ±1 according to hex digit i of md5(token)
    (digits 33-64 come from a second salted md5). Returns the
    fingerprint as an n_bits-char bitstring.

    Spelled as ONE aggregate pass carrying all n_bits counters in an
    array accumulator: the md5 transform is the aggregate's input,
    evaluated once per row. The naive per-bit spelling (n_bits
    separate aggregates, as the DuckDB twin keeps for clarity — same
    values) re-evaluates the md5 array n_bits times because
    higher-order lambdas re-run their whole subtree per element, and
    an intermediate column doesn't help: CollapseProject inlines
    single-reference projections regardless of cost."""
    return F.expr(
        f"aggregate(transform({tokens_expr}, t -> {_simhash_hash_expr(n_bits)}), "
        f"array_repeat(0, {n_bits}), "
        f"(acc, h) -> zip_with(acc, sequence(1, {n_bits}), (a, i) -> "
        f"a + (CASE WHEN substring(h, i, 1) IN ({_HI}) THEN 1 ELSE -1 END)), "
        f"acc -> array_join(transform(acc, c -> CASE WHEN c >= 0 THEN '1' ELSE '0' END), ''))"
    )


def sql_simhash_bits(tokens_expr: str, n_bits: int = 16) -> str:
    # coalesce(..., 0): DuckDB list_sum([]) is NULL while Spark's
    # aggregate(..., 0, ...) yields 0 — both engines must agree that an
    # empty token array fingerprints as all-'1' (sum 0 >= 0).
    h = _simhash_hash_expr(n_bits)
    return (
        f"array_to_string(list_transform(range(1, {n_bits + 1}), i -> "
        f"CASE WHEN coalesce(list_sum(list_transform(list_transform({tokens_expr}, t -> {h}), "
        f"h -> CASE WHEN substr(h, i, 1) IN ({_HI}) THEN 1 ELSE -1 END)), 0) >= 0 "
        f"THEN '1' ELSE '0' END), '')"
    )


def jaccard(a_expr: str, b_expr: str) -> Column:
    """Jaccard similarity of two string arrays on DISTINCT elements,
    spelled with explicit filter/contains (engine-neutral dedup)."""
    return F.expr(
        f"round("
        f"size(filter(array_distinct({a_expr}), x -> array_contains({b_expr}, x))) / "
        f"CAST(size(array_distinct({a_expr})) + size(array_distinct({b_expr})) "
        f" - size(filter(array_distinct({a_expr}), x -> array_contains({b_expr}, x))) AS DOUBLE)"
        f", 6)"
    )


def sql_jaccard(a_expr: str, b_expr: str) -> str:
    inter = f"len(list_filter(list_distinct({a_expr}), x -> list_contains({b_expr}, x)))"
    return (
        f"round({inter} / CAST(len(list_distinct({a_expr})) + len(list_distinct({b_expr})) "
        f"- {inter} AS DOUBLE), 6)"
    )


def jaccard_predistinct(a_expr: str, b_expr: str) -> Column:
    """Jaccard over arrays ALREADY deduplicated by the caller.
    ``array_intersect`` builds a hash set — O(|a|+|b|) per pair versus
    the O(|a|·|b|) filter/contains scan — which is what makes an
    all-pairs-within-block verify stage survive large blocks. Both
    engines' intersect dedup semantics coincide on distinct inputs."""
    inter = f"size(array_intersect({a_expr}, {b_expr}))"
    return F.expr(
        f"round({inter} / CAST(size({a_expr}) + size({b_expr}) - {inter} AS DOUBLE), 6)"
    )


def sql_jaccard_predistinct(a_expr: str, b_expr: str) -> str:
    inter = f"len(list_intersect({a_expr}, {b_expr}))"
    return (
        f"round({inter} / CAST(len({a_expr}) + len({b_expr}) - {inter} AS DOUBLE), 6)"
    )


#: BPE-ish pre-tokenization pattern: letter runs, digit runs, single
#: other-glyphs (CJK chars split per glyph). Character classes only —
#: identical semantics under Java regex (Spark) and RE2 (DuckDB).
SUBTOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def subtoken_count() -> Column:
    """Count of BPE-style subtokens of ``text`` (the token-count
    feature a real pipeline computes with a learned tokenizer; the
    regex is the deterministic stand-in both engines evaluate
    identically)."""
    return F.expr(f"size(regexp_extract_all(text, '{SUBTOKEN_PATTERN}', 0))")


def sql_subtoken_count() -> str:
    return f"len(regexp_extract_all(text, '{SUBTOKEN_PATTERN}'))"


_FP_MOD = 1_000_000_007


def rolling_fingerprint(tokens_expr: str) -> Column:
    """Rabin-Karp-style rolling hash over the token stream: left fold
    of acc*31 + hex64(md5(token)) mod 1e9+7. One aggregate pass; the
    per-token md5 inside the lambda is per-element WORK (not a
    re-evaluated free subexpression — see spark_shingles note)."""
    return F.expr(
        f"aggregate({tokens_expr}, 0L, (acc, t) -> "
        f"(acc * 31 + CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)) % {_FP_MOD})"
    )


def sql_rolling_fingerprint(tokens_expr: str) -> str:
    # DuckDB list_reduce has no init value — prepending 0 makes the
    # first fold step (0*31 + h1) % M, identical to Spark's aggregate.
    return (
        f"list_reduce(list_prepend(0, list_transform({tokens_expr}, "
        f"x -> ('0x' || substr(md5(x), 1, 8))::BIGINT)), "
        f"(acc, h) -> (acc * 31 + h) % {_FP_MOD})"
    )


def hex_to_long(hex_expr: str) -> Column:
    """First-class portable hex→int (≤15 hex chars)."""
    return F.expr(f"CAST(conv({hex_expr}, 16, 10) AS BIGINT)")


def sql_hex_to_long(hex_expr: str) -> str:
    return f"CAST('0x' || {hex_expr} AS BIGINT)"


def simhash_pairs(
    docs,
    *,
    max_hamming: int = 3,
    n_bits: int = 16,
    n_bands: int = 4,
):
    """SimHash near-dup candidate pairs: documents whose fingerprints
    over the space-separated tokens of ``text`` differ in at most
    ``max_hamming`` bits (SURVEY.md §2B "LLM-pipeline
    — near-dup": the SimHash member of the dedup family, beside q62's
    MinHash-LSH and q63's exact Jaccard).

    Banded blocking, never all-pairs: the n_bits fingerprint splits
    into n_bands equal substrings and docs bucket-join per band. By
    pigeonhole the blocking is COMPLETE for max_hamming <= n_bands - 1
    (d differing bits cannot touch all n_bands bands), which the unit
    test pins against brute force. A pair sharing several bands emits
    once: only the FIRST equal band keeps it (both fingerprints ride
    the joined row, so "no earlier band equal" is a codegen predicate
    — no distinct shuffle).

    Plan shape: one fingerprint scan, explode to n_bands rows per doc
    (banded signatures only — text never shuffles), equi-join on
    (band_idx, band_value), hamming verify + first-band dedup as
    codegen scalars. All built-ins — no Python anywhere.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banded blocking is only complete for max_hamming <= n_bands - 1 "
            f"(got max_hamming={max_hamming}, n_bands={n_bands})"
        )
    if n_bits % n_bands:
        raise ValueError(f"n_bands={n_bands} must divide n_bits={n_bits}")
    w = n_bits // n_bands

    fp = docs.select("doc_id", simhash_bits("split(text, ' ')", n_bits).alias("fp"))
    banded = fp.select(
        "doc_id",
        "fp",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"i -> struct(i AS band, substring(fp, i * {w} + 1, {w}) AS sig))"
            )
        ).alias("b"),
    ).select("doc_id", "fp", F.col("b.band").alias("band"), F.col("b.sig").alias("sig"))

    a, b = banded.alias("a"), banded.alias("b")
    hamming = F.expr(
        f"aggregate(sequence(1, {n_bits}), 0, (acc, i) -> "
        f"acc + IF(substring(a.fp, i, 1) <> substring(b.fp, i, 1), 1, 0))"
    )
    first_band = F.expr(
        f"a.band = aggregate(sequence({n_bands - 1}, 0, -1), {n_bands - 1}, (acc, i) -> "
        f"IF(substring(a.fp, i * {w} + 1, {w}) = substring(b.fp, i * {w} + 1, {w}), i, acc))"
    )
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .withColumn("hamming", hamming)
        .filter((F.col("hamming") <= max_hamming) & first_band)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )


