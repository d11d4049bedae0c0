"""PII detection and redaction over text columns — the scrub stage of
a training-data pipeline.

Regex-only (emails, phone numbers, SSN-style ids, IPv4 addresses,
16-digit card-style numbers): entirely built-in `regexp_count` /
`regexp_replace` expressions, so the whole stage runs inside
whole-stage codegen — zero Python, zero shuffle, linear scan. That is
the correct 100 TB shape for pattern-based scrubbing; an ML-based NER
pass would ride the same `mapInPandas` plumbing as the multimodal
decode stage (`plans/multimodal.py`) and is out of scope here.

No reference counterpart (the reference republishes scraped filings
verbatim); SURVEY.md §2B "LLM-pipeline" tier. The synthetic
`documents` corpus contains no PII-shaped strings (verified: zero
digits), so q84 (`plans/llm_text.py`) plants PII-shaped text in both
engines before scrubbing, and the planted-fixture unit tests
(`tests/test_pii.py`) cover each pattern.

Pattern order matters when redacting: longer/more-specific patterns
run first so a 16-digit card number is not first mangled by the
phone pattern, and an SSN is not half-eaten by the generic number
rules. Counting uses the same order on the ORIGINAL text, so counts
and redactions agree.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: (name, regex, replacement-token) — order is the redaction order.
#: Patterns deliberately stay in the Java∩RE2 common subset (no
#: backreferences, no lookaround) so the DuckDB oracle of q84 can run
#: the IDENTICAL pattern strings: the 16-digit card rule spells
#: "consistent separator" as an alternation ('1111 2222-3333 4444'
#: stays out) rather than the backreference a Java-only regex would
#: use.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("card", r"\b(?:\d{4}(?: \d{4}){3}|\d{4}(?:-\d{4}){3}|\d{16})\b", "[CARD]"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "[SSN]"),
    ("phone", r"\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b", "[PHONE]"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
)


def pii_counts() -> Column:
    """Struct of per-category match counts on the original ``text``."""
    return F.struct(
        *[
            F.regexp_count(F.col("text"), F.lit(pat)).alias(name)
            for name, pat, _ in PII_PATTERNS
        ]
    ).alias("pii_counts")


def redact_pii() -> Column:
    """``text`` with every PII match replaced by its category token.

    Idempotent: replacement tokens contain no digits or '@', so a
    second pass matches nothing.
    """
    col = F.col("text")
    for _, pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return col


def scrub(df: DataFrame) -> DataFrame:
    """Append `pii_counts` (struct), `pii_total`, and `text_redacted`.

    One projection — Catalyst keeps all patterns in a single codegen
    stage over one scan of the column.
    """
    counts = pii_counts()
    total = None
    for name, _, _ in PII_PATTERNS:
        c = F.col("pii_counts")[name]
        total = c if total is None else total + c
    return (
        df.withColumn("pii_counts", counts)
        .withColumn("pii_total", total)
        .withColumn("text_redacted", redact_pii())
    )
