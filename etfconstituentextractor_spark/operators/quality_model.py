"""fastText-style hashed linear quality scorer (model inference as
column algebra).

The standard learned quality filter of a pretraining pipeline (CCNet's
fastText LM filter; Joulin et al. 2016's hashing trick): a document's
score is the mean over its unigram+bigram features of a weight looked
up by feature hash, squashed through a sigmoid. Training happens
offline; at corpus scale only INFERENCE runs, and with a hashed
bag-of-ngrams model that inference is pure column algebra — a single
`aggregate` HOF over the token array with an `element_at` into the
weight-vector literal. Zero Python, zero shuffle, whole-stage codegen;
at 100 TB it rides the same scan as every other per-doc feature.

Portability: the feature hash is the md5-hex-prefix bucket used
throughout the engine (Spark `conv(substr(md5..))`, DuckDB
`('0x'||substr(md5..))::BIGINT`), so a DuckDB oracle can run the
identical model. Weights are dyadic rationals (multiples of 1/256)
with |w| <= 1/4: every partial sum of < 2^45 features is exactly
representable, so the mean is bit-identical in any engine and in any
summation order — the *linear margin* can be hash-compared directly
(the sigmoid is monotone, so banding on the margin is banding on the
probability).

Reference provenance: no counterpart in the reference engine (its only
quality gate is tag-presence, ETFQuarterlyHoldingsExtractor.py:69-75);
LLM-pipeline surface row (SURVEY.md §2B).
"""

from __future__ import annotations

import hashlib
from typing import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def make_weights(n_buckets: int = 64) -> list[float]:
    """Deterministic stand-in for offline-trained weights: dyadic
    rationals in [-1/4, 1/4] derived from md5(quality-v1:i)."""
    return [
        ((int(hashlib.md5(f"quality-v1:{i}".encode()).hexdigest()[:8], 16) % 129) - 64) / 256.0
        for i in range(n_buckets)
    ]


def _features(tokens_expr: str, shingles_expr: str | None, concat_fn: str) -> str:
    # Spark spells list append `concat`, DuckDB `list_concat`
    return f"{concat_fn}({tokens_expr}, {shingles_expr})" if shingles_expr else tokens_expr


def hashed_linear_margin(
    tokens_expr: str,
    weights: Sequence[float],
    *,
    shingles_expr: str | None = None,
) -> Column:
    """Mean feature weight (pre-sigmoid margin) as one aggregate HOF.

    One fold carries (sum, count) together so the feature array —
    typically `concat(tokens, bigram_shingles)` — is evaluated ONCE
    (the operators/text.py HOF re-evaluation trap).
    """
    v = len(weights)
    wlit = f"array({', '.join(repr(w) for w in weights)})"
    feats = _features(tokens_expr, shingles_expr, "concat")
    bucket = "CAST(CAST(conv(substr(md5(t), 1, 8), 16, 10) AS BIGINT) % {v} AS INT) + 1".format(v=v)
    return F.expr(
        f"aggregate({feats}, named_struct('s', CAST(0 AS DOUBLE), 'n', 0), "
        f"(acc, t) -> named_struct('s', acc.s + element_at({wlit}, {bucket}), 'n', acc.n + 1), "
        f"acc -> IF(acc.n = 0, CAST(0 AS DOUBLE), acc.s / acc.n))"
    )


def sql_hashed_linear_margin(
    tokens_expr: str,
    weights: Sequence[float],
    *,
    shingles_expr: str | None = None,
) -> str:
    """DuckDB twin of hashed_linear_margin (identical buckets/values)."""
    v = len(weights)
    wlit = f"[{', '.join(repr(w) for w in weights)}]"
    feats = _features(tokens_expr, shingles_expr, "list_concat")
    bucket = f"CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT) % {v} AS INT) + 1"
    return (
        f"CASE WHEN len({feats}) = 0 THEN CAST(0 AS DOUBLE) ELSE "
        f"list_sum(list_transform({feats}, t -> list_extract({wlit}, {bucket}))) "
        f"/ len({feats}) END"
    )


