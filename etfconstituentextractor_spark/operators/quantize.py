"""Int8 embedding quantization: the storage/bandwidth lever for
similarity search at corpus scale (SURVEY.md §2B "LLM-pipeline —
similarity search" adjunct; no reference counterpart).

A 100 TB embedding store is 4× smaller in int8, and the candidate
scan of an ANN search becomes integer arithmetic. Symmetric per-vector
scalar quantization: ``scale = max(|x|)``, ``q_i = round(x_i / scale ·
127)`` clamped to [-127, 127]. The payoff for COSINE search is that
the per-vector scales cancel:

    cos(q_a·s_a, q_b·s_b) = dot(q_a, q_b) / (‖q_a‖·‖q_b‖)

so ranking needs only the int8 arrays — no dequantization, no scale
column in the hot path (the scale matters only for reconstructing
values). The unit tests pin the reconstruction error bound
(≤ scale/254 per element) and recall@k of the quantized ranking
against the exact float ranking.

Everything is built-in higher-order functions (transform / zip_with /
aggregate) — JVM-side whole-stage codegen, no Python, no shuffle
beyond the consumer's own top-k window. Registry is at the driver's
50-query cap, so the operator is pytest-verified (its consumer path —
brute-force cosine top-k — is the already-registered q70 shape).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

#: quantization range: symmetric, zero-preserving.
_QMAX = 127


def quantize_int8(df: DataFrame, vec_col: str = "v") -> DataFrame:
    """Append ``scale`` (double) and ``q`` (array<tinyint>) for the
    float-array column ``vec_col``. A zero vector gets scale 0 and an
    all-zero code (dequantizes back to zeros)."""
    scale = F.expr(f"array_max(transform({vec_col}, x -> abs(CAST(x AS DOUBLE))))")
    q = F.expr(
        f"transform({vec_col}, x -> CAST(greatest(-{_QMAX}, least({_QMAX}, "
        f"round(CAST(x AS DOUBLE) / nullif(scale, 0D) * {_QMAX}))) AS TINYINT))"
    )
    zeros = F.expr(f"transform({vec_col}, x -> CAST(0 AS TINYINT))")
    return df.withColumn("scale", scale).withColumn(
        "q", F.when(F.col("scale") == 0, zeros).otherwise(q)
    )


def dequantize(df: DataFrame, q_col: str = "q", scale_col: str = "scale") -> DataFrame:
    """Append ``deq`` — the reconstructed float vector (max abs error
    per element: scale / (2·127))."""
    return df.withColumn(
        "deq", F.expr(f"transform({q_col}, x -> CAST(x AS DOUBLE) * {scale_col} / {_QMAX})")
    )


def int8_cosine_topk(candidates: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Brute-force cosine top-k over QUANTIZED vectors: the scales
    cancel, so scoring is integer dot products over the int8 codes.

    candidates: (id, q array<tinyint>); queries: (qid, q) — the tiny
    side, broadcast; candidates never shuffle before the per-query
    rank window. Integer products accumulate in BIGINT (dim·127² per
    term — overflow-free to ~5·10¹⁴ dims).
    """
    # Norms are per-VECTOR, so compute them once per side BEFORE the
    # pair join instead of re-folding both 64-element arrays on every
    # (candidate, query) pair as the old spelling did (round 15, guide
    # §1.2 "don't compute things you throw away" — the per-pair work
    # drops from 3 interpreted folds to 1). sqrt of an exact BIGINT
    # sum is the identical double either way, and the divisor keeps
    # the candidate-norm × query-norm multiply order, so cos_q is
    # bit-identical.
    nrm = "sqrt(aggregate(transform({c}, x -> CAST(x AS BIGINT) * x), 0L, (acc, x) -> acc + x))"
    qq = F.broadcast(
        queries.select(
            F.col("qid").alias("__qid"),
            F.col("q").alias("__qv"),
            F.expr(nrm.format(c="q")).alias("__qn"),
        )
    )
    cand = candidates.select(
        F.col("id").alias("candidate_id"),
        F.col("q").alias("__cv"),
        F.expr(nrm.format(c="q")).alias("__cn"),
    )
    # integer dot via the Arrow kernel (round 15): int64 addition is
    # exact, so the vectorized sum is bit-identical to the JVM fold
    from etfconstituentextractor_spark.operators.veckernel import append_pair_dot_i64

    paired = append_pair_dot_i64(cand.crossJoin(qq), "__cv", "__qv", "__dot")
    cos = F.round(F.col("__dot") / (F.col("__cn") * F.col("__qn")), 9)
    w = W.partitionBy("qid").orderBy(
        F.col("cos_q").desc(), F.col("candidate_id")
    )
    return (
        paired.select(
            F.col("__qid").alias("qid"),
            "candidate_id",
            cos.alias("cos_q"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
