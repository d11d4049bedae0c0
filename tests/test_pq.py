"""Product quantization (operators/pq.py): distributed encode must
reproduce a from-scratch scalar Python replay bit-for-bit (training
determinism + fold-order discipline), ADC search must rank by the
same math, and the encode stage must stay a pure codegen map — no
shuffle, no Python."""

from __future__ import annotations

import numpy as np
import pytest

from etfconstituentextractor_spark.operators.pq import (
    _codebook_lit,
    _hash_order_sample,
    pq_adc_topk,
    pq_encode,
    py_pq_oracle,
    train_pq_codebooks,
)
from etfconstituentextractor_spark.sources.tables import load

M, KSUB, SAMPLE_N, ITERS = 8, 16, 256, 3


@pytest.fixture(scope="module")
def pq_setup(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    cb = train_pq_codebooks(emb, m=M, ksub=KSUB, sample_n=SAMPLE_N, iters=ITERS)
    rows = pq_encode(emb, cb).select("vec_id", "embedding", "pq_codes").collect()
    return emb, cb, rows


def test_pq_encode_matches_python_oracle(spark, sf_dir, pq_setup):
    emb, cb, rows = pq_setup
    sample = _hash_order_sample(emb, "vec_id", "embedding", SAMPLE_N)
    vectors = [(r["vec_id"], list(r["embedding"])) for r in rows]
    books_py, codes_py = py_pq_oracle(sample, vectors, M, KSUB, iters=ITERS)
    # training: numpy vs scalar replay agree to fp noise (np.mean is
    # pairwise-summed, the replay folds left-to-right)
    assert np.allclose(np.array(books_py), cb)
    # encoding: BIT-IDENTICAL codes — the fold order is pinned in both
    got = {r["vec_id"]: list(r["pq_codes"]) for r in rows}
    assert got == codes_py
    # every code addresses a real centroid
    assert all(0 <= c < KSUB for codes in got.values() for c in codes)


def test_pq_adc_search_ranks_by_lut_math(spark, pq_setup):
    emb, cb, rows = pq_setup
    vectors = [(r["vec_id"], list(r["embedding"])) for r in rows]
    codes = {r["vec_id"]: list(r["pq_codes"]) for r in rows}
    q = list(vectors[7][1])
    top = pq_adc_topk(pq_encode(emb, cb), q, cb, k=10).collect()
    # python replay of the ADC distance for every row
    qa = np.asarray(q)
    dsub = len(q) // M
    luts = np.array(
        [((cb[j] - qa[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1) for j in range(M)]
    )
    adc = {
        vid: round(sum(luts[j][cs[j]] for j in range(M)), 10)
        for vid, cs in codes.items()
    }
    want = sorted(adc.items(), key=lambda kv: (kv[1], kv[0]))[:10]
    assert [(r.vec_id, r.adc_dist) for r in top] == want
    # a vector present in the corpus finds itself first
    assert top[0].vec_id == vectors[7][0]
    # lossy but useful: recall@10 vs exact L2 stays above the floor
    X = np.array([v for _, v in vectors])
    ids = [i for i, _ in vectors]
    exact = {
        ids[i] for i in np.argsort(((X - qa) ** 2).sum(axis=1), kind="stable")[:10]
    }
    assert len(exact & {r.vec_id for r in top}) / 10 >= 0.2


def test_pq_encode_plan_is_pure_map(spark, sf_dir, pq_setup):
    emb, cb, _ = pq_setup
    plan = pq_encode(emb, cb)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    topk_plan = (
        pq_adc_topk(pq_encode(emb, cb), [0.0] * 64, cb, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in topk_plan


def test_pq_guards(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="ksub"):
        train_pq_codebooks(emb, m=8, ksub=1)
    with pytest.raises(ValueError, match="divisible"):
        train_pq_codebooks(emb, m=7, ksub=4, sample_n=64)
    cb = train_pq_codebooks(emb, m=8, ksub=4, sample_n=32, iters=1)
    with pytest.raises(ValueError, match="query dim"):
        pq_adc_topk(pq_encode(emb, cb), [0.0] * 63, cb)


def test_pq_adc_join_topk_matches_per_query_driver_path(spark, sf_dir):
    """The in-plan LUT-join ADC (q70 'pq' leg) must rank exactly like
    the driver-loop pq_adc_topk for every query, modulo its negate +
    6dp display rounding, and must broadcast the tiny query frame —
    the encoded side never shuffles."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.operators.pq import pq_adc_join_topk

    emb = load(spark, sf_dir, "embeddings")
    cb = train_pq_codebooks(emb, m=4, ksub=8, sample_n=8, iters=0)
    enc = pq_encode(emb.filter(F.col("vec_id") >= 10), cb, round_dp=9)
    queries = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        )
    )
    got = (
        pq_adc_join_topk(enc, queries, cb, k=5, qid_col="vec_id", qvec_col="v")
        .collect()
    )
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rn"], r["candidate_id"], r["score"]))
    qvecs = {r["vec_id"]: list(r["v"]) for r in queries.collect()}
    assert set(by_q) == set(qvecs)
    for qid, qv in qvecs.items():
        want = pq_adc_topk(enc, qv, cb, k=5).collect()
        got_ids = [c for _, c, _ in sorted(by_q[qid])]
        assert got_ids == [r["vec_id"] for r in want], qid
        # scores: negated ADC distance at 6dp (LUT entries rounded 9dp
        # first, so they differ from the unrounded path only in the
        # last digits)
        for (_, _, s), w in zip(sorted(by_q[qid]), want):
            assert abs(-s - w["adc_dist"]) < 1e-6

    plan = (
        pq_adc_join_topk(enc, queries, cb, k=5, qid_col="vec_id", qvec_col="v")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_codebook_literal_round_trips_non_finite(spark):
    """A codebook holding inf/-inf/nan still plans, and every value —
    finite ones included, bit for bit — reads back unchanged."""
    cb = np.array([[1.5, np.inf, -0.0], [-np.inf, np.nan, 5e-324]])
    got = np.array(
        spark.range(1).select(_codebook_lit(cb).alias("cb")).first()["cb"], dtype=float
    )
    assert np.array_equal(got, cb, equal_nan=True)
    assert np.array_equal(np.signbit(got), np.signbit(cb))  # -0.0 stays negative
