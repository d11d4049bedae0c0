"""Fixed-point PQ (operators/pq_fixedpoint.py): the distributed,
in-plan-trained twin of operators/pq.py. A from-scratch numpy
integer replay must reproduce the trained codebook, the codes, and
the ADC top-k bit-for-bit (q74's DuckDB oracle is the THIRD
independent engine on the same construction); assignment must stay a
broadcast map with no shuffle of the points frame; ADC must beat a
label-permutation baseline so the index is demonstrably meaningful,
not just deterministic."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.pq_fixedpoint import (
    fixed_point_subvectors,
    pqfp_adc_topk,
    pqfp_assign,
    pqfp_train,
)
from etfconstituentextractor_spark.sources.tables import load

M, DSUB, K, ITERS, SCALE, NQ, TOPK = 8, 8, 16, 3, 1000, 4, 10


def _np_replay(vecs: dict[int, list[float]]):
    """Pure numpy/int replay of train + encode + ADC (independent of
    both Spark and DuckDB; fixed-point first, then all-int math)."""
    ids = sorted(vecs)
    iv = {
        i: np.floor(np.array(vecs[i], dtype=np.float64) * SCALE + 0.5).astype(
            np.int64
        )
        for i in ids
    }
    cand = [i for i in ids if i >= NQ]
    qids = [i for i in ids if i < NQ]
    seeds = sorted(cand, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))[
        :K
    ]
    # books[m] is a (K, DSUB) int matrix
    books = [
        np.stack([iv[s][m * DSUB : (m + 1) * DSUB] for s in seeds]) for m in range(M)
    ]

    def assign(m, sv):
        d = ((books[m] - sv) ** 2).sum(axis=1)
        return int(np.flatnonzero(d == d.min())[0])  # tie -> lowest code

    for _ in range(ITERS):
        sums = [np.zeros((K, DSUB), dtype=np.int64) for _ in range(M)]
        cnts = [np.zeros(K, dtype=np.int64) for _ in range(M)]
        for i in cand:
            for m in range(M):
                sv = iv[i][m * DSUB : (m + 1) * DSUB]
                c = assign(m, sv)
                sums[m][c] += sv
                cnts[m][c] += 1
        for m in range(M):
            for c in range(K):
                if cnts[m][c]:
                    books[m][c] = np.floor(
                        sums[m][c].astype(np.float64) / cnts[m][c]
                    ).astype(np.int64)
    codes = {
        i: [assign(m, iv[i][m * DSUB : (m + 1) * DSUB]) for m in range(M)]
        for i in cand
    }
    top = {}
    for q in qids:
        dt = [((books[m] - iv[q][m * DSUB : (m + 1) * DSUB]) ** 2).sum(axis=1) for m in range(M)]
        scored = sorted(
            (sum(int(dt[m][codes[i][m]]) for m in range(M)), i) for i in cand
        )
        top[q] = scored[:TOPK]
    return books, codes, top


@pytest.fixture(scope="module")
def pq_fp(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    pts = fixed_point_subvectors(emb, m=M, dsub=DSUB, scale=SCALE)
    cand = pts.filter(F.col("vec_id") >= NQ)
    queries = pts.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("qid"), "sub_id", F.col("sv").alias("qv")
    )
    cb = pqfp_train(cand, k=K, iters=ITERS, dsub=DSUB)
    return vecs, pts, cand, queries, cb


def test_trained_codebook_matches_numpy_replay(pq_fp):
    vecs, _, _, _, cb = pq_fp
    books, _, _ = _np_replay(vecs)
    got = {(r["sub_id"], r["code"]): list(r["cv"]) for r in cb.collect()}
    assert len(got) == M * K
    for m in range(M):
        for c in range(K):
            assert got[(m, c)] == books[m][c].tolist(), (m, c)


def test_codes_and_adc_topk_match_numpy_replay(pq_fp):
    vecs, _, cand, queries, cb = pq_fp
    _, codes, top = _np_replay(vecs)
    got_codes = {}
    for r in pqfp_assign(cand, cb).collect():
        got_codes.setdefault(r["vec_id"], [None] * M)[r["sub_id"]] = r["code"]
    assert got_codes == codes
    enc = pqfp_assign(cand, cb).select("vec_id", "sub_id", "code")
    got_top = {}
    for r in pqfp_adc_topk(enc, queries, cb, k=TOPK).collect():
        got_top.setdefault(r["qid"], []).append(
            (r["rn"], int(r["adc_dist"]), r["vec_id"])
        )
    for q, rows in got_top.items():
        rows = [(d, i) for _, d, i in sorted(rows)]
        assert rows == top[q], q


def test_adc_approximates_exact_search(pq_fp):
    """Recall@10 of ADC vs exact fixed-point L2 must beat chance by a
    wide margin — the quantizer is 32x compression, not noise. The
    synthetic embeddings are near-uniform (PQ's worst case: no
    subspace structure to exploit), so the absolute recall is modest
    (observed 0.2 at sf0.001) — the floor is chance-relative: chance
    is TOPK/n_candidates (~0.02 here), required >= 5x chance."""
    vecs, _, _, _, _ = pq_fp
    _, _, top = _np_replay(vecs)
    iv = {
        i: np.floor(np.array(v, dtype=np.float64) * SCALE + 0.5).astype(np.int64)
        for i, v in vecs.items()
    }
    cand = [i for i in vecs if i >= NQ]
    hits = total = 0
    for q in (i for i in vecs if i < NQ):
        exact = sorted((int(((iv[i] - iv[q]) ** 2).sum()), i) for i in cand)[:TOPK]
        exact_ids = {i for _, i in exact}
        adc_ids = {i for _, i in top[q]}
        hits += len(exact_ids & adc_ids)
        total += TOPK
    chance = TOPK / len(cand)
    assert hits / total >= 5 * chance, f"recall {hits}/{total} vs chance {chance}"


def test_empty_cluster_keeps_previous_centroid(spark):
    """Two far-apart point groups, K=4 codes: at most the seeded codes
    that capture points move; any code whose cluster empties must
    carry its previous centroid forward unchanged (never NULL, never
    dropped) — the rule both oracles spell with COALESCE/left-join."""
    import pandas as pd

    rows = [(i, [float(i % 2) * 100.0] * 8) for i in range(10, 16)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    pts = fixed_point_subvectors(df, m=1, dsub=8, scale=10)
    cb = pqfp_train(pts, k=4, iters=2, dsub=8).collect()
    assert len(cb) == 4
    for r in cb:
        assert r["cv"] is not None and len(r["cv"]) == 8
    # the two point values are 0 and 1000 (scale 10 x 100.0); every
    # centroid is one of the two attractors or an untouched seed —
    # all of which are in {0, 1000}^8 here since seeds ARE points
    for r in cb:
        assert set(r["cv"]) <= {0, 1000}


def test_assignment_plan_is_broadcast_map_no_point_shuffle(pq_fp, spark):
    """pqfp_assign must not shuffle the points frame: the only
    Exchange below the assignment is the broadcast of the packed
    codebook. (The codebook's own derivation aggregates — those
    exchanges are on M*K-row frames, not the corpus.)"""
    from etfconstituentextractor_spark.operators.pq_fixedpoint import pack_codebook

    _, _, cand, _, cb = pq_fp
    # freeze the PACKED codebook so the plan under test is assignment
    # alone (the pack is its own tiny aggregation)
    packed = pack_codebook(cb)
    frozen = spark.createDataFrame(packed.collect(), schema=packed.schema)
    plan = (
        pqfp_assign(cand, frozen)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" in plan, plan[:1200]
    n_other_exchange = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert n_other_exchange == 0, plan[:1500]
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_codebook_cache_invalidates_on_recipe_change(spark, tmp_path, monkeypatch):
    """Round-10 advice regression: the codebook cache key must
    carry a SOURCE-derived recipe term (trainer module + in-plan
    candidate derivation), not a hand-bumped integer — params + corpus
    identify the input, and a code edit that skips the bump keeps
    serving the stale codebook on bench-only runs. Pin the mechanism:
    (1) a fresh cache is served without retraining, (2) a cache signed
    under a DIFFERENT recipe is ignored and retrained over, (3) the
    recipe derives from the live source modules."""
    import json

    from etfconstituentextractor_spark.plans import llm_similarity as sim

    # unique corpus fingerprint and a private temp dir, so this test can
    # never collide with a real testdata cache entry
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.range(3).selectExpr(
        "id AS vec_id", "CAST(id AS STRING) AS label",
        "array(CAST(id AS FLOAT)) AS embedding",
    ).coalesce(1).write.parquet(str(sf / "embeddings.parquet"))

    fcand = spark.createDataFrame([(1, 0, [1, 2])], "vec_id bigint, sub_id bigint, sv array<bigint>")
    calls = []

    def stub_train(cand, k, iters, dsub):
        calls.append(1)
        return spark.createDataFrame(
            [(0, 0, [7, 7]), (0, 1, [9, 9])], "sub_id bigint, code int, cv array<bigint>"
        )

    cb1 = sim._pqfp_codebook_cached(spark, str(sf), fcand, stub_train)
    assert len(calls) == 1 and cb1.count() == 2

    def must_not_train(cand, k, iters, dsub):
        raise AssertionError("fresh cache must be served, not retrained")

    cb2 = sim._pqfp_codebook_cached(spark, str(sf), fcand, must_not_train)
    assert sorted(map(tuple, cb2.collect())) == sorted(map(tuple, cb1.collect()))

    # tamper the published entry: same params/corpus, different recipe
    # — exactly what an edited trainer under a forgotten hand-bump
    # looked like; it must be treated as stale
    import os

    from etfconstituentextractor_spark.sources.derived import MANIFEST, _key_dir

    _, path = _key_dir(
        "q70_pq_codebook",
        str(sf),
        ["embeddings"],
        {
            "m": sim._PQFP_M, "k": sim._PQFP_K, "iters": sim._PQFP_ITERS,
            "dsub": sim._PQFP_DSUB, "scale": sim._PQFP_SCALE,
            "nq": sim._N_QUERIES, "recipe": sim._pqfp_recipe(),
        },
    )
    assert os.path.isdir(path), "publish should have landed at the key-named path"
    manifest = os.path.join(path, MANIFEST)
    doc = json.load(open(manifest))
    doc["key"]["recipe"]["recipe"] = "0" * 32
    json.dump(doc, open(manifest, "w"))

    calls.clear()
    cb3 = sim._pqfp_codebook_cached(spark, str(sf), fcand, stub_train)
    assert len(calls) == 1, "stale-recipe cache must retrain"
    assert cb3.count() == 2

    # the recipe is a function of live source text
    r = sim._pqfp_recipe()
    assert r == sim._pqfp_recipe() and len(r) == 32
