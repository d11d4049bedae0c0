"""SemDeDup semantic-cluster dedup (operators/semdedup.py): the
distributed seed/assign/dedup pipeline must reproduce a from-scratch
scalar Python replay exactly (hash-ordered seed choice, 9dp
assignment rounding + lowest-cell ties, 6dp keep-first dedup), the
oversized-cluster cap must exclude clusters from comparison without
dropping their rows, and the assignment stage must broadcast the
seeds — never shuffle the vector side for scoring."""

from __future__ import annotations

import hashlib

from etfconstituentextractor_spark.operators.semdedup import (
    assign_clusters,
    semantic_dedup,
    semantic_seeds,
)
from etfconstituentextractor_spark.sources.tables import load
from pyspark.sql import functions as F

N_SEEDS, TAU, CAP = 8, 0.30, 1000


def _vec(df):
    return df.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn(
        "nrm",
        F.sqrt(F.expr("aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x)")),
    )


def _py_replay(vectors: dict[int, list[float]], n_seeds: int, tau: float):
    """Scalar replay: seeds, assignment, keep-first dedup. Fold sums
    left-to-right, rounding at the same 9/6 dp gates."""
    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    nrm = {i: dot(v, v) ** 0.5 for i, v in vectors.items()}
    seed_ids = sorted(
        vectors, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
    )[:n_seeds]
    assign, cent_cos = {}, {}
    for i, v in vectors.items():
        best = max(
            seed_ids,
            key=lambda s: (round(dot(v, vectors[s]) / (nrm[i] * nrm[s]), 9), -s),
        )
        assign[i] = best
        cent_cos[i] = round(dot(v, vectors[best]) / (nrm[i] * nrm[best]), 9)
    n_close = {i: 0 for i in vectors}
    ids = sorted(vectors)
    for bi, b in enumerate(ids):
        for a in ids[:bi]:
            if assign[a] != assign[b]:
                continue
            cs = round(dot(vectors[a], vectors[b]) / (nrm[a] * nrm[b]), 6)
            if cs >= tau:
                n_close[b] += 1
    return assign, cent_cos, n_close


def test_semdedup_matches_python_replay(spark, sf_dir):
    e = _vec(load(spark, sf_dir, "embeddings"))
    vectors = {r["vec_id"]: list(r["v"]) for r in e.collect()}
    assign, cent_cos, n_close = _py_replay(vectors, N_SEEDS, TAU)

    seeds = semantic_seeds(e, N_SEEDS)
    assigned = assign_clusters(e, seeds)
    out = {r["vec_id"]: r for r in semantic_dedup(assigned, TAU, CAP).collect()}

    assert set(out) == set(vectors)
    for i, r in out.items():
        assert r["cell"] == assign[i], i
        assert r["cent_cos"] == round(cent_cos[i], 6), i
        assert r["n_close"] == n_close[i], i
        assert r["is_kept"] == (n_close[i] == 0), i
    # the corpus plants near-dup families: the dedup must actually fire
    assert any(not r["is_kept"] for r in out.values())


def test_semdedup_cap_excludes_cluster_but_keeps_rows(spark, sf_dir):
    e = _vec(load(spark, sf_dir, "embeddings"))
    assigned = assign_clusters(e, semantic_seeds(e, N_SEEDS))
    total = assigned.count()
    # cap below every cluster size -> no pairwise stage fires anywhere,
    # but every row still comes back, kept
    out = semantic_dedup(assigned, TAU, cap=0).collect()
    assert len(out) == total
    assert all(r["is_kept"] and r["n_close"] == 0 for r in out)


def test_assign_clusters_broadcasts_seeds_and_never_shuffles_vectors(spark, sf_dir):
    e = _vec(load(spark, sf_dir, "embeddings"))
    plan = assign_clusters(e, semantic_seeds(e, N_SEEDS))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the only exchange after scoring carries one aggregated row per
    # vector (partial agg completes map-side under the broadcast join)
    assert "CartesianProduct" not in plan
    assert "PythonUDF" not in plan.replace("ArrowEvalPython", "")
