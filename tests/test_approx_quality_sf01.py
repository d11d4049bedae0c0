"""Approximation-quality floors at BENCH scale (sf0.1) — the scale
users actually run (round-8 verdict ask #4).

The fourth test tier (quality vs independent ground truth) was born
from q71's oracle-green-but-recall-0.0 episode; until round 9 it
measured only at the pytest scale (sf0.001/0.01). Bucket occupancy,
cluster balance, and candidate-set geometry all shift with corpus
size, so a recall regression that only manifests at 2000 vectors
would have been invisible. This module re-measures the headline
approximate operators against numpy brute force at sf0.1, with
floors within ~25% of the round-9 measured values (recorded inline).

Ground truth is recomputed per test from the parquet table (2000
vectors x 64 dims — trivial for numpy); nothing here restates the
operators' own bucketing.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from ann_truth import exact_topk as _exact_topk_shared
from etfconstituentextractor_spark.plans.registry import QUERIES, load_catalog
from etfconstituentextractor_spark.sources.tables import load

SF01 = os.environ.get("SPARK_GRAFT_BENCH_SF_DIR", "/root/testdata/sf0.1")

# bench-scale corpus is environment-provided: SKIP (not ERROR) where
# it is absent so the module never reads as a regression off-host
pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF01), reason=f"bench corpus {SF01} not present"
)


@pytest.fixture(scope="module")
def vecs(spark):
    load_catalog()
    rows = load(spark, SF01, "embeddings").select("vec_id", "embedding").collect()
    return {r.vec_id: np.array(r.embedding, dtype=float) for r in rows}


_exact_topk = _exact_topk_shared


def test_q71_single_probe_recall_and_scan_fraction_sf01(spark, vecs):
    """Registered 12x5 SRP-LSH at sf0.1: recall@5 >= 0.5 (measured
    0.72 r9) at candidate fraction <= 0.4 (measured 0.33)."""
    import etfconstituentextractor_spark.plans.llm_similarity as ls
    from etfconstituentextractor_spark.operators.ann import srp_index_buckets

    nq, k = ls._N_QUERIES, ls._TOP_K
    exact = _exact_topk(vecs, nq, k)
    approx = {
        (r.query_id, r.candidate_id)
        for r in QUERIES["q71_similarity_lsh_ann"](spark, SF01)
        .filter(F.col("leg") == "single")
        .collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, recall

    e = ls._vec(load(spark, SF01, "embeddings")).withColumn(
        "dots", F.expr(ls._spark_dots("v"))
    )
    tb = srp_index_buckets(e, ls._LSH_TABLES, ls._LSH_PLANES_PER_TABLE)
    n_cand = (
        tb.filter(F.col("vec_id") < nq)
        .select(F.col("vec_id").alias("q"), "t", "b")
        .join(
            tb.filter(F.col("vec_id") >= nq).select(F.col("vec_id").alias("c"), "t", "b"),
            ["t", "b"],
        )
        .select("q", "c")
        .distinct()
        .count()
    )
    n_all = sum(1 for v in vecs if v < nq) * sum(1 for v in vecs if v >= nq)
    assert n_cand / n_all <= 0.4, n_cand / n_all


def test_multiprobe_beats_single_probe_sf01(spark, vecs):
    """The multiprobe claim must hold at bench scale too: 2-probe
    recall strictly beats 1-probe on the same 6x5 index (measured
    0.68 vs 0.48 r9)."""
    import etfconstituentextractor_spark.plans.llm_similarity as ls
    from etfconstituentextractor_spark.operators.ann import (
        srp_index_buckets,
        srp_query_probes,
    )
    from etfconstituentextractor_spark.operators.veckernel import append_plane_dots

    n_tables, r = 6, 5
    nq = ls._N_QUERIES
    exact = _exact_topk(vecs, nq, 5)
    planes = ls._plane_matrix()[: n_tables * r]
    # q71's projection: kernel dots, rounded to 9 places in the JVM
    ev = append_plane_dots(
        ls._vec(load(spark, SF01, "embeddings")), "v", planes, "raw"
    ).withColumn("dots", F.expr("transform(raw, d -> round(d, 9))"))
    idx = srp_index_buckets(ev.filter(F.col("vec_id") >= nq), n_tables, r)

    def cands(qb):
        return {
            (x.q, x.c)
            for x in qb.select(F.col("vec_id").alias("q"), "t", "b")
            .join(idx.select(F.col("vec_id").alias("c"), "t", "b"), ["t", "b"])
            .select("q", "c")
            .distinct()
            .collect()
        }

    c1 = cands(srp_index_buckets(ev.filter(F.col("vec_id") < nq), n_tables, r))
    c2 = cands(srp_query_probes(ev.filter(F.col("vec_id") < nq), n_tables, r))
    assert c1 <= c2
    r1 = len(c1 & exact) / len(exact)
    r2 = len(c2 & exact) / len(exact)
    assert r2 > r1, (r1, r2)
    assert r2 >= 0.55, r2  # measured 0.68 r9


def test_semdedup_blocking_lift_sf01(spark, vecs):
    """SemDeDup co-clustering lift over chance at sf0.1: >= 3x
    (measured 3.93x r9 — the lift SHRINKS with corpus size on these
    near-random embeddings, which is exactly why the bench-scale pin
    exists; sf0.001/0.01 measure ~6.5x)."""
    from collections import Counter

    import etfconstituentextractor_spark.plans.llm_similarity as ls
    from etfconstituentextractor_spark.operators.semdedup import (
        assign_clusters,
        semantic_seeds,
    )

    ev = ls._vec(load(spark, SF01, "embeddings"))
    assigned = assign_clusters(ev, semantic_seeds(ev, 32))
    cells = {r.vec_id: r.cell for r in assigned.collect()}
    ids = sorted(vecs)
    nrm = {i: np.linalg.norm(vecs[i]) for i in ids}
    true_pairs = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if float(vecs[a] @ vecs[b] / (nrm[a] * nrm[b])) >= 0.3
    ]
    assert true_pairs
    co = sum(1 for a, b in true_pairs if cells[a] == cells[b]) / len(true_pairs)
    sizes = Counter(cells.values())
    n = len(ids)
    chance = sum(s * (s - 1) for s in sizes.values()) / (n * (n - 1))
    assert co >= 3 * chance, (co, chance)


def test_ivf_pruned_probe_recall_sf01(spark, vecs):
    """IVF at sf0.1: the id%37 seeding yields 55 cells; probing 6
    (~11% of cells) must recover >= half the exact top-5 set —
    measured 0.52 r9 (deterministic corpus + centroids, so the floor
    can sit close; nprobe=3 measures 0.40, the recall/scan dial
    working as designed)."""
    from etfconstituentextractor_spark.operators.ann import ivf_index, ivf_topk

    e = load(spark, SF01, "embeddings").select(
        F.col("vec_id").alias("id"),
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    )
    centroids = e.filter("id % 37 = 0").select(
        F.col("id").alias("cell"), F.col("v").alias("cv")
    )
    queries = e.filter("id < 5").select(F.col("id").alias("qid"), F.col("v").alias("qv"))
    corpus = e.filter("id >= 5")
    n_cells = centroids.count()
    indexed = ivf_index(corpus, centroids)
    exact = {
        (r.qid, r.id)
        for r in ivf_topk(indexed, queries, centroids, k=5, nprobe=n_cells).collect()
    }
    pruned = {
        (r.qid, r.id)
        for r in ivf_topk(indexed, queries, centroids, k=5, nprobe=6).collect()
    }
    recall = len(exact & pruned) / len(exact)
    assert recall >= 0.5, recall
