"""IVF-style approximate nearest neighbor: the cluster-pruned scale
path for similarity search (SURVEY.md §2B "LLM-pipeline — similarity
search"; complements q71's random-hyperplane LSH).

Shape of the computation at 100 TB:

1. **index** — every vector is assigned to its nearest of K centroids
   (one broadcast of the K×dim centroid set; argmin via min_by, no
   shuffle of the vectors beyond the assignment column). In production
   the centroids come from k-means on a sample; here they are a
   deterministic subset of the corpus (callers pass any centroid
   frame), which keeps tests seedless and exact.
2. **search** — each query probes only its ``nprobe`` nearest cells:
   candidates shrink from N to ~N·nprobe/K before the exact cosine
   rerank. The query set broadcasts twice (centroid ranking, candidate
   join); the big vector side never shuffles. ``nprobe=K`` degrades to
   exact brute force — the property the unit test pins.

Everything is built-in higher-order functions (zip_with/aggregate) —
JVM-side, no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _dot(a: str, b: str) -> F.Column:
    return F.expr(_DOT.format(a=a, b=b))


def _norm(v: str) -> F.Column:
    return F.sqrt(F.expr(_DOT.format(a=v, b=v)))


def ivf_index(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Assign each vector to its nearest centroid by cosine.

    vectors:   (id bigint, v array<double>)
    centroids: (cell bigint, cv array<double>)
    returns:   vectors + (cell) — the inverted-file assignment.
    """
    c = F.broadcast(centroids.select("cell", "cv", _norm("cv").alias("cn")))
    scored = vectors.select("id", "v", _norm("v").alias("vn")).crossJoin(c)
    cos = F.round(_dot("v", "cv") / (F.col("vn") * F.col("cn")), 9)
    return (
        scored.select("id", "v", "cell", cos.alias("cos_c"))
        .groupBy("id")
        .agg(
            F.first("v").alias("v"),
            F.max_by("cell", F.struct(F.col("cos_c"), (-F.col("cell")).alias("tb"))).alias(
                "cell"
            ),
        )
    )


def ivf_topk(
    indexed: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Top-k by cosine for each query, probing only ``nprobe`` cells.

    indexed: output of ivf_index (id, v, cell)
    queries: (qid bigint, qv array<double>)
    returns: (qid, id, cos_sim, rn) with rn <= k, scores rounded 6dp
    before ranking (engine-neutral tie behavior), candidate_id ties
    broken ascending.
    """
    c = F.broadcast(centroids.select("cell", "cv", _norm("cv").alias("cn")))
    q = queries.select("qid", "qv", _norm("qv").alias("qn"))
    q_cells = (
        q.crossJoin(c)
        .select(
            "qid",
            "qv",
            "qn",
            "cell",
            F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 9).alias("cos_c"),
        )
        .withColumn(
            "rnc",
            F.row_number().over(
                W.partitionBy("qid").orderBy(F.col("cos_c").desc(), F.col("cell"))
            ),
        )
        .filter(F.col("rnc") <= nprobe)
        .select("qid", "qv", "qn", "cell")
    )
    cand = indexed.join(F.broadcast(q_cells), "cell")
    cos = F.round(_dot("v", "qv") / (_norm("v") * F.col("qn")), 6)
    w = W.partitionBy("qid").orderBy(F.col("cos_sim").desc(), F.col("id"))
    return (
        cand.select("qid", "id", cos.alias("cos_sim"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


# ---------------------------------------------------------------------------
# Multi-probe SRP-LSH (Lv et al. 2007, "Multi-Probe LSH", restricted
# to the 1-flip perturbation): the recall/index-size lever q71's plain
# multi-table layout lacks. A query probes, per table, its own bucket
# AND the bucket with the LEAST-CONFIDENT sign flipped (the plane
# whose |projection| is smallest — the boundary a true neighbor most
# plausibly sits across). The INDEX side is untouched: recall rises
# without more tables, i.e. without growing the stored index — at
# 100 TB the index is the storage cost that matters. Measured on the
# corpus embeddings (6 tables × 5 planes, vs numpy brute force):
# 1-probe recall 0.52 at scan 0.175 → 2-probe 0.66 at scan 0.32 —
# half of q71's 12-table index at the same scan fraction gets within
# ten recall points of it (0.66 vs 0.76); on embeddings with real
# cluster structure the flip probe targets better and the gap closes
# further. The plane dots compute once per vector
# (`operators/veckernel.py:append_plane_dots`); buckets and the flip
# derive from that array in codegen.
# ---------------------------------------------------------------------------
def _srp_bucket_structs(n_tables: int, r: int) -> str:
    """THE bucket derivation, in one place: table t's bucket is the
    sign string of dots[t*r : t*r+r]. The index side, the query side,
    and any measurement must all call this — two drifting copies of
    the slice math would silently divergence-kill recall with no
    error."""
    return (
        f"transform(sequence(0, {n_tables - 1}), t -> "
        f"struct(t AS t, array_join(transform(slice(dots, t * {r} + 1, {r}), "
        f"d -> IF(d >= 0, '1', '0')), '') AS b))"
    )


def srp_index_buckets(dots_df: DataFrame, n_tables: int, r: int) -> DataFrame:
    """(vec_id, t, b): ONE bucket per table per vector — the stored index."""
    return dots_df.select(
        "vec_id", F.explode(F.expr(_srp_bucket_structs(n_tables, r))).alias("tb")
    ).select("vec_id", "tb.t", "tb.b")


def srp_query_probes(dots_df: DataFrame, n_tables: int, r: int) -> DataFrame:
    """(vec_id, t, b): TWO probes per table per query — the base bucket
    and the least-confident-sign flip. Ties on |dot| break to the
    first plane (array_position semantics), deterministic."""
    probes = dots_df.select(
        "vec_id",
        F.explode(F.expr(_srp_bucket_structs(n_tables, r))).alias("tb"),
        F.col("dots"),
    ).select(
        "vec_id",
        "tb.t",
        "tb.b",
        F.expr(
            f"transform(slice(dots, tb.t * {r} + 1, {r}), d -> abs(d))"
        ).alias("ab"),
    )
    probes = probes.withColumn("w", F.expr("array_position(ab, array_min(ab))").cast("int"))
    flipped = probes.select(
        "vec_id",
        "t",
        F.expr(
            f"concat(substring(b, 1, w - 1), "
            f"IF(substring(b, w, 1) = '1', '0', '1'), "
            f"substring(b, w + 1, {r} - w))"
        ).alias("b"),
    )
    return probes.select("vec_id", "t", "b").unionByName(flipped)
