"""SemDeDup-style semantic deduplication over embeddings (SURVEY.md
§2B "LLM-pipeline — near-dup" semantic tier; Abbas et al. 2023,
"SemDeDup: Data-efficient learning at web-scale through semantic
deduplication").

q64's cosine near-dup blocks on a PRE-EXISTING key (label). SemDeDup's
point is that no such key exists for a raw crawl: the blocking key is
LEARNED — cluster the embedding space, then compare only within
clusters. This module restates that two-stage shape Spark-first:

1. **seeds** — K cluster centers as a deterministic hash-ordered
   corpus sample (first K rows by (md5(vec_id), vec_id) — the q83/PQ
   sampling discipline; a production run would Lloyd-refine them like
   ``operators/pq.py`` trains codebooks, which changes the centers but
   not the plan shape). The seed frame is K rows — broadcast.
2. **assign** — every vector gets its nearest seed by cosine: one
   broadcast cross join + a map-side-complete ``max_by`` partial agg,
   so the exchange carries exactly one row per vector and the vector
   side never shuffles for scoring. Assignment scores round at 9 dp
   (module convention) so both engines pick identical cells; ties
   break on the lowest cell id.
3. **dedup** — within each cluster only, pairwise cosine (rounded
   6 dp before thresholding); a row is a semantic duplicate when a
   LOWER-id row in its cluster is within tau — the q60 keep-first
   discipline. Quadratic work is confined to cluster blocks; clusters
   larger than ``cap`` are skipped from comparison (kept verbatim),
   the q64 oversized-block guard — at scale those are exactly the
   cells an IVF split (operators/ann.py) would refine.

No reference counterpart (the reference has no vector data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DOT = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def semantic_seeds(vectors: DataFrame, n_seeds: int) -> DataFrame:
    """First ``n_seeds`` rows by (md5(id), id) as cluster centers.

    vectors: (vec_id bigint, v array<double>, nrm double)
    returns: (cell, cv, cn) — a TakeOrderedAndProject subplan small
    enough to broadcast by construction.
    """
    return (
        vectors.withColumn("__h", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__h", "vec_id")
        .limit(n_seeds)
        .select(
            F.col("vec_id").alias("cell"),
            F.col("v").alias("cv"),
            F.col("nrm").alias("cn"),
        )
    )


def assign_clusters(vectors: DataFrame, seeds: DataFrame) -> DataFrame:
    """Nearest-seed assignment, keeping the winning score.

    Broadcast cross join (K rows per vector, same partition), the
    per-pair dot via the Arrow strict-left-fold kernel
    (operators/veckernel.py — bit-identical to the old
    ``aggregate(zip_with(...))`` HOF fold, which was the interpreted
    hot loop of this stage), then a map-side-complete groupBy(id): the
    exchange still carries one row per vector. max_by keys on
    (cos_c, -cell) = highest cosine, lowest cell on ties — the same
    decision ROUND(...,9) lets DuckDB replay.
    returns: (vec_id, v, nrm, cell, cent_cos[9dp]).
    """
    from etfconstituentextractor_spark.operators.veckernel import append_pair_dot

    paired = append_pair_dot(
        vectors.crossJoin(F.broadcast(seeds)).select(
            "vec_id", "v", "nrm", "cell", "cn", "cv"
        ),
        "v",
        "cv",
        "__dot",
        drop=("cv",),  # v rides through: the winner's vector feeds the dedup stage
    )
    cos = F.round(F.col("__dot") / (F.col("nrm") * F.col("cn")), 9)
    return (
        paired.select("vec_id", "v", "nrm", "cell", cos.alias("cos_c"))
        .groupBy("vec_id")
        .agg(
            F.first("v").alias("v"),
            F.first("nrm").alias("nrm"),
            F.max_by(
                F.struct(F.col("cell"), F.col("cos_c").alias("cent_cos")),
                F.struct(F.col("cos_c"), (-F.col("cell")).alias("tb")),
            ).alias("__win"),
        )
        .select("vec_id", "v", "nrm", "__win.cell", "__win.cent_cos")
    )


def semantic_dedup(assigned: DataFrame, tau: float, cap: int) -> DataFrame:
    """Keep-first dedup within clusters: one output row per vector.

    A vector is a duplicate when ANY lower-id vector in its cluster
    has cosine >= tau (6 dp). Clusters over ``cap`` rows are excluded
    from the pairwise stage (their rows emit n_close=0, kept) — the
    bounded-quadratic guard; the kept-cells frame is one row per cell,
    broadcast.
    returns: (vec_id, cell, cent_cos[6dp], n_close, is_kept).
    """
    kept = (
        assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= cap)
        .select("cell")
    )
    from etfconstituentextractor_spark.operators.veckernel import append_pair_dot

    n = assigned.join(F.broadcast(kept), "cell")
    a, b = n.alias("a"), n.alias("b")
    paired = append_pair_dot(
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        ).select(
            F.col("b.vec_id").alias("__b_id"),
            F.col("a.v").alias("__va"),
            F.col("b.v").alias("__vb"),
            F.col("a.nrm").alias("__na"),
            F.col("b.nrm").alias("__nb"),
        ),
        "__va",
        "__vb",
        "__dot",
    )
    cos = F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6)
    close = (
        paired.withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= tau)
        .groupBy(F.col("__b_id").alias("vec_id"))
        .agg(F.count(F.lit(1)).alias("n_close"))
    )
    return (
        assigned.join(close, "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.round(F.col("cent_cos"), 6).cast("double").alias("cent_cos"),
            F.coalesce(F.col("n_close"), F.lit(0).cast("long")).alias("n_close"),
            (F.coalesce(F.col("n_close"), F.lit(0)) == 0).alias("is_kept"),
        )
    )
