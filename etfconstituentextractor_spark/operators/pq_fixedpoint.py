"""Fixed-point product quantization with fully DISTRIBUTED, in-plan
k-means training (SURVEY.md §2B "LLM-pipeline — similarity search";
the companion of operators/pq.py, which trains driver-side in numpy
on a hash-ordered sample and is pytest-pinned by design).

This module exists for the property pq.py deliberately trades away:
a TRAINED index under the cross-engine hash oracle. Training is
DISTRIBUTED — every pass over the points is a broadcast assignment
plus one map-combinable aggregation; only the M*K-row codebook ever
reaches the driver (the MLlib-KMeans discipline) — and every
arithmetic step is integer, so DuckDB re-derives codebook, codes,
and ADC ranks bit-for-bit (q74). At 100 TB the split is: pq.py's
sample-trained codebook when a driver-side sample is acceptable; this
module when training itself must be distributed (codebook from the
FULL corpus) or auditable across engines.

A 64-dim float vector (256 bytes) becomes M=8 one-byte codes: split
each vector into M contiguous subvectors, train a K=16-centroid
k-means codebook per subvector position, and store only the nearest
code per subvector. Search is asymmetric distance computation (ADC,
Jégou et al., "Product Quantization for Nearest Neighbor Search",
TPAMI 2011): per query, precompute the K×M table of exact
query-subvector↔centroid distances, then each candidate's
approximate distance is M table lookups + a sum — no candidate
vector is ever read at query time.

Bit-reproducibility (what puts a TRAINED index under the full hash
oracle, not rows-only): every arithmetic step is integer.
- Vectors enter as fixed-point: ``floor(x * scale + 0.5)`` (one
  IEEE-double multiply + floor — identical in any engine; no
  round-half banker's exposure).
- Distances are integer sums of squared integer differences.
- Centroid updates are ``floor(sum / count)`` with the division in
  doubles (exact: |sum| < 2^53 by construction).
- Lloyd's iterations run a FIXED count from a deterministic seed
  (the K hash-smallest vec_ids), ties in assignment break on the
  lowest code, empty clusters keep their previous centroid.
So two engines replay the identical codebook, codes, and ADC ranks
— DuckDB re-derives the whole index bit-for-bit (q74).

Scale posture (the 100 TB story):
- **Assignment never shuffles the corpus.** The codebook (M×K rows)
  packs into one array-of-structs row per subvector position and
  broadcasts; each candidate computes its argmin code IN-ROW with
  higher-order functions (``array_min(transform(...))`` — codegen,
  no fanout join, no per-candidate shuffle).
- Training reduces carry (sub_id, code, pos, value) ints only —
  never vectors; the map-side partial-agg combines them.
- The seed selection is a top-k: its rank <= k filter is pruned
  map-side by WindowGroupLimit (each partition keeps at most K
  rows). At 100 TB you'd train on a TABLESAMPLE; the seed rule is
  sample-stable (hash order, not position order).
- ADC search shuffles (query, candidate, partial-sum) ints; the
  final top-k is a rank window WindowGroupLimit prunes map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

__all__ = [
    "fixed_point_subvectors",
    "pack_codebook",
    "pqfp_train",
    "pqfp_assign",
    "pqfp_adc_topk",
]


def _sqdist(a: str, b: str, dsub: int | None = None) -> str:
    """Integer squared L2 between two equal-length bigint arrays.

    With ``dsub`` known the sum unrolls statically: higher-order
    functions are CodegenFallback (interpreted row-by-row, per-code
    array allocation in the lambda), and this expression sits in the
    hot loop — 16 evaluations per point row — so the unrolled form
    measures ~40% faster per Lloyd round. The HOF form remains for
    callers that only know the arrays are equal-length.
    """
    if dsub is None:
        return (
            f"aggregate(zip_with({a}, {b}, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, x) -> acc + x)"
        )
    return " + ".join(
        f"(({a}[{i}]) - ({b}[{i}])) * (({a}[{i}]) - ({b}[{i}]))" for i in range(dsub)
    )


def fixed_point_subvectors(
    df: DataFrame,
    m: int = 8,
    dsub: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """(vec_id, sub_id, sv: array<bigint>) — fixed-point subvector rows
    of each ``embedding``.

    ``floor(x * scale + 0.5)`` is round-half-up in one double op —
    the engine-portable quantizer (Spark ROUND and DuckDB ROUND are
    both half-away-from-zero, but floor(+0.5) needs no such
    alignment footnote and handles negatives identically in IEEE).
    """
    iv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(x.cast("double") * F.lit(scale) + F.lit(0.5)),
    )
    subs = F.array(
        *[
            F.struct(
                F.lit(mm).cast("long").alias("sub_id"),
                F.slice(F.col("__iv"), mm * dsub + 1, dsub).alias("sv"),
            )
            for mm in range(m)
        ]
    )
    return (
        df.select("vec_id", iv.alias("__iv"))
        .select("vec_id", F.inline(subs))
    )


def pack_codebook(codebook: DataFrame) -> DataFrame:
    """(sub_id, cbook: array<struct<code, cv>> sorted by code) — the
    broadcastable in-row shape of a codebook (M rows total). The
    pack itself is one aggregation of an M*K-row frame — pack once
    and reuse when assigning several frames against one codebook."""
    return codebook.groupBy("sub_id").agg(
        F.array_sort(F.collect_list(F.struct("code", "cv"))).alias("cbook")
    )


def pqfp_assign(
    points: DataFrame, codebook: DataFrame, dsub: int | None = None
) -> DataFrame:
    """(vec_id, sub_id, code, sv) — nearest-code assignment.

    The argmin over the K codes happens inside one row against the
    broadcast packed codebook: ``array_min`` over (distance, code)
    structs is lexicographic, so ties break on the lowest code — the
    same rule the oracle's ``ORDER BY d, code`` row_number spells.
    No fanout join, no shuffle of the points frame. Pass ``dsub`` to
    unroll the per-code distance statically (see ``_sqdist``).
    """
    best = F.expr(
        "array_min(transform(cbook, c -> "
        f"struct({_sqdist('sv', 'c.cv', dsub)} AS d, c.code AS code)))"
    )
    packed = codebook if "cbook" in codebook.columns else pack_codebook(codebook)
    return (
        points.join(F.broadcast(packed), "sub_id")
        .select("vec_id", "sub_id", best.getField("code").alias("code"), "sv")
    )


def pqfp_train(points: DataFrame, *, k: int, iters: int, dsub: int) -> DataFrame:
    """(sub_id, code, cv: array<bigint>) — K-centroid codebook per
    subvector position after ``iters`` Lloyd rounds.

    Seeding: codes 0..k-1 are the subvectors of the k vec_ids with
    the smallest ``md5(vec_id)`` — deterministic and position-free
    (stable under reordering the input). Updates floor the
    per-dimension mean to keep centroids integral; a code that
    captures no points keeps its previous centroid.

    This is the MLlib-KMeans discipline: each Lloyd round is ONE
    distributed job (broadcast assignment +
    map-combinable aggregation) whose result — M*K count/sum rows,
    index state, never corpus data — syncs to the driver, and the
    next round's codebook re-enters the plan as a literal
    LocalRelation. Per-round plan shape is therefore constant
    (codegen compiles once), lineage never grows, and the scale
    story is unconditional: at 100 TB each round is still one
    map-side-combinable pass over the (persisted) points frame with
    a 128-row sync. The floor(sum/count) division happens in Python
    doubles — identical IEEE semantics to the JVM, exact because
    |sum| < 2^53 by construction.
    """
    spark = points.sparkSession
    if iters <= 0:
        # seed codebook only — no Lloyd pass to merge the seed job into
        seed_rows = spark.sql(
            f"""
            SELECT p.sub_id, s.rn - 1 AS code, p.sv AS cv
            FROM {{p}} p JOIN (
              SELECT vec_id, row_number() OVER (
                ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS rn
              FROM (SELECT DISTINCT vec_id FROM {{p}})
            ) s ON p.vec_id = s.vec_id
            WHERE s.rn <= {int(k)}
            """,
            p=points,
        ).collect()
        return spark.createDataFrame(
            sorted((r["sub_id"], r["code"], list(r["cv"])) for r in seed_rows),
            schema="sub_id bigint, code int, cv array<bigint>",
        )
    points = points.persist()
    sums = ", ".join(f"sum(sv[{i}]) AS __s{i}" for i in range(dsub))
    try:
        # Round 0 merges seeding and the first Lloyd pass into ONE
        # job: seeds are the k hash-smallest distinct vec_ids (the
        # rank <= k filter is WindowGroupLimit-pruned map-side), their
        # subvectors group into the packed codebook in-plan, the
        # assignment+aggregation runs against its broadcast, and the
        # job ALSO emits the seed centroids (__n = 0 rows) so the
        # driver has the carry values for codes that capture nothing.
        rows = spark.sql(
            f"""
            WITH seeds AS (
              SELECT vec_id, rn - 1 AS code FROM (
                SELECT vec_id, row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS STRING)), vec_id) AS rn
                FROM (SELECT DISTINCT vec_id FROM {{p}})
              ) WHERE rn <= {int(k)}
            ),
            cb0 AS (
              SELECT p.sub_id, s.code, p.sv AS cv
              FROM {{p}} p JOIN seeds s ON p.vec_id = s.vec_id
            ),
            cb AS (
              SELECT sub_id,
                     array_sort(collect_list(struct(code, cv))) AS cbook
              FROM cb0 GROUP BY sub_id
            ),
            assigned AS (
              SELECT /*+ BROADCAST(cb) */ p.sub_id,
                     array_min(transform(cb.cbook, c ->
                       struct({_sqdist('p.sv', 'c.cv', dsub)} AS d,
                              c.code AS code))).code AS code,
                     p.sv
              FROM {{p}} p JOIN cb ON p.sub_id = cb.sub_id
            )
            SELECT sub_id, code, count(1) AS __n, {sums}
            FROM assigned GROUP BY sub_id, code
            UNION ALL
            SELECT sub_id, code, 0L AS __n,
                   {", ".join(f"cv[{i}] AS __s{i}" for i in range(dsub))}
            FROM cb0
            """,
            p=points,
        ).collect()
        cbook: dict[tuple[int, int], list[int]] = {}
        updates: list = []
        for r in rows:
            if r["__n"] == 0:
                cbook[(r["sub_id"], r["code"])] = [
                    r[f"__s{i}"] for i in range(dsub)
                ]
            else:
                updates.append(r)
        if not cbook:
            return spark.createDataFrame(
                [], schema="sub_id bigint, code int, cv array<bigint>"
            )
        _apply_updates(cbook, updates, dsub)

        for _ in range(iters - 1):
            # One distributed job per remaining round: the
            # driver-resident codebook re-enters the plan as a VALUES
            # literal already in packed (array-of-structs) form —
            # broadcast join, no pack shuffle — and the round reduces
            # to ONE map-combinable aggregation whose <= M*k count/sum
            # int rows collect. Emitted as a single SQL string:
            # per-plan driver overhead (not executor compute) is the
            # measured cost floor, and one parse beats rebuilding the
            # expression tree call-by-call.
            packed = ", ".join(
                "({}, array({}))".format(
                    s,
                    ", ".join(
                        "struct({} AS code, array({}) AS cv)".format(
                            c, ", ".join(f"{x}L" for x in cv)
                        )
                        for c, cv in lst
                    ),
                )
                for s, lst in sorted(_by_sub(cbook).items())
            )
            agg = spark.sql(
                f"""
                SELECT sub_id, code, count(1) AS __n, {sums}
                FROM (
                  SELECT p.sub_id,
                         array_min(transform(cb.cbook, c ->
                           struct({_sqdist('p.sv', 'c.cv', dsub)} AS d,
                                  c.code AS code))).code AS code,
                         p.sv
                  FROM {{p}} p
                  JOIN (SELECT * FROM VALUES {packed} AS t(sub_id, cbook)) cb
                    ON p.sub_id = cb.sub_id
                )
                GROUP BY sub_id, code
                """,
                p=points,
            ).collect()
            _apply_updates(cbook, agg, dsub)
        return spark.createDataFrame(
            [(s, c, cv) for (s, c), cv in sorted(cbook.items())],
            schema="sub_id bigint, code int, cv array<bigint>",
        )
    finally:
        points.unpersist()


def _apply_updates(
    cbook: dict[tuple[int, int], list[int]], agg_rows, dsub: int
) -> None:
    """Fold one round's (count, per-dim sums) into the codebook:
    ``floor(sum / count)`` per dimension. Python ints divide through
    an IEEE double exactly like the JVM (|sum| < 2^53), so this floor
    is the same integer both engines derive. Codes absent from
    ``agg_rows`` keep their previous centroid (the empty-cluster
    carry rule both oracles spell with COALESCE/left-join)."""
    import math

    for r in agg_rows:
        cbook[(r["sub_id"], r["code"])] = [
            math.floor(r[f"__s{i}"] / r["__n"]) for i in range(dsub)
        ]


def _by_sub(
    cbook: dict[tuple[int, int], list[int]],
) -> dict[int, list[tuple[int, list[int]]]]:
    by_sub: dict[int, list[tuple[int, list[int]]]] = {}
    for (s, c), cv in sorted(cbook.items()):
        by_sub.setdefault(s, []).append((c, cv))
    return by_sub


def pqfp_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook: DataFrame,
    k: int = 10,
    dsub: int | None = None,
) -> DataFrame:
    """(qid, vec_id, adc_dist, rn) — asymmetric-distance top-k.

    ``codes`` is the encoded corpus (vec_id, sub_id, code);
    ``queries`` is (qid, sub_id, qv) in the same fixed-point space.
    The per-query distance table (M×K exact query↔centroid integer
    distances) broadcasts; candidates join it on (sub_id, code) and
    reduce to a per-(query, candidate) sum — the only shuffle, all
    ints, map-side combinable. Ties rank by candidate id.
    """
    dt = queries.join(F.broadcast(codebook), "sub_id").select(
        "qid", "sub_id", "code", F.expr(_sqdist("qv", "cv", dsub)).alias("d")
    )
    scored = (
        codes.join(F.broadcast(dt), ["sub_id", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("adc_dist"))
    )
    w = W.partitionBy("qid").orderBy("adc_dist", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w).cast("int"))
        .filter(F.col("rn") <= k)
    )
