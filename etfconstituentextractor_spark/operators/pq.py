"""Product quantization (PQ) for embedding compression + ADC search
(SURVEY.md §2B "LLM-pipeline — embedding quantization" adjunct: int8
scalar quantization is q70's 'int8' leg; PQ is the next compression
tier — m·log2(ksub) bits per vector instead of d bytes — and the
memory layout IVF systems (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search") actually serve from).

Division of labor, Spark-first:

- ``train_pq_codebooks`` is CONTROL-PLANE: per-subspace Lloyd k-means
  over a deterministic hash-ordered sample (first ``sample_n`` rows by
  md5(id) — the q83 sampling discipline), run driver-side in numpy.
  The sample and the codebooks are tiny (ksub·d floats); training
  state never touches the cluster beyond the one sample collect, the
  same posture as BPE training's one-argmax-row per round.
- ``pq_encode`` is the DISTRIBUTED half: assign every vector's j-th
  subvector to its nearest centroid. Codebooks enter the plan as
  nested array LITERALS (broadcast by value into codegen), distances
  are ``aggregate(zip_with(...))`` fold sums — JVM-side higher-order
  functions, zero Python, zero shuffle: a pure map stage that scales
  to any corpus width.
- ``pq_adc_topk`` is asymmetric-distance search: the query builds an
  m×ksub lookup table driver-side (tiny numpy), ships it as a
  literal, and each row's approximate distance is m array lookups +
  a sum — again codegen-only, with the top-k a rank window (or
  orderBy+limit → TakeOrderedAndProject).

Determinism: k-means init is the first ksub sampled subvectors,
iteration count is fixed, and distance folds are stated in the same
left-to-right order in the numpy oracle (tests/test_pq.py replays
training AND encoding from scratch in pure numpy/Python and requires
bit-identical codes). Pytest-only by design: training is iterative
(the BPE-training precedent); the ENCODE/SEARCH path is the
distributed surface.

No reference counterpart (the reference has no vector data at all).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hash_order_sample(df: DataFrame, n: int) -> list[tuple[int, list[float]]]:
    """Deterministic sample of (vec_id, embedding): first n rows by
    (md5(vec_id), vec_id). One ordered collect of n rows —
    control-plane staging, like q59's sentinel max() read."""
    rows = (
        df.select(
            F.col("vec_id"),
            F.col("embedding"),
            F.md5(F.col("vec_id").cast("string")).alias("__h"),
        )
        .orderBy("__h", "vec_id")
        .limit(n)
        .collect()
    )
    return [(r[0], list(r[1])) for r in rows]


def train_pq_codebooks(
    df: DataFrame,
    *,
    m: int,
    ksub: int,
    sample_n: int = 512,
    iters: int = 5,
) -> np.ndarray:
    """(m, ksub, d/m) float64 codebooks via per-subspace Lloyd k-means
    on a deterministic sample of (vec_id, embedding). Fixed iteration
    count, first-ksub init, argmin ties to the lowest centroid index —
    every choice replayable by the pure-Python oracle."""
    if m < 1 or ksub < 2:
        raise ValueError(f"need m >= 1 and ksub >= 2, got m={m} ksub={ksub}")
    sample = _hash_order_sample(df, sample_n)
    if len(sample) < ksub:
        raise ValueError(f"sample of {len(sample)} rows < ksub={ksub}")
    x = np.array([v for _, v in sample], dtype=np.float64)
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dimension {d} not divisible by m={m}")
    dsub = d // m
    books = np.zeros((m, ksub, dsub))
    for j in range(m):
        xs = x[:, j * dsub : (j + 1) * dsub]
        cb = xs[:ksub].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(ksub):
                members = xs[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
                # empty cluster: keep the old centroid (deterministic)
        books[j] = cb
    return books


def _codebook_lit(cb: np.ndarray) -> Column:
    """ksub×dsub codebook as a nested array literal column.

    Built as ONE parsed SQL expression string rather than nested
    ``F.array(F.lit(...))`` calls (round 15, guide §1.2 per-task →
    §7.3 driver planning): the old spelling issued one py4j round-trip
    per element (ksub·dsub ≈ 128 of them per codebook, several
    codebooks per query build), which profiling attributed ~1s of
    q70's build to. Values render via ``repr`` (shortest round-trip
    decimal) and re-parse through Java's Double.parseDouble — both
    correctly rounded, so the literal is bit-identical to F.lit's.
    """
    return F.expr(_codebook_sql(cb))


def _codebook_sql(cb: np.ndarray) -> str:
    return (
        "array("
        + ", ".join(
            "array(" + ", ".join(_dlit(v) for v in row) + ")" for row in cb
        )
        + ")"
    )


def _dlit(v: float) -> str:
    """SQL double literal with exact round-trip (repr is the shortest
    decimal that parses back to the same bits). Non-finite values have
    no numeric literal (``infD``/``nanD`` do not parse), so they render
    as casts of the strings Spark reads as infinity and NaN."""
    v = float(v)
    if np.isnan(v):
        return "double('nan')"
    if np.isinf(v):
        return "double('infinity')" if v > 0 else "double('-infinity')"
    return f"{v!r}D"


def _sub_dist(sub_col: str, cb_col: str, round_dp: int | None = None) -> str:
    """SQL expr: array of squared L2 distances from the subvector in
    ``sub_col`` to each centroid of ``cb_col`` — a fold sum in fixed
    left-to-right order (the oracle replays the same order).
    ``sub_col`` must be a materialized COLUMN, not a slice()
    expression: HOF lambdas re-evaluate free subexpressions per
    element, so an inline slice would be recomputed once per centroid
    (the operators/text.py shingle gotcha). ``round_dp`` rounds each
    distance before the argmin so a cross-ENGINE oracle (whose
    list_sum may not fold left-to-right) makes identical code
    decisions; the pytest bit-match path leaves it None."""
    d = (
        f"aggregate(zip_with(c, {sub_col}, "
        "(a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    if round_dp is not None:
        d = f"round({d}, {round_dp})"
    return f"transform({cb_col}, c -> {d})"


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    round_dp: int | None = None,
) -> DataFrame:
    """Append ``pq_codes`` (array<int>, length m): nearest-centroid
    index per subspace of ``embedding``. Pure codegen map stage —
    codebooks are literals, no shuffle, no Python."""
    m, _, dsub = codebooks.shape
    base = df.columns
    # Three chained selects, not 4m withColumns: every withColumn
    # re-analyzes the whole accumulated plan including all previously
    # added codebook literal trees, so q70's build paid ~quadratic
    # driver planning cost (round 15, guide §7.3 "planning time itself
    # can become the bottleneck"). The SELECT chain produces the exact
    # same Project stack — column expressions, materialization
    # boundaries, and optimizer collapse behavior are unchanged; the
    # distance array stays its OWN column before the argmin because
    # array_position(d, array_min(d)) references it twice and
    # CollapseProject would otherwise inline the fold into both
    # references. (array_position of the min is the lowest-index
    # argmin, the same tie rule as numpy.)
    out = df.select(
        "*",
        *[
            F.expr(f"slice(embedding, {j * dsub + 1}, {dsub})").alias(f"__sub_{j}")
            for j in range(m)
        ],
        *[_codebook_lit(codebooks[j]).alias(f"__cb_{j}") for j in range(m)],
    )
    out = out.select(
        "*",
        *[
            F.expr(_sub_dist(f"__sub_{j}", f"__cb_{j}", round_dp)).alias(f"__d_{j}")
            for j in range(m)
        ],
    )
    return out.select(
        *base,
        F.array(
            *[
                F.expr(
                    f"CAST(array_position(__d_{j}, array_min(__d_{j})) - 1 AS INT)"
                )
                for j in range(m)
            ]
        ).alias("pq_codes"),
    )


def pq_adc_topk(
    encoded: DataFrame,
    query: list[float],
    codebooks: np.ndarray,
    k: int = 10,
    *,
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, adc_dist) of the k nearest rows to ``query`` by asymmetric
    PQ distance: per-subspace lookup tables built driver-side (m×ksub
    floats), shipped as literals; each row costs m array lookups + a
    sum. orderBy + limit compiles to TakeOrderedAndProject — k·tasks
    rows to the driver merge, never a global sort."""
    m, _, dsub = codebooks.shape
    q = np.asarray(query, dtype=np.float64)
    if q.shape != (m * dsub,):
        raise ValueError(f"query dim {q.shape} != {m * dsub}")
    luts = np.array(
        [((codebooks[j] - q[j * dsub : (j + 1) * dsub]) ** 2).sum(axis=1) for j in range(m)]
    )
    lut_col = F.expr(_codebook_sql(luts))
    score = F.expr(
        "aggregate(zip_with(__lut, pq_codes, (t, c) -> element_at(t, c + 1)), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return (
        encoded.withColumn("__lut", lut_col)
        .select(id_col, F.round(score, 10).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_adc_join_topk(
    encoded: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int,
    *,
    qid_col: str = "qid",
    qvec_col: str = "qv",
) -> DataFrame:
    """Multi-query ADC top-k, fully in-plan: the LUT stage of
    ``pq_adc_topk`` expressed as a broadcast join instead of a driver
    loop.

    Each QUERY row computes its own m×ksub lookup table ONCE against
    the codebook literals (a map over the tiny query frame, distances
    rounded at 9 dp so a cross-engine oracle lands on the same
    values), then broadcasts; every (query, candidate) pair costs m
    array lookups + a sum — the asymmetric-distance scan PQ exists
    for, with the big encoded side never shuffling. Scores are
    NEGATED (so rank order is uniformly descending across q70's legs)
    and rounded at 6 dp before the rank window; ties break on
    the lowest candidate id.

    encoded: output of pq_encode (vec_id, pq_codes, ...)
    queries: (qid_col, qvec_col array<double>)
    returns: (qid, candidate_id, score, rn) with rn <= k.
    """
    m, _, dsub = codebooks.shape
    # select chain instead of per-j withColumns — same Project stack,
    # one analysis pass per stage instead of one per column (see the
    # pq_encode comment)
    q = (
        queries.select(F.col(qid_col).alias("qid"), F.col(qvec_col).alias("__qv"))
        .select(
            "qid",
            *[
                F.expr(f"slice(__qv, {j * dsub + 1}, {dsub})").alias(f"__qsub_{j}")
                for j in range(m)
            ],
            *[_codebook_lit(codebooks[j]).alias(f"__qcb_{j}") for j in range(m)],
        )
        .select(
            "qid",
            *[
                F.expr(_sub_dist(f"__qsub_{j}", f"__qcb_{j}", 9)).alias(
                    f"__lut_{j}"
                )
                for j in range(m)
            ],
        )
    )
    adc = sum(
        F.expr(f"element_at(__lut_{j}, element_at(pq_codes, {j + 1}) + 1)")
        for j in range(m)
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("qid").orderBy(F.col("score").desc(), F.col("candidate_id"))
    return (
        encoded.select(F.col("vec_id").alias("candidate_id"), "pq_codes")
        .crossJoin(F.broadcast(q))
        .select("qid", "candidate_id", F.round(-adc, 6).alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def py_pq_oracle(
    sample: list[tuple[int, list[float]]],
    vectors: list[tuple[int, list[float]]],
    m: int,
    ksub: int,
    iters: int = 5,
) -> tuple[list[list[list[float]]], dict[int, list[int]]]:
    """From-scratch scalar PQ replay (training + encoding) for tests:
    plain Python loops, left-to-right fold sums — must reproduce
    train_pq_codebooks + pq_encode bit-for-bit."""
    d = len(vectors[0][1])
    dsub = d // m
    xs_all = [v for _, v in sample]
    books: list[list[list[float]]] = []
    for j in range(m):
        xs = [x[j * dsub : (j + 1) * dsub] for x in xs_all]
        cb = [list(x) for x in xs[:ksub]]
        for _ in range(iters):
            assign = []
            for x in xs:
                best, bi = None, 0
                for ci, c in enumerate(cb):
                    dist = 0.0
                    for a, b in zip(c, x):
                        dist += (a - b) * (a - b)
                    if best is None or dist < best:
                        best, bi = dist, ci
                assign.append(bi)
            for ci in range(ksub):
                members = [xs[i] for i, a in enumerate(assign) if a == ci]
                if members:
                    cb[ci] = [
                        sum(mm[t] for mm in members) / len(members)
                        for t in range(dsub)
                    ]
        books.append(cb)
    codes = {}
    for vid, v in vectors:
        row = []
        for j in range(m):
            x = v[j * dsub : (j + 1) * dsub]
            best, bi = None, 0
            for ci, c in enumerate(books[j]):
                dist = 0.0
                for a, b in zip(c, x):
                    dist += (a - b) * (a - b)
                if best is None or dist < best:
                    best, bi = dist, ci
            row.append(bi)
        codes[vid] = row
    return books, codes
