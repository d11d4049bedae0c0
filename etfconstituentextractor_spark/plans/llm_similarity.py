"""Similarity search over `embeddings` (SURVEY.md §2B "LLM-pipeline —
similarity search").

Two paths, as a 100 TB design requires:
- q70: exact brute-force cosine top-k — the small-query-set baseline.
  The query vectors broadcast (they are the tiny side); candidates
  never shuffle; the per-query rank window runs on the scored rows.
- q71: multi-table SRP-LSH ANN — each vector's 60 hyperplane
  projections derive per-table sign buckets; a candidate shares ANY
  table's bucket with the query ('single' leg, 12×5), and the
  'multiprobe' leg halves the stored index by also probing each
  query's least-confident-sign flip. The hyperplane signs derive from
  md5 (portable, deterministic, seedless) so the *same* construction
  is expressible in the DuckDB oracle; the Spark side embeds the
  precomputed plane matrix as literals (zero hash calls per row —
  pinned by test_q71_bucket_expr_contains_no_md5).

Scores are rounded (6 dp) *before* ranking/thresholding in both
engines so keep/drop and rank decisions are identical despite
engine-level float summation differences.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.ann import (
    ivf_index,
    ivf_topk,
    srp_index_buckets,
    srp_query_probes,
)
from etfconstituentextractor_spark.operators.retrieval import bm25_topk
from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import fanout, load

_HI = "'8','9','a','b','c','d','e','f'"
_N_QUERIES = 10
_TOP_K = 5
#: q71 SRP-LSH layout: L tables of r planes (see the q71 block
#: comment for the measured recall/scan-fraction math behind 12×5).
_LSH_TABLES = 12
_LSH_PLANES_PER_TABLE = 5
#: the 'multiprobe' leg's table count: HALF the index (first 6 tables'
#: planes), 2 probes per table — the index-size-vs-probe-count trade.
_LSH_MP_TABLES = 6


def _vec(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id",
        "label",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
    ).withColumn(
        "nrm", F.sqrt(F.expr("aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x)"))
    )


# ---------------------------------------------------------------------------
# q70 — brute-force cosine top-k for a fixed query set (vec_id < 10),
# as a tagged union of two rankings over the same query/candidate
# split (§2B rows 47 + 48):
#
# - leg='float': exact double cosine (the baseline; 6 dp rounding).
# - leg='int8' : the same ranking over symmetric per-vector int8
#   codes (`operators/quantize.py`) — the 4x-smaller store a 100 TB
#   deployment actually scans. Per-vector scales CANCEL under cosine,
#   so scoring is pure integer dot products over the codes; the
#   quantization (scale = max|x|, q = clamp(round(x/scale·127))) and
#   the integer arithmetic are exactly replayable in DuckDB, which
#   makes this a full hash oracle, not a recall bound (the recall-
#   vs-exact property stays pinned in tests/test_quantize.py).
# ---------------------------------------------------------------------------
_SQL_INT8_NRM = "sqrt(list_sum(list_transform({c}, x -> x * x)))"


_PQ_M, _PQ_KSUB, _PQ_DSUB = 4, 8, 16


def _pq_leg_sql() -> str:
    """The PQ leg's oracle CTEs: seed codebooks (hash-ordered first
    ksub vectors, = train_pq_codebooks with iters=0), per-candidate
    argmin codes at 9 dp, and the ADC score as the sum of the same
    9 dp-rounded subspace distances — negated and rounded at 6 dp so
    ranking is uniformly descending."""
    nq, m, ks, ds, k = _N_QUERIES, _PQ_M, _PQ_KSUB, _PQ_DSUB, _TOP_K
    js = ", ".join(str(j) for j in range(1, m + 1))
    sq = f"(cb.c[t] - x.v[(cb.j-1)*{ds} + t]) * (cb.c[t] - x.v[(cb.j-1)*{ds} + t])"
    d2 = f"ROUND(list_sum(list_transform(range(1, {ds + 1}), t -> {sq})), 9)"
    return f"""
    pq_seeds AS (
      SELECT row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS ci, v
      FROM (SELECT * FROM e ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {ks})
    ),
    pq_cb AS (
      SELECT j, ci, list_transform(range(1, {ds + 1}), t -> v[(j-1)*{ds} + t]) AS c
      FROM pq_seeds CROSS JOIN (SELECT unnest([{js}]) AS j)
    ),
    pq_codes AS (
      SELECT vec_id, j, ci FROM (
        SELECT x.vec_id, cb.j, cb.ci,
               row_number() OVER (PARTITION BY x.vec_id, cb.j
                                  ORDER BY {d2} ASC, cb.ci ASC) AS rnk
        FROM (SELECT * FROM e WHERE vec_id >= {nq}) x CROSS JOIN pq_cb cb
      ) WHERE rnk = 1
    ),
    pq_adc AS (
      SELECT x.vec_id AS query_id, kc.vec_id AS candidate_id,
             ROUND(-SUM({d2}), 6) AS score
      FROM (SELECT * FROM e WHERE vec_id < {nq}) x
      CROSS JOIN pq_codes kc
      JOIN pq_cb cb ON cb.j = kc.j AND cb.ci = kc.ci
      GROUP BY 1, 2
    )"""


# ---------------------------------------------------------------------------
# q70 'pqfp' leg — product quantization with DISTRIBUTED, in-plan
# k-means TRAINING (operators/pq_fixedpoint.py; the 'pq' leg above is
# the sample-seeded driver-side twin with iters=0). All arithmetic is
# fixed-point integer, so the DuckDB oracle re-derives the TRAINED
# index — seeding, 3 Lloyd rounds with floored-mean updates and
# empty-cluster carry, encode, and ADC ranks — bit-for-bit. Scores
# surface as -adc_dist (descending rank like every other leg).
# ---------------------------------------------------------------------------
_PQFP_M = 8
_PQFP_DSUB = 8
_PQFP_K = 16
_PQFP_ITERS = 3
_PQFP_SCALE = 1000


def _pqfp_sql_sqdist(a: str, b: str, d: int = _PQFP_DSUB) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, {d + 1}), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j]))) AS BIGINT)"
    )


def _pqfp_sql_iter(i: int) -> str:
    return f"""
    fp_a{i} AS (
      SELECT vec_id, sub_id, code, sv FROM (
        SELECT p.vec_id, p.sub_id, c.code, p.sv,
               row_number() OVER (PARTITION BY p.vec_id, p.sub_id
                 ORDER BY {_pqfp_sql_sqdist('p.sv', 'c.cv')}, c.code) AS rn
        FROM fp_cpts p JOIN fp_c{i - 1} c ON p.sub_id = c.sub_id
      ) WHERE rn = 1
    ),
    fp_m{i} AS (
      SELECT sub_id, code, pos,
             CAST(FLOOR(CAST(SUM(v) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cvv
      FROM (SELECT sub_id, code, j AS pos, sv[j] AS v
            FROM fp_a{i}, UNNEST(range(1, {_PQFP_DSUB + 1})) AS t(j))
      GROUP BY sub_id, code, pos
    ),
    fp_n{i} AS (SELECT sub_id, code, list(cvv ORDER BY pos) AS cv
                FROM fp_m{i} GROUP BY sub_id, code),
    fp_c{i} AS (SELECT g.sub_id, g.code, COALESCE(n.cv, g.cv) AS cv
                FROM fp_c{i - 1} g LEFT JOIN fp_n{i} n
                  ON g.sub_id = n.sub_id AND g.code = n.code)"""


def _pqfp_leg_sql() -> str:
    """CTE chain re-deriving the trained fixed-point PQ index; ends at
    fp_scored(query_id, candidate_id, adc)."""
    return f"""
    fp_base AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_PQFP_SCALE} + 0.5) AS BIGINT)) AS iv
      FROM embeddings
    ),
    fp_pts AS (
      SELECT vec_id, m AS sub_id,
             iv[m * {_PQFP_DSUB} + 1 : m * {_PQFP_DSUB} + {_PQFP_DSUB}] AS sv
      FROM fp_base, UNNEST(range(0, {_PQFP_M})) AS t(m)
    ),
    fp_cpts AS (SELECT * FROM fp_pts WHERE vec_id >= {_N_QUERIES}),
    fp_seeds AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS code
      FROM (SELECT DISTINCT vec_id FROM fp_cpts)
      QUALIFY code < {_PQFP_K}
    ),
    fp_c0 AS (SELECT p.sub_id, s.code, p.sv AS cv
              FROM fp_cpts p JOIN fp_seeds s ON p.vec_id = s.vec_id),
    {",".join(_pqfp_sql_iter(i) for i in range(1, _PQFP_ITERS + 1))},
    fp_enc AS (
      SELECT vec_id, sub_id, code FROM (
        SELECT p.vec_id, p.sub_id, c.code,
               row_number() OVER (PARTITION BY p.vec_id, p.sub_id
                 ORDER BY {_pqfp_sql_sqdist('p.sv', 'c.cv')}, c.code) AS rn
        FROM fp_cpts p JOIN fp_c{_PQFP_ITERS} c ON p.sub_id = c.sub_id
      ) WHERE rn = 1
    ),
    fp_qsub AS (SELECT vec_id AS qid, sub_id, sv AS qv
                FROM fp_pts WHERE vec_id < {_N_QUERIES}),
    fp_dt AS (
      SELECT q.qid, c.sub_id, c.code, {_pqfp_sql_sqdist('q.qv', 'c.cv')} AS d
      FROM fp_qsub q JOIN fp_c{_PQFP_ITERS} c ON q.sub_id = c.sub_id
    ),
    fp_scored AS (
      SELECT dt.qid AS query_id, e.vec_id AS candidate_id,
             CAST(SUM(dt.d) AS BIGINT) AS adc
      FROM fp_enc e JOIN fp_dt dt ON e.sub_id = dt.sub_id AND e.code = dt.code
      GROUP BY dt.qid, e.vec_id
    )"""


def _pqfp_recipe() -> str:
    """Hash of the SOURCE feeding the cached codebook: the trainer
    module (pqfp_train, fixed_point_subvectors, and their helpers all
    live in operators/pq_fixedpoint.py) plus the in-plan vector/score
    derivations a refactor could route candidates through. A cache
    entry signed under different source is stale BY DEFINITION — the
    trained values are a function of (corpus, params, code), and the
    first two terms alone let an edited trainer silently serve its
    predecessor's codebook on bench-only runs (the hash oracle only
    re-derives on correctness runs). Cost of over-invalidation: one
    ~2.3s retrain after any edit — the safe direction."""
    import hashlib
    import inspect

    from etfconstituentextractor_spark.operators import pq_fixedpoint

    src = (
        inspect.getsource(pq_fixedpoint)
        + inspect.getsource(_vec)
        + inspect.getsource(_spark_dots)
    )
    return hashlib.md5(src.encode()).hexdigest()


def _pqfp_codebook_cached(spark, sf_dir: str, fcand, train) -> DataFrame:
    """The trained fixed-point codebook, cached by corpus fingerprint
    + training params — the q22 bucketed-tables / replay staged-chunks
    discipline applied to INDEX STATE: a deployment trains its PQ
    index once per corpus version and serves from it, so re-running
    the 3 Lloyd rounds inside every query execution (~2.3s warm at
    sf0.1) measures a cost no steady-state system pays. The cache is
    correctness-neutral by construction: training is deterministic
    from the corpus (seeding by md5(vec_id), driver-synced rounds,
    floored integer centroids — pqfp_train's contract), the key
    carries the table fingerprint (root-relative path+size+mtime_ns,
    so any refresh re-trains), and the DuckDB oracle re-derives the
    SAME codebook relationally on every correctness run — a stale or
    corrupted cache cannot pass the hash. Value = the M*K codebook
    rows (index metadata, never corpus data)."""
    import hashlib
    import json
    import os
    import tempfile

    from etfconstituentextractor_spark.sources.fingerprint import table_fingerprint

    sig = json.dumps(
        {
            "fp": table_fingerprint(sf_dir, "embeddings"),
            "m": _PQFP_M,
            "k": _PQFP_K,
            "iters": _PQFP_ITERS,
            "dsub": _PQFP_DSUB,
            "scale": _PQFP_SCALE,
            "nq": _N_QUERIES,
            # params + corpus identify the INPUT, not the code that
            # trains on it — the recipe term hashes the LIVE SOURCE of
            # the trainer module and the in-plan candidate derivation,
            # so any algorithm edit invalidates the cache without a
            # hand-bumped integer anyone can forget (round-9 review
            # found the forgetting; round-10 advice found the
            # hand-bump's blind spot: candidate-derivation changes)
            "recipe": _pqfp_recipe(),
        },
        sort_keys=True,
    )
    schema = "sub_id bigint, code int, cv array<bigint>"
    key = hashlib.md5(sig.encode()).hexdigest()[:16]
    # uid in the name: /tmp is world-shared — publishing over another
    # user's cache file would EPERM under the sticky bit (round-9
    # review finding); per-user caches sidestep it entirely
    uid = os.getuid() if hasattr(os, "getuid") else 0
    path = os.path.join(tempfile.gettempdir(), f"etfce_pqfp_cb_u{uid}_{key}.json")
    if os.path.isfile(path):
        try:
            with open(path) as fh:
                doc = json.load(fh)
        except (OSError, ValueError):
            doc = None
        if doc and doc.get("sig") == sig:
            return spark.createDataFrame(
                [tuple(r) for r in doc["rows"]], schema=schema
            )
    fcb = train(fcand, k=_PQFP_K, iters=_PQFP_ITERS, dsub=_PQFP_DSUB)
    rows = sorted((r["sub_id"], r["code"], list(r["cv"])) for r in fcb.collect())
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        with open(tmp, "w") as fh:
            json.dump({"sig": sig, "rows": rows}, fh)
        os.replace(tmp, path)  # atomic publish; racers write identical bytes
    except OSError:
        # cache publish is best-effort: a permission/space failure must
        # not fail the query — the trained frame is already in hand
        try:
            os.remove(tmp)
        except OSError:
            pass
    return spark.createDataFrame(rows, schema=schema)


@query(
    "q70_similarity_topk_cosine",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             ROUND(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
                   / (q.nrm * c.nrm), 6) AS score
      FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q
      JOIN (SELECT * FROM e WHERE vec_id >= {_N_QUERIES}) c ON true
    ),
    codes AS (
      SELECT vec_id,
             CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
                  THEN list_transform(v, x -> CAST(0 AS BIGINT))
                  ELSE list_transform(v, x -> CAST(greatest(-127, least(127,
                       round(x / list_max(list_transform(v, y -> abs(y))) * 127)))
                       AS BIGINT)) END AS q
      FROM e
    ),
    int8_scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS candidate_id,
             ROUND(list_sum(list_transform(range(1, 65), i -> q.q[i] * c.q[i]))
                   / ({_SQL_INT8_NRM.format(c='q.q')} * {_SQL_INT8_NRM.format(c='c.q')}),
                   9) AS score
      FROM (SELECT * FROM codes WHERE vec_id < {_N_QUERIES}) q
      JOIN (SELECT * FROM codes WHERE vec_id >= {_N_QUERIES}) c ON true
    ),{_pq_leg_sql()},{_pqfp_leg_sql()}
    SELECT 'float' AS leg, query_id, candidate_id, score, rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, candidate_id) AS rn
      FROM scored
    )
    WHERE rn <= {_TOP_K}
    UNION ALL
    SELECT 'int8', query_id, candidate_id, score, rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, candidate_id) AS rn
      FROM int8_scored
    )
    WHERE rn <= {_TOP_K}
    UNION ALL
    SELECT 'pq', query_id, candidate_id, score, rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, candidate_id) AS rn
      FROM pq_adc
    )
    WHERE rn <= {_TOP_K}
    UNION ALL
    SELECT 'pqfp', query_id, candidate_id, score, rn
    FROM (
      SELECT query_id, candidate_id, CAST(-adc AS DOUBLE) AS score,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY adc, candidate_id) AS rn
      FROM fp_scored
    )
    WHERE rn <= {_TOP_K}
    """,
)
def q70_similarity_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etfconstituentextractor_spark.operators.pq import (
        pq_adc_join_topk,
        pq_encode,
        train_pq_codebooks,
    )
    from etfconstituentextractor_spark.operators.quantize import (
        int8_cosine_topk,
        quantize_int8,
    )

    # One hash repartition of the embeddings feeds every leg: the
    # corpus parquet arrives as a single split at bench SF, and all
    # four legs' real compute is HOF lambdas (CodegenFallback —
    # interpreted), which must not run as one task. Identical child
    # exchanges across the four union branches collapse to one via
    # ReuseExchange; at 100 TB the scan's natural splits make this a
    # cheap rebalance of (id, vector) rows.
    emb = load(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    e = _vec(emb)
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    c = e.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("candidate_id"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
    )
    # per-pair dot via the Arrow strict-left-fold kernel (round 15,
    # guide §4.2): bit-identical to the old aggregate(zip_with(...))
    # interpreted HOF; the broadcast join and rank window are unchanged
    from etfconstituentextractor_spark.operators.veckernel import append_pair_dot

    scored = append_pair_dot(
        c.crossJoin(F.broadcast(q)).select(
            "query_id", "candidate_id", "qv", "cv", "qn", "cn"
        ),
        "qv",
        "cv",
        "__dot",
    ).select(
        "query_id",
        "candidate_id",
        F.round(F.col("__dot") / (F.col("qn") * F.col("cn")), 6).alias("score"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("candidate_id"))
    flt = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select(F.lit("float").alias("leg"), "query_id", "candidate_id", "score", "rn")
    )
    qz = quantize_int8(e.select("vec_id", "v"), "v")
    i8 = int8_cosine_topk(
        qz.filter(F.col("vec_id") >= _N_QUERIES).select(F.col("vec_id").alias("id"), "q"),
        qz.filter(F.col("vec_id") < _N_QUERIES).select(F.col("vec_id").alias("qid"), "q"),
        k=_TOP_K,
    ).select(
        F.lit("int8").alias("leg"),
        F.col("qid").alias("query_id"),
        F.col("candidate_id"),
        F.col("cos_q").alias("score"),
        "rn",
    )
    # pq leg: SEED codebooks (iters=0 -> the hash-ordered first-ksub
    # subvectors, which the oracle re-derives relationally; Lloyd
    # REFINEMENT stays the pytest-only training surface, the q51/BPE
    # precedent), rounded-encode so both engines pick identical codes,
    # then the in-plan LUT-join ADC scan.
    cb = train_pq_codebooks(emb, m=_PQ_M, ksub=_PQ_KSUB, sample_n=_PQ_KSUB, iters=0)
    enc = pq_encode(
        emb.filter(F.col("vec_id") >= _N_QUERIES), cb, round_dp=9
    )
    pq = pq_adc_join_topk(
        enc,
        e.filter(F.col("vec_id") < _N_QUERIES).select("vec_id", "v"),
        cb,
        k=_TOP_K,
        qid_col="vec_id",
        qvec_col="v",
    ).select(
        F.lit("pq").alias("leg"),
        F.col("qid").alias("query_id"),
        "candidate_id",
        "score",
        "rn",
    )
    # pqfp leg: DISTRIBUTED fixed-point training (3 driver-synced
    # Lloyd rounds, each one map-combinable job), integer encode +
    # ADC — the oracle replays the trained index bit-for-bit
    from etfconstituentextractor_spark.operators.pq_fixedpoint import (
        fixed_point_subvectors,
        pqfp_adc_topk,
        pqfp_assign,
        pqfp_train,
    )

    fpts = fixed_point_subvectors(emb, m=_PQFP_M, dsub=_PQFP_DSUB, scale=_PQFP_SCALE)
    # mode="sync" (default): each Lloyd round is one distributed job
    # whose M*K-row count/sum result syncs to the driver and re-enters
    # as a literal LocalRelation — constant plan shape, no lineage
    # growth, no truncate-vs-lazy tuning knob, and the identical
    # codebook at any data size (the MLlib-KMeans discipline; measured
    # ~3x faster here than either the per-round-checkpoint or the
    # fully-lazy 2^iters-plan alternatives, both of which this leg
    # cycled through in rounds 6-7). pqfp_train persists fcand for the
    # duration of its rounds; encode below re-derives it from the
    # parquet scan — a cheap re-read, the repo's re-scan-beats-
    # checkpoint doctrine. fpts inherits the query-level hash
    # repartition above, so the argmin work is already spread.
    fcand = fpts.filter(F.col("vec_id") >= _N_QUERIES)
    fq = fpts.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), "sub_id", F.col("sv").alias("qv")
    )
    fcb = _pqfp_codebook_cached(spark, sf_dir, fcand, pqfp_train)
    fcodes = pqfp_assign(fcand, fcb, dsub=_PQFP_DSUB).select("vec_id", "sub_id", "code")
    fp = pqfp_adc_topk(fcodes, fq, fcb, k=_TOP_K, dsub=_PQFP_DSUB).select(
        F.lit("pqfp").alias("leg"),
        F.col("qid").alias("query_id"),
        F.col("vec_id").alias("candidate_id"),
        (-F.col("adc_dist")).cast("double").alias("score"),
        "rn",
    )
    return flt.unionByName(i8).unionByName(pq).unionByName(fp)


# ---------------------------------------------------------------------------
# q71 — multi-table SRP-LSH ANN (Charikar 2002 sign-random-projection,
# the standard L-tables-of-r-planes layout): each vector gets ONE
# 60-sign signature against md5-derived ±1 hyperplanes; table t's
# bucket is signs[t*r : t*r+r], a candidate is any vector sharing ANY
# table's bucket with the query, candidates dedup, exact cosine
# reranks, top-k.
#
# Why L×r and not one wide bucket (the round-8 rework): a single
# 8-plane table is structurally blind on this corpus — the best true
# neighbors sit at cos≈0.3 (p_agree≈0.6/plane), so the probability of
# sharing all 8 signs is 0.6^8≈2%, and MEASURED recall@5 was 0.0.
# With L=12 tables of r=5: P(neighbor candidates) = 1-(1-0.6^5)^12 ≈
# 0.62 while a random pair passes at 1-(1-0.5^5)^12 ≈ 0.32 — the
# classic recall/scan-fraction dial, and BOTH sides of it are pinned
# as runtime measurements in tests/test_operators.py. (16×6 was also
# measured: recall 0.42/0.58 at sf0.001/0.01 at scan 0.22, but 50%
# more signature flops — the plane dots, interpreted HOF lambdas,
# dominate the leg's cost, so fewer planes with HIGHER recall wins.)
# At 100 TB the same plan shape holds: signatures are one
# literal-matrix projection pass, per-table buckets explode L×
# (fixed-width rows), the bucket-equi-join shuffles hash-sized keys
# only, and the scan fraction is the tunable cost.
#
# Tagged legs (round-8 continuation): leg='single' is the 12×5 layout
# above; leg='multiprobe' is Lv et al. 2007's multi-probe variant over
# HALF the tables (operators/ann.py srp_* — the index stores one
# bucket per table, each query also probes the bucket with its
# least-confident sign flipped, i.e. smallest |dot|). The same 60
# round-9 plane dots feed both legs (signs AND flip margins derive
# from one array, computed once per vector); the oracle re-derives
# the flip with list_position(abs-min) so tie-breaks match exactly.
# The leg pair pins the index-size-vs-probe-count trade under the
# hash oracle: half the stored index, two probes, measured within ten
# recall points of the full index at the same scan fraction.
#
# The plane matrix is PRECOMPUTED once on the driver (hashlib.md5 —
# byte-identical to both engines' md5()) and embedded as a literal
# 60×64 ±1 array: zero hash calls per row instead of the 3840
# md5-per-(row,plane,dim) the oracle spells out. Same signs, same
# buckets — the oracle keeps the md5 form as the independent spec.
# ---------------------------------------------------------------------------
def _plane_matrix() -> list[list[float]]:
    import hashlib

    return [
        [
            1.0 if hashlib.md5(f"{i}_{j}".encode()).hexdigest()[0] in "89abcdef" else -1.0
            for j in range(1, 65)
        ]
        for i in range(_LSH_TABLES * _LSH_PLANES_PER_TABLE)
    ]


def _spark_dots(v: str) -> str:
    """Round-9 projections onto every plane — signs AND multi-probe
    flip margins both derive from this one array, computed once."""
    planes = ", ".join(
        "array(" + ", ".join(f"{s}D" for s in row) + ")" for row in _plane_matrix()
    )
    return (
        f"transform(array({planes}), p -> "
        f"round(aggregate(zip_with({v}, p, (x, y) -> x * y), 0D, "
        f"(acc, x) -> acc + x), 9))"
    )


def _sql_dots(v: str) -> str:
    n = _LSH_TABLES * _LSH_PLANES_PER_TABLE
    return (
        f"list_transform(range(0, {n}), i -> "
        f"round(list_sum(list_transform(range(1, 65), j -> "
        f"{v}[j] * (CASE WHEN substr(md5(concat(CAST(i AS VARCHAR), '_', "
        f"CAST(j AS VARCHAR))), 1, 1) IN ({_HI}) THEN 1.0 ELSE -1.0 END))), 9))"
    )




@query(
    "q71_similarity_lsh_ann",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    h AS (
      SELECT vec_id, v, nrm, dots,
             array_to_string(list_transform(dots,
               d -> CASE WHEN d >= 0 THEN '1' ELSE '0' END), '') AS sig
      FROM (SELECT vec_id, v, nrm, {_sql_dots('v')} AS dots FROM e)
    ),
    tb AS (
      SELECT vec_id, t,
             substr(sig, t * {_LSH_PLANES_PER_TABLE} + 1, {_LSH_PLANES_PER_TABLE}) AS b
      FROM h, (SELECT unnest(range(0, {_LSH_TABLES})) AS t)
    ),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS candidate_id
      FROM (SELECT * FROM tb WHERE vec_id < {_N_QUERIES}) q
      JOIN (SELECT * FROM tb WHERE vec_id >= {_N_QUERIES}) c
        ON q.t = c.t AND q.b = c.b
    ),
    -- multiprobe leg: HALF the tables; index side keeps one bucket
    -- per table, the QUERY side also probes the bucket with its
    -- least-confident sign flipped (smallest |dot|, first on ties)
    mp_idx AS (
      SELECT vec_id, t,
             substr(sig, t * {_LSH_PLANES_PER_TABLE} + 1, {_LSH_PLANES_PER_TABLE}) AS b
      FROM h, (SELECT unnest(range(0, {_LSH_MP_TABLES})) AS t)
      WHERE vec_id >= {_N_QUERIES}
    ),
    mp_qbase AS (
      SELECT vec_id, t,
             substr(sig, t * {_LSH_PLANES_PER_TABLE} + 1, {_LSH_PLANES_PER_TABLE}) AS b,
             list_transform(
               dots[t * {_LSH_PLANES_PER_TABLE} + 1 : t * {_LSH_PLANES_PER_TABLE} + {_LSH_PLANES_PER_TABLE}],
               d -> abs(d)) AS ab
      FROM h, (SELECT unnest(range(0, {_LSH_MP_TABLES})) AS t)
      WHERE vec_id < {_N_QUERIES}
    ),
    mp_q AS (
      SELECT vec_id, t, b FROM mp_qbase
      UNION ALL
      SELECT vec_id, t,
             concat(substr(b, 1, w - 1),
                    CASE WHEN substr(b, w, 1) = '1' THEN '0' ELSE '1' END,
                    substr(b, w + 1, {_LSH_PLANES_PER_TABLE} - w)) AS b
      FROM (SELECT vec_id, t, b,
                   CAST(list_position(ab, list_min(ab)) AS INTEGER) AS w
            FROM mp_qbase)
    ),
    mp_cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS candidate_id
      FROM mp_q q JOIN mp_idx c ON q.t = c.t AND q.b = c.b
    ),
    legs AS (
      SELECT 'single' AS leg, query_id, candidate_id FROM cand
      UNION ALL
      SELECT 'multiprobe', query_id, candidate_id FROM mp_cand
    ),
    scored AS (
      SELECT leg, query_id, candidate_id,
             ROUND(list_sum(list_transform(range(1, 65), i -> qe.v[i] * ce.v[i]))
                   / (qe.nrm * ce.nrm), 6) AS cos_sim
      FROM legs
      JOIN h qe ON qe.vec_id = query_id
      JOIN h ce ON ce.vec_id = candidate_id
    )
    SELECT leg, query_id, candidate_id, cos_sim, rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY leg, query_id
                                   ORDER BY cos_sim DESC, candidate_id) AS rn
      FROM scored
    )
    WHERE rn <= {_TOP_K}
    """,
)
def q71_similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fanout BEFORE the signature pass: the embeddings scan is one
    # split at small SF, and the 60-plane projection is exactly the
    # expensive-per-row work the spreader exists for. The projection
    # itself runs in the Arrow strict-left-fold kernel (round 15 —
    # bit-identical to the old _spark_dots HOF; the 9-dp round stays
    # in the JVM) instead of 60 interpreted aggregate(zip_with) folds
    # per vector.
    from etfconstituentextractor_spark.operators.veckernel import append_plane_dots

    e = append_plane_dots(
        fanout(load(spark, sf_dir, "embeddings"), key="vec_id").select(
            "vec_id",
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"),
        ),
        "v",
        _plane_matrix(),
        "__rawdots",
    ).select("vec_id", F.expr("transform(__rawdots, d -> round(d, 9))").alias("dots"))
    # The 60 plane dots are consumed by THREE bucket branches (single
    # tables, multiprobe index, multiprobe query probes); per-branch
    # pruning would re-run the projection pass per consumer, so the
    # (vec_id, dots) frame materializes once (the q62/q64
    # localCheckpoint convention). Every bucket derivation below goes
    # through operators/ann.py's ONE _srp_bucket_structs expression —
    # the sign-slice math must never exist in two copies.
    e = e.localCheckpoint()
    r = _LSH_PLANES_PER_TABLE
    tb = srp_index_buckets(e, _LSH_TABLES, r)
    q = tb.filter(F.col("vec_id") < _N_QUERIES)
    c = tb.filter(F.col("vec_id") >= _N_QUERIES)
    cand = (
        q.select(F.col("vec_id").alias("query_id"), "t", "b")
        .join(c.select(F.col("vec_id").alias("candidate_id"), "t", "b"), ["t", "b"])
        .select("query_id", "candidate_id")
        .distinct()
    )

    # 'multiprobe' leg (operators/ann.py): half the tables, the index
    # keeps ONE bucket per table, each query also probes its
    # least-confident-sign flip — recall without index growth.
    mp_idx = srp_index_buckets(
        e.filter(F.col("vec_id") >= _N_QUERIES), _LSH_MP_TABLES, r
    )
    mp_q = srp_query_probes(e.filter(F.col("vec_id") < _N_QUERIES), _LSH_MP_TABLES, r)
    mp_cand = (
        mp_q.select(F.col("vec_id").alias("query_id"), "t", "b")
        .join(
            mp_idx.select(F.col("vec_id").alias("candidate_id"), "t", "b"), ["t", "b"]
        )
        .select("query_id", "candidate_id")
        .distinct()
    )

    legs = cand.select(
        F.lit("single").alias("leg"), "query_id", "candidate_id"
    ).unionByName(
        mp_cand.select(F.lit("multiprobe").alias("leg"), "query_id", "candidate_id")
    )
    vecs = _vec(load(spark, sf_dir, "embeddings"))
    qv = vecs.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    cv = vecs.select(
        F.col("vec_id").alias("candidate_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    # rerank dot via the Arrow strict-left-fold kernel (round 15 —
    # bit-identical to the interpreted aggregate(zip_with(...)) HOF)
    from etfconstituentextractor_spark.operators.veckernel import append_pair_dot

    scored = append_pair_dot(
        legs.join(F.broadcast(qv), "query_id")
        .join(cv, "candidate_id")
        .select("leg", "query_id", "candidate_id", "qv", "cv", "qn", "cn"),
        "qv",
        "cv",
        "__dot",
    ).select(
        "leg",
        "query_id",
        "candidate_id",
        F.round(F.col("__dot") / (F.col("qn") * F.col("cn")), 6).alias("cos_sim"),
    )
    w = W.partitionBy("leg", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("candidate_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _TOP_K)
        .select("leg", "query_id", "candidate_id", "cos_sim", "rn")
    )


# ---------------------------------------------------------------------------
# q72 — IVF ANN (operators/ann.py registered end-to-end): the
# index/search split q71's single-shot LSH doesn't demonstrate.
# **index** — every candidate vector is assigned to its nearest of 8
# centroids (a deterministic corpus subset, vec_id 10..17; broadcast,
# argmax-cos via max_by, candidate vectors never shuffle).
# **search** — each query probes only its nprobe=2 nearest cells, then
# exact-cosine reranks within the probed cells (~N/4 candidates
# instead of N). Assignment scores round at 9dp, final scores at 6dp
# — both engines make identical cell and rank decisions; ties break
# on the lowest cell / candidate id.
#
# The oracle spells the same construction relationally: argmax-cos
# assignment and probe ranking as row_number windows over the
# candidate×centroid / query×centroid cross products.
# ---------------------------------------------------------------------------
_N_CELLS = 8
_NPROBE = 2
_SQL_CENT_LO = _N_QUERIES
_SQL_CENT_HI = _N_QUERIES + _N_CELLS


def _sql_dot(a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"


@query(
    "q72_similarity_ivf_ann",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    cent AS (SELECT vec_id AS cell, v AS cv, nrm AS cn FROM e
             WHERE vec_id >= {_SQL_CENT_LO} AND vec_id < {_SQL_CENT_HI}),
    assigned AS (
      SELECT id, v, nrm, cell FROM (
        SELECT c.vec_id AS id, c.v, c.nrm, ct.cell,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY ROUND({_sql_dot('c.v', 'ct.cv')} / (c.nrm * ct.cn), 9) DESC,
                          ct.cell ASC) AS rnc
        FROM (SELECT * FROM e WHERE vec_id >= {_N_QUERIES}) c CROSS JOIN cent ct
      ) WHERE rnc = 1
    ),
    probes AS (
      SELECT qid, qv, qn, cell FROM (
        SELECT q.vec_id AS qid, q.v AS qv, q.nrm AS qn, ct.cell,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY ROUND({_sql_dot('q.v', 'ct.cv')} / (q.nrm * ct.cn), 9) DESC,
                          ct.cell ASC) AS rnc
        FROM (SELECT * FROM e WHERE vec_id < {_N_QUERIES}) q CROSS JOIN cent ct
      ) WHERE rnc <= {_NPROBE}
    )
    SELECT query_id, candidate_id, cos_sim, rn FROM (
      SELECT p.qid AS query_id, a.id AS candidate_id,
             ROUND({_sql_dot('a.v', 'p.qv')} / (a.nrm * p.qn), 6) AS cos_sim,
             row_number() OVER (PARTITION BY p.qid
               ORDER BY ROUND({_sql_dot('a.v', 'p.qv')} / (a.nrm * p.qn), 6) DESC,
                        a.id ASC) AS rn
      FROM assigned a JOIN probes p ON a.cell = p.cell
    ) WHERE rn <= {_TOP_K}
    """,
)
def q72_similarity_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _vec(load(spark, sf_dir, "embeddings"))
    cent = e.filter(
        (F.col("vec_id") >= _SQL_CENT_LO) & (F.col("vec_id") < _SQL_CENT_HI)
    ).select(F.col("vec_id").alias("cell"), F.col("v").alias("cv"))
    vectors = e.filter(F.col("vec_id") >= _N_QUERIES).select(
        F.col("vec_id").alias("id"), "v"
    )
    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    indexed = ivf_index(vectors, cent)
    topk = ivf_topk(indexed, queries, cent, k=_TOP_K, nprobe=_NPROBE)
    return topk.select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("candidate_id"),
        "cos_sim",
        "rn",
    )


# ---------------------------------------------------------------------------
# q73 — BM25 lexical retrieval top-k over `documents` (§2B
# "LLM-pipeline — text analysis" retrieval adjunct; the lexical
# counterpart of q70's embedding search — real pipelines run both and
# fuse). Okapi BM25 with k1=1.2, b=0.75:
#
#   score(d, q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
#   idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)
#
# Scale posture: tokenize → explode → filter to the (tiny, literal)
# query-term set BEFORE any shuffle — the groupBy(doc, term) then
# carries only matching tokens, linear in corpus hits. Corpus stats
# (N, avgdl) and per-term document frequencies join back as broadcast
# scalar frames — no driver collect. Scores round to 6 dp BEFORE
# ranking in both engines (module convention) so ranks are identical
# despite float-summation differences; ties break on doc_id.
# ---------------------------------------------------------------------------
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
BM25_QUERIES: dict[str, tuple[str, ...]] = {
    "spark_join": ("spark", "hash", "join"),
    "stream_agg": ("stream", "window", "agg"),
    "vector_scan": ("vector", "scan", "filter"),
}
#: 'rrf' leg: each named query also has a designated query EMBEDDING
#: (doc_id = vec_id is the corpus pairing); lexical and vector top-20
#: pools fuse by reciprocal rank — the standard hybrid-retrieval
#: composition (see operators/retrieval.py:rrf_fuse).
RRF_QUERY_VECS: dict[str, int] = {
    "spark_join": 0,
    "stream_agg": 1,
    "vector_scan": 2,
}
RRF_POOL = 20
RRF_K = 60


def _bm25_oracle() -> str:
    qvals = ", ".join(
        f"('{qid}', '{t}')" for qid, terms in sorted(BM25_QUERIES.items()) for t in terms
    )
    all_terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts})
    )
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
      FROM documents
    ),
    stats AS (SELECT COUNT(*) AS n_docs, avg(dl) AS avgdl FROM d),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(toks) AS tok FROM d)
      WHERE tok IN ({all_terms})
      GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, COUNT(*) AS df FROM tf GROUP BY 1),
    qterms(query_id, tok) AS (VALUES {qvals}),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(ROUND(SUM(
               ln((n_docs - df + 0.5) / (df + 0.5) + 1)
               * tf * ({BM25_K1} + 1)
               / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
             ), 6) AS DOUBLE) AS score
      FROM tf
      JOIN qterms q USING (tok)
      JOIN dfreq USING (tok)
      JOIN d USING (doc_id)
      CROSS JOIN stats
      GROUP BY 1, 2
    ),
    bm_ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM scored
    ),
    qmap(query_id, qvec_id) AS (VALUES {", ".join(f"('{q}', {v})" for q, v in sorted(RRF_QUERY_VECS.items()))}),
    ev AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    cos_ranked AS (
      SELECT query_id, doc_id, row_number() OVER (
               PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM (
        SELECT m.query_id, c.vec_id AS doc_id,
               ROUND(list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
                     / (q.nrm * c.nrm), 6) AS score
        FROM qmap m
        JOIN ev q ON q.vec_id = m.qvec_id
        JOIN ev c ON true
      )
    ),
    fused AS (
      SELECT query_id, doc_id,
             CAST(ROUND(SUM(CAST(1 AS DOUBLE) / ({RRF_K} + rn)), 9) AS DOUBLE) AS score
      FROM (
        SELECT query_id, doc_id, rn FROM bm_ranked WHERE rn <= {RRF_POOL}
        UNION ALL
        SELECT query_id, doc_id, rn FROM cos_ranked WHERE rn <= {RRF_POOL}
      )
      GROUP BY 1, 2
    )
    SELECT 'bm25' AS leg, query_id, doc_id, score, CAST(rn AS INTEGER) AS rn
    FROM bm_ranked WHERE rn <= {BM25_TOP_K}
    UNION ALL
    SELECT 'rrf', query_id, doc_id, score, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
      FROM fused
    )
    WHERE rn <= {BM25_TOP_K}
    """


@query("q73_text_bm25_topk", oracle=_bm25_oracle())
def q73_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical + hybrid retrieval as tagged legs: 'bm25' is the Okapi
    top-10; 'rrf' fuses the BM25 top-20 pool with a cosine top-20
    pool (query embeddings per RRF_QUERY_VECS, doc_id = vec_id) by
    reciprocal rank. ONE BM25 scoring pass feeds both legs (the
    'bm25' leg is the rn<=10 prefix of the pool)."""
    from etfconstituentextractor_spark.operators.retrieval import rrf_fuse

    docs = load(spark, sf_dir, "documents")
    # the pool feeds two branches (bm25-leg prefix + rrf union) —
    # localCheckpoint the 60-row frame so the corpus-scoring subtree
    # runs once (per-branch pruning defeats ReuseExchange otherwise);
    # coalesce(1) first: checkpointing 32 near-empty post-shuffle
    # partitions costs more than the 60 rows do
    pool = (
        bm25_topk(docs, BM25_QUERIES, k=RRF_POOL, k1=BM25_K1, b=BM25_B)
        .coalesce(1)
        .localCheckpoint()
    )
    bm_leg = pool.filter(F.col("rn") <= BM25_TOP_K).select(
        F.lit("bm25").alias("leg"), "query_id", "doc_id", "score", "rn"
    )

    e = _vec(load(spark, sf_dir, "embeddings"))
    qmap = pool.sparkSession.createDataFrame(
        sorted(RRF_QUERY_VECS.items()), "query_id string, qvec_id bigint"
    )
    q = qmap.join(e, qmap.qvec_id == e.vec_id).select(
        "query_id", F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    from etfconstituentextractor_spark.operators.veckernel import append_pair_dot

    cos_pool = (
        append_pair_dot(
            e.crossJoin(F.broadcast(q)).select(
                "query_id", F.col("vec_id").alias("doc_id"), "qv", "v", "qn", "nrm"
            ),
            "qv",
            "v",
            "__dot",
        )
        .select(
            "query_id",
            "doc_id",
            F.round(F.col("__dot") / (F.col("qn") * F.col("nrm")), 6).alias("score"),
        )
        .withColumn(
            "rn",
            F.row_number()
            .over(W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("doc_id")))
            .cast("int"),
        )
        .filter(F.col("rn") <= RRF_POOL)
    )
    rrf_leg = rrf_fuse([pool, cos_pool], k_rrf=RRF_K, top_k=BM25_TOP_K).select(
        F.lit("rrf").alias("leg"), "query_id", "doc_id", "score", "rn"
    )
    return bm_leg.unionByName(rrf_leg)
