"""Property-based Spark-vs-DuckDB checks (SURVEY.md §5.2: "same random
predicate → same hash" style corners that fixed fixtures miss).

Each hypothesis example runs a real Spark job, so example counts stay
small; the value is the corner coverage (empty sides, ties, unmatched
keys, garbage strings), not volume.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etfconstituentextractor_spark.functions.boundary import parse_money
from etfconstituentextractor_spark.operators.asof import asof_join, within_tolerance

# ETFCE_FUZZ_EXAMPLES raises the per-test example budget for one-off
# deep hunts (CI default stays small: each example runs Spark jobs)
_SETTINGS = dict(
    max_examples=int(os.environ.get("ETFCE_FUZZ_EXAMPLES", "10")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_KEY = st.integers(0, 3)
_TS = st.integers(0, 50)


@settings(**_SETTINGS)
@given(
    left=st.lists(st.tuples(_KEY, _TS), max_size=12),
    right=st.lists(st.tuples(_KEY, _TS), max_size=12, unique=True),
)
def test_asof_join_matches_duckdb_asof(spark, left, right):
    """Backward as-of semantics (>=, unmatched→null) must match DuckDB's
    native ASOF LEFT JOIN on arbitrary key/timestamp layouts. Right
    (key, ts) pairs are unique — on exact duplicates DuckDB's pick is
    unspecified while ours is the deterministic tiebreak."""
    ldf = spark.createDataFrame(left, "k bigint, lts bigint") if left else \
        spark.createDataFrame([], "k bigint, lts bigint")
    rrows = [(k, t, k * 1000 + t) for k, t in right]
    rdf = spark.createDataFrame(rrows, "k bigint, rts bigint, v bigint") if rrows else \
        spark.createDataFrame([], "k bigint, rts bigint, v bigint")

    got = sorted(
        (r.k, r.lts, r.v)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            right_payload={"v": "v"},
        ).collect()
    )

    con = duckdb.connect()
    lp = pd.DataFrame(left, columns=["k", "lts"]).astype("int64")
    rp = pd.DataFrame(rrows, columns=["k", "rts", "v"]).astype("int64")
    con.register("l", lp)
    con.register("r", rp)
    want = sorted(
        (int(k), int(t), None if pd.isna(v) else int(v))
        for k, t, v in con.execute(
            "SELECT l.k, l.lts, r.v FROM l ASOF LEFT JOIN r "
            "ON l.k = r.k AND l.lts >= r.rts"
        ).fetchall()
    )
    con.close()
    assert got == want


@settings(**_SETTINGS)
@given(
    strings=st.lists(
        # max 10 chars: beyond ~9.007e9 (2^53 micro-units) the two
        # engines' DECIMAL(38,6)→DOUBLE conversions legitimately
        # diverge in the last ulp — DuckDB converts the scaled int128
        # (600000000001 → 600000000000.9999), Spark converts the
        # BigDecimal directly (→ 600000000001.0). Found by this test;
        # a money column needing exactness past 2^53 micro-units must
        # stay DECIMAL and never round-trip through double.
        st.text(alphabet="0123456789.,- X", max_size=10), min_size=1, max_size=25
    )
)
def test_parse_money_matches_duckdb(spark, strings):
    """Null-tolerant money parsing agrees with the oracle's spelling on
    arbitrary digit/comma/garbage strings (q11's boundary contract,
    fuzzed up to the double-exactness boundary documented above)."""
    sdf = spark.createDataFrame([(s,) for s in strings], "s string")
    got = [
        None if r.v is None else float(r.v)
        for r in sdf.select(parse_money("s").cast("double").alias("v")).collect()
    ]

    con = duckdb.connect()
    con.register("t", pd.DataFrame({"s": strings}))
    want = [
        None if v is None else float(v)
        for (v,) in con.execute(
            "SELECT CAST(TRY_CAST(replace(trim(s), ',', '') AS DECIMAL(38,6)) AS DOUBLE) FROM t"
        ).fetchall()
    ]
    con.close()
    assert got == want


# ---------------------------------------------------------------------------
# connected_components (q65's engine) vs an independent union-find.
# ---------------------------------------------------------------------------
def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@settings(**_SETTINGS)
@given(edges=st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), min_size=1, max_size=25))
def test_connected_components_vs_union_find(spark, edges):
    """Min-label propagation must agree with a classic union-find on
    arbitrary graphs — self-loops, parallel edges, chains (the
    diameter-stress case for the iteration bound), and isolated
    cliques."""
    from etfconstituentextractor_spark.operators.components import (
        connected_components,
    )

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {
        r.node: r.component
        for r in connected_components(df, max_iter=40).collect()
    }
    want = _union_find_components(edges)
    assert got == want


# ---------------------------------------------------------------------------
# sampling (q83's engine) vs an independent hashlib computation.
# ---------------------------------------------------------------------------
def _py_bucket(key: int, salt: str = "mix") -> int:
    import hashlib

    return int(hashlib.md5(f"{key}:{salt}".encode()).hexdigest()[:8], 16) % 10_000


@settings(**_SETTINGS)
@given(
    keys=st.lists(st.integers(0, 10**9), min_size=1, max_size=20, unique=True),
    rate_pm=st.integers(0, 10_000),
    k=st.integers(1, 5),
)
def test_sampling_matches_independent_md5(spark, keys, rate_pm, k):
    """The md5 bucket must equal an independent hashlib computation
    (not just be self-consistent), the rate leg must keep exactly the
    rows under the threshold, and the quota leg must pick exactly the
    k smallest buckets per stratum (key tiebreak)."""
    from etfconstituentextractor_spark.operators.sampling import (
        hash_rate_sample,
        stratified_quota_sample,
    )

    rows = [(kk, "s0" if kk % 2 == 0 else "s1") for kk in keys]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    rate = rate_pm / 10_000

    got_rate = {
        (r.doc_id, r.bucket)
        for r in hash_rate_sample(
            df, {"s0": rate, "s1": rate}, strat_col="lang", key_col="doc_id"
        ).collect()
    }
    want_rate = {(kk, _py_bucket(kk)) for kk in keys if _py_bucket(kk) < rate_pm}
    assert got_rate == want_rate

    got_quota = {
        (r.lang, r.doc_id, r.rn)
        for r in stratified_quota_sample(
            df, strat_col="lang", key_col="doc_id", k=k
        ).collect()
    }
    want_quota = set()
    for stratum in ("s0", "s1"):
        members = sorted(
            (kk for kk, s in rows if s == stratum),
            key=lambda kk: (_py_bucket(kk), kk),
        )
        want_quota |= {(stratum, kk, i + 1) for i, kk in enumerate(members[:k])}
    assert got_quota == want_quota


# ---------------------------------------------------------------------------
# contamination (q82's engine) vs a pure-Python n-gram overlap.
# ---------------------------------------------------------------------------
@settings(**_SETTINGS)
@given(
    train=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=12),
        min_size=1,
        max_size=8,
    ),
    eval_=st.lists(
        st.lists(st.sampled_from("abcde"), min_size=0, max_size=12),
        min_size=1,
        max_size=3,
    ),
    n=st.sampled_from([2, 3, 4]),
)
def test_ngram_contamination_vs_python(spark, train, eval_, n):
    """Per-doc (n_ngrams, n_matched) must equal a brute-force Python
    n-gram set computation on arbitrary tiny-vocab corpora — including
    sub-n-token docs (empty gram sets on either side)."""
    from etfconstituentextractor_spark.operators.contamination import (
        ngram_contamination,
    )

    def grams(toks: list[str]) -> set[str]:
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    tdf = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(train)], "doc_id bigint, text string"
    )
    edf = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(eval_)], "doc_id bigint, text string"
    )
    got = {
        r.doc_id: (r.n_ngrams, r.n_matched)
        for r in ngram_contamination(tdf, edf, n=n).collect()
    }
    eval_grams = set().union(*(grams(t) for t in eval_)) if eval_ else set()
    want = {
        i: (len(grams(t)), len(grams(t) & eval_grams)) for i, t in enumerate(train)
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    left=st.lists(st.tuples(_KEY, _TS), max_size=12),
    right=st.lists(st.tuples(_KEY, _TS), max_size=12, unique=True),
    tol=st.integers(0, 12),
)
def test_asof_join_tolerance_matches_duckdb(spark, left, right, tol):
    """The tolerance predicate (q27's 1-hour columns): a backward as-of
    match older than `tol` seconds must null out, exactly like DuckDB
    ASOF plus a gap CASE — fuzzed over arbitrary layouts including
    tolerance=0 (only simultaneous rows survive)."""
    from pyspark.sql import functions as F

    ldf = spark.createDataFrame(left, "k bigint, lts bigint") if left else \
        spark.createDataFrame([], "k bigint, lts bigint")
    rrows = [(k, t, k * 1000 + t) for k, t in right]
    rdf = spark.createDataFrame(rrows, "k bigint, rts bigint, v bigint") if rrows else \
        spark.createDataFrame([], "k bigint, rts bigint, v bigint")

    got = sorted(
        (r.k, r.lts, r.v)
        for r in asof_join(
            ldf, rdf, on="k", left_ts="lts", right_ts="rts",
            right_payload={"rts": "rts", "v": "v"},
        ).select(
            "k",
            "lts",
            F.when(
                within_tolerance("lts", "rts", F.expr(f"INTERVAL {tol} SECONDS")), F.col("v")
            ).alias("v"),
        ).collect()
    )

    con = duckdb.connect()
    lp = pd.DataFrame(left, columns=["k", "lts"]).astype("int64")
    rp = pd.DataFrame(rrows, columns=["k", "rts", "v"]).astype("int64")
    con.register("l", lp)
    con.register("r", rp)
    want = sorted(
        (int(k), int(t), None if pd.isna(v) else int(v))
        for k, t, v in con.execute(
            f"SELECT l.k, l.lts, CASE WHEN l.lts - r.rts <= {tol} THEN r.v END "
            "FROM l ASOF LEFT JOIN r ON l.k = r.k AND l.lts >= r.rts"
        ).fetchall()
    )
    con.close()
    assert got == want


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["ab", "cd", "ef", "gh", "ij"]), min_size=0, max_size=8),
        min_size=1,
        max_size=10,
    ),
    k=st.integers(1, 5),
)
def test_bm25_matches_python_reference(spark, docs, k):
    """bm25_topk (operators/retrieval.py) against a from-scratch Python
    BM25 on arbitrary tiny corpora: same scores (6 dp), same ranks,
    same tie-breaks — including empty documents, terms absent from the
    corpus, and every-doc-matches saturation."""
    import math

    queries = {"qa": ("ab", "cd"), "qb": ("ef",), "qc": ("zz",)}  # zz never occurs
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")

    from etfconstituentextractor_spark.operators.retrieval import bm25_topk

    got = sorted(
        (r.query_id, r.doc_id, r.score, r.rn)
        for r in bm25_topk(sdf, queries, k=k).collect()
    )

    # independent reference: plain Python, no shared code
    k1, b = 1.2, 0.75
    # NOTE: split(" ") on "" yields [""], matching Spark's semantics
    toks_by_doc = {i: text.split(" ") for i, text in rows}
    n = len(rows)
    avgdl = sum(len(t) for t in toks_by_doc.values()) / n
    want = []
    for qid, terms in queries.items():
        scored = []
        for i, toks in toks_by_doc.items():
            s = 0.0
            hit = False
            for t in set(terms):
                tf = toks.count(t)
                if tf == 0:
                    continue
                hit = True
                df = sum(1 for tt in toks_by_doc.values() if t in tt)
                idf = math.log((n - df + 0.5) / (df + 0.5) + 1)
                s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(toks) / avgdl))
            if hit:
                scored.append((i, round(s, 6)))
        scored.sort(key=lambda x: (-x[1], x[0]))
        for rn, (i, s) in enumerate(scored[:k], start=1):
            want.append((qid, i, s, rn))
    assert got == sorted(want)


@given(
    values=st.lists(
        st.text(alphabet="abcdef0123456789xyz", min_size=1, max_size=6),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=2, max_value=12),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kmv_sketch_matches_python_oracle(spark, values, k):
    """operators/sketch.py vs a from-scratch hashlib reimplementation:
    same k smallest md5 hashes, same (k-1)/U(k) estimate, exact branch
    under k — on arbitrary duplicate-laden inputs."""
    import hashlib

    from etfconstituentextractor_spark.operators.sketch import kmv_distinct

    df = spark.createDataFrame([("g", v) for v in values], "grp string, v string")
    got = kmv_distinct(df, ["grp"], "v", k=k).collect()[0].kmv_est

    hashes = sorted({hashlib.md5(v.encode()).hexdigest() for v in values})
    if len(hashes) < k:
        want = float(len(hashes))
    else:
        frac = int(hashes[k - 1][:13], 16) / 16**13
        want = round((k - 1) / frac, 4)
    assert got == want
