"""Count–min sketch (operators/cms.py): Spark, DuckDB, and a pure
Python replay must agree bit-for-bit, and the CMS invariants (one-
sided overestimate; exact when width dwarfs the vocabulary) must
hold on a skewed synthetic vocabulary."""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
import pandas as pd
import pytest

from etfconstituentextractor_spark.operators.cms import (
    cms_from_counts,
    sql_cms_from_counts,
)

#: the DuckDB (token, n_exact) pre-count over a registered view ``t``
_SQL_COUNTS = "SELECT token, COUNT(*) AS n_exact FROM t GROUP BY token"


def _counts(spark, toks):
    """(token, n_exact): one row per distinct token, as q81 pre-counts."""
    return spark.createDataFrame(
        list(Counter(toks).items()), "token string, n_exact bigint"
    )


def _py_cms(tokens, d, w):
    counts: dict[str, int] = {}
    for t in tokens:
        counts[t] = counts.get(t, 0) + 1
    grid: dict[tuple[int, int], int] = {}
    buckets = {}
    for t, n in counts.items():
        for r in range(d):
            b = int(hashlib.md5(f"{r}:{t}".encode()).hexdigest()[:15], 16) % w
            buckets[(t, r)] = b
            grid[(r, b)] = grid.get((r, b), 0) + n
    return {
        t: (n, min(grid[(r, buckets[(t, r)])] for r in range(d)))
        for t, n in counts.items()
    }


def _zipf_tokens():
    # skewed: tok0 x 256, tok1 x 128, ... tok8 x 1, plus a 60-token
    # uniform tail to force collisions at w=16
    toks = []
    for i in range(9):
        toks += [f"tok{i}"] * (256 >> i)
    for i in range(60):
        toks += [f"tail{i}"]
    return toks


@pytest.mark.parametrize("d,w", [(4, 16), (2, 8), (4, 4096)])
def test_cms_three_way_agreement(spark, d, w):
    toks = _zipf_tokens()
    expected = _py_cms(toks, d, w)
    got = {
        r.token: (r.n_exact, r.cms_est)
        for r in cms_from_counts(_counts(spark, toks), "token", d=d, w=w).collect()
    }
    assert got == expected
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"token": toks}))
    sql = sql_cms_from_counts(_SQL_COUNTS, "token", d=d, w=w)
    ducked = {r[0]: (r[1], r[2]) for r in con.sql(sql).fetchall()}
    assert ducked == expected


def test_cms_invariants(spark):
    toks = _zipf_tokens()
    counts = _counts(spark, toks)
    tight = cms_from_counts(counts, "token", d=4, w=16).collect()
    # one-sided: never underestimates
    assert all(r.cms_est >= r.n_exact for r in tight)
    # w=16 over ~69 distinct tokens MUST collide somewhere
    assert any(r.cms_est > r.n_exact for r in tight)
    # a width far beyond the vocabulary makes every estimate exact
    wide = cms_from_counts(counts, "token", d=4, w=1 << 20).collect()
    assert all(r.cms_est == r.n_exact for r in wide)


def test_cms_grids_merge_by_addition(spark):
    """The at-scale claim: CMS counter grids merge by plain addition.
    Estimates read from the sum of two halves' grids must equal the
    one-pass full-stream estimates (what lets partial sketches combine
    map-side at 100 TB without re-counting)."""
    toks = _zipf_tokens()
    d, w = 4, 16
    half = len(toks) // 2
    grids = []
    for part in (toks[:half], toks[half:]):
        ref = _py_cms(part, d, w)
        # rebuild the grid from the replay's internals
        import hashlib as h

        grid: dict[tuple[int, int], int] = {}
        counts: dict[str, int] = {}
        for t in part:
            counts[t] = counts.get(t, 0) + 1
        for t, n in counts.items():
            for r in range(d):
                b = int(h.md5(f"{r}:{t}".encode()).hexdigest()[:15], 16) % w
                grid[(r, b)] = grid.get((r, b), 0) + n
        grids.append(grid)
    merged: dict[tuple[int, int], int] = {}
    for g in grids:
        for k, v in g.items():
            merged[k] = merged.get(k, 0) + v

    full = _py_cms(toks, d, w)
    import hashlib as h

    for t, (n_exact, est) in full.items():
        m_est = min(
            merged[(r, int(h.md5(f"{r}:{t}".encode()).hexdigest()[:15], 16) % w)]
            for r in range(d)
        )
        assert m_est == est, t

    # and the Spark build agrees with the replay it was merged against
    got = {
        r.token: (r.n_exact, r.cms_est)
        for r in cms_from_counts(_counts(spark, toks), "token", d=d, w=w).collect()
    }
    assert got == full


def test_cms_three_way_on_adversarial_tokens(spark):
    """Tokens with quotes, unicode, separators and the hash-prefix
    colon itself must hash identically in Spark, DuckDB and Python —
    md5 runs over UTF-8 bytes in all three, and the token is a column
    reference (never a SQL literal), so no quoting can skew it."""
    toks = [
        "plain", "it's", 'quo"te', "co:lon", "0:x", "naïve", "日本語",
        "emoji🚀", " lead", "trail ", "tab\tsep", "back\\slash",
    ] * 3
    expected = _py_cms(toks, 2, 8)
    got = {
        r.token: (r.n_exact, r.cms_est)
        for r in cms_from_counts(_counts(spark, toks), "token", d=2, w=8).collect()
    }
    assert got == expected
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"token": toks}))
    ducked = {
        r[0]: (r[1], r[2])
        for r in con.sql(
            sql_cms_from_counts(_SQL_COUNTS, "token", d=2, w=8)
        ).fetchall()
    }
    assert ducked == expected


def test_cms_null_and_bad_params(spark):
    counts = spark.createDataFrame([("a", 2), (None, 1)], "token string, n_exact bigint")
    # a NULL token hashes to no bucket, so it gets no estimate row
    rows = cms_from_counts(counts, "token", d=2, w=8).collect()
    assert {r.token: r.n_exact for r in rows} == {"a": 2}
    with pytest.raises(ValueError):
        cms_from_counts(counts, "token", d=0, w=8)
