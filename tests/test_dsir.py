"""DSIR importance scoring (operators/dsir.py): pure-Python replay,
selection direction, and plan shape."""

from __future__ import annotations

import hashlib
import math

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.dsir import N_BUCKETS as _B
from etfconstituentextractor_spark.operators.dsir import dsir_scores


def _bucket(tok: str) -> int:
    return int(hashlib.md5(f"{tok}:dsir".encode()).hexdigest()[:8], 16) % _B


def _py_replay(docs: list[tuple[int, str, bool]]) -> dict[int, float]:
    """Independent scalar implementation of the hashed-unigram
    importance weight (add-1 smoothing, mean log ratio, 6 dp)."""
    ct = [0] * _B
    cr = [0] * _B
    for _, text, is_t in docs:
        for tok in text.split():
            if tok:
                (ct if is_t else cr)[_bucket(tok)] += 1
    tt, tr = sum(ct), sum(cr)
    lr = [
        math.log((ct[b] + 1) / (tt + _B)) - math.log((cr[b] + 1) / (tr + _B))
        for b in range(_B)
    ]
    out = {}
    for doc_id, text, is_t in docs:
        if is_t:
            continue
        toks = [t for t in text.split() if t]
        if toks:
            out[doc_id] = round(sum(lr[_bucket(t)] for t in toks) / len(toks), 6)
    return out


_DOCS = [
    (1, "alpha beta gamma alpha", True),
    (2, "alpha beta delta", True),
    (3, "alpha beta gamma", False),   # target-like raw doc
    (4, "omega psi chi phi", False),  # off-target raw doc
    (5, "beta beta alpha", False),
    (6, "", False),                   # tokenless: no score row
]


def test_matches_python_replay(spark):
    df = spark.createDataFrame(
        pd.DataFrame(_DOCS, columns=["doc_id", "text", "t"])
    )
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_scores(df, F.col("t")).collect()
    }
    want = _py_replay(_DOCS)
    assert got == pytest.approx(want, abs=1e-9)
    assert set(got) == {3, 4, 5}  # targets and the empty doc excluded


def test_target_like_scores_higher(spark):
    df = spark.createDataFrame(
        pd.DataFrame(_DOCS, columns=["doc_id", "text", "t"])
    )
    got = {
        r["doc_id"]: r["dsir_score"]
        for r in dsir_scores(df, F.col("t")).collect()
    }
    # the doc made of target vocabulary must outrank the disjoint one
    assert got[3] > got[4]
    assert got[5] > got[4]


def test_no_python_stages(spark):
    df = spark.createDataFrame(pd.DataFrame(_DOCS, columns=["doc_id", "text", "t"]))
    plan = (
        dsir_scores(df, F.col("t"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan, plan[:1500]
