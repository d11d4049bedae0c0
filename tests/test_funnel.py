"""Ordered-sequence funnel (operators/funnel.py): chained-minimum
semantics against hand-built event paths, the DuckDB SQL twin on the
same frame, and the one-exchange plan contract."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest

from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.funnel import funnel, sql_funnel


def _ts(s):
    return dt.datetime.fromisoformat(s)


ROWS = [
    # u1: clean view -> click -> purchase
    (1, _ts("2024-01-01T10:00:00"), "view"),
    (1, _ts("2024-01-01T10:05:00"), "click"),
    (1, _ts("2024-01-01T10:30:00"), "purchase"),
    # u2: purchase BEFORE the view doesn't count; funnel stalls at click
    (2, _ts("2024-01-01T09:00:00"), "purchase"),
    (2, _ts("2024-01-01T10:00:00"), "view"),
    (2, _ts("2024-01-01T11:00:00"), "click"),
    # u3: click only -> stage 0 (no view at all)
    (3, _ts("2024-01-01T08:00:00"), "click"),
    # u4: simultaneous view+click at the same ts counts (>=)
    (4, _ts("2024-01-01T12:00:00"), "view"),
    (4, _ts("2024-01-01T12:00:00"), "click"),
    # u5: several views; the EARLIEST anchors the chain even though a
    # later view would give a shorter path
    (5, _ts("2024-01-01T07:00:00"), "view"),
    (5, _ts("2024-01-01T09:00:00"), "view"),
    (5, _ts("2024-01-01T09:00:30"), "click"),
    (5, _ts("2024-01-01T09:01:00"), "purchase"),
]

WANT = {
    1: (3, 1800),
    2: (2, 3600),
    3: (0, None),
    4: (2, 0),
    5: (3, 7260),  # anchored at 07:00, purchase 09:01
}


def test_funnel_micro(spark):
    df = spark.createDataFrame(ROWS, "user_id bigint, ts timestamp_ntz, event_type string")
    got = {
        r.user_id: (r.stage, r.funnel_sec)
        for r in funnel(df, ("view", "click", "purchase")).collect()
    }
    assert got == WANT

    with pytest.raises(ValueError, match="2 steps"):
        funnel(df, ("view",))
    with pytest.raises(ValueError, match="duplicate"):
        funnel(df, ("view", "view"))


def test_funnel_sql_twin_matches():
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(ROWS, columns=["user_id", "ts", "event_type"]),
    )
    got = {
        r[0]: (r[1], r[-1])
        for r in con.execute(sql_funnel(("view", "click", "purchase"))).fetchall()
    }
    assert got == WANT


def test_funnel_one_exchange_plan(spark, sf_dir):
    """K chained Window nodes + the collapse must share ONE hash
    exchange on user_id; no Python anywhere."""
    from etfconstituentextractor_spark.sources.tables import load

    df = funnel(load(spark, sf_dir, "events"), ("view", "click", "purchase"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan[:1500]
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_funnel_vs_duckdb_on_corpus(spark, sf_dir):
    """Full-corpus equivalence on the real events table."""
    from etfconstituentextractor_spark.sources.tables import load

    got = {
        r.user_id: (r.stage, r.funnel_sec)
        for r in funnel(
            load(spark, sf_dir, "events"), ("view", "click", "purchase")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = {
        r[0]: (r[1], r[-1])
        for r in con.execute(sql_funnel(("view", "click", "purchase"))).fetchall()
    }
    assert got == want
    assert len(got) > 0
