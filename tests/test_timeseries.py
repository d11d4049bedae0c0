"""Hypertable-style time rollup (operators/timeseries.py): OHLC bars
at every resolution must match DuckDB's per-resolution aggregates, and
the multi-resolution plan must stay ONE scan + ONE shuffle (Expand,
not R separate groupBys)."""

from __future__ import annotations

import duckdb
import pytest

from etfconstituentextractor_spark.operators.timeseries import time_rollup
from etfconstituentextractor_spark.sources.tables import load


def _oracle(sf_dir: str):
    legs = [
        f"""
        SELECT '{r}' AS resolution,
               strftime(date_trunc('{r}', ts), '%Y-%m-%d %H:%M:%S') AS bucket_start,
               COUNT(*) AS n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS v_sum,
               MIN(value) AS v_min, MAX(value) AS v_max,
               min_by(value, event_id) AS v_open,
               max_by(value, event_id) AS v_close
        FROM read_parquet('{sf_dir}/events.parquet')
        GROUP BY date_trunc('{r}', ts)
        """
        for r in ("hour", "day", "week")
    ]
    con = duckdb.connect()
    try:
        return con.execute(" UNION ALL ".join(legs)).fetchall()
    finally:
        con.close()


def test_time_rollup_matches_duckdb(spark, sf_dir):
    got = {
        (r.resolution, r.bucket_start): (
            r.n,
            r.v_sum,
            r.v_min,
            r.v_max,
            r.v_open,
            r.v_close,
        )
        for r in time_rollup(load(spark, sf_dir, "events")).collect()
    }
    want = {(row[0], row[1]): tuple(row[2:]) for row in _oracle(sf_dir)}
    assert got == want
    # sanity on shape: every resolution present, hour >= day >= week counts
    per_res = {}
    for (res, _b), _v in got.items():
        per_res[res] = per_res.get(res, 0) + 1
    assert per_res["hour"] >= per_res["day"] >= per_res["week"] >= 1


def test_time_rollup_single_scan_single_shuffle(spark, sf_dir):
    plan = (
        time_rollup(load(spark, sf_dir, "events"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan
    ensure = [l for l in plan.splitlines() if "ENSURE_REQUIREMENTS" in l]
    assert len(ensure) == 1, ensure
