"""Hypertable-style multi-resolution time rollup (SURVEY.md §2B
adjunct; the "hypertable rollup" custom-operator family named in the
engine's design brief — no counterpart in the reference, whose only
time handling is a raw date string, ETFQuarterlyHoldingsExtractor.py:76).

A timeseries store's continuous aggregates materialize the same events
at several resolutions (hour/day/week bars). The naive spelling runs
one groupBy per resolution — R scans and R shuffles of a 100 TB
events table. This operator computes ALL resolutions in ONE pass:
truncate once per resolution in the scan projection, then GROUPING
SETS over the truncated columns — a single Expand + HashAggregate,
i.e. one scan and one shuffle whose rows are (bucket keys, partial
states) × R, never raw events × R re-reads.

Per-bar aggregates are the OHLC family: count, sum, min/max (low/
high), and open/close as ``min_by``/``max_by`` of the value over the
event id (ids are unique, so open/close are deterministic — a
timestamp tie cannot produce engine-dependent bars).

The incremental-refresh half of a hypertable pipeline is the already-
shipped snapshot-diff operator (q86): re-roll only the buckets whose
underlying rows changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: resolution name → Spark/DuckDB date_trunc unit (shared spelling).
RESOLUTIONS = ("hour", "day", "week")


def time_rollup(events: DataFrame) -> DataFrame:
    """(resolution, bucket_start, n, v_sum, v_min, v_max, v_open,
    v_close) over ``events``' (event_id, ts, value) — one row per
    (resolution in ``RESOLUTIONS``, time bucket), all resolutions
    from one scan + one shuffle (GROUPING SETS over per-resolution
    truncations). ``bucket_start`` is a formatted string (engine-
    neutral hashing, module convention); ``v_sum`` rounds at 2 dp on a
    decimal cast so partial/final merge order cannot shift the hash."""
    bucketed = events.select(
        F.col("event_id").alias("__id"),
        F.col("value").alias("__v"),
        *[F.date_trunc(r, F.col("ts")).alias(f"__b_{r}") for r in RESOLUTIONS],
    )
    cols = [f"__b_{r}" for r in RESOLUTIONS]
    # grouping() is only resolvable inside the grouping-sets aggregate,
    # so the resolution tag is computed there: each grouping set keeps
    # exactly one bucket column, so "grouping(col) == 0" identifies it.
    resolution = None
    for r in RESOLUTIONS:
        cond = F.grouping(f"__b_{r}") == 0
        resolution = F.when(cond, r) if resolution is None else resolution.when(cond, r)
    agg = bucketed.groupingSets([[c] for c in cols], *[F.col(c) for c in cols]).agg(
        resolution.alias("resolution"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(F.col("__v").cast("decimal(14,4)")), 2)
        .cast("double")
        .alias("v_sum"),
        F.min("__v").alias("v_min"),
        F.max("__v").alias("v_max"),
        F.expr("min_by(__v, __id)").alias("v_open"),
        F.expr("max_by(__v, __id)").alias("v_close"),
    )
    return agg.select(
        "resolution",
        F.date_format(
            F.coalesce(*[F.col(c) for c in cols]), "yyyy-MM-dd HH:mm:ss"
        ).alias("bucket_start"),
        "n",
        "v_sum",
        "v_min",
        "v_max",
        "v_open",
        "v_close",
    )
