"""Structured Streaming queries over the `events` replay (SURVEY.md
§2B "Streaming", Phase 6 — entirely absent from the reference, which
is a one-shot batch scraper).

Every query here runs a REAL incremental stream (file-source
micro-batches via streaming/replay.py, state store, watermark
advancement) and terminates with Trigger.AvailableNow, so its result
is a deterministic function of the input and the batch-equivalent SQL
over the same parquet is a hash-matched DuckDB oracle — the strongest
check the driver offers, applied to streaming state semantics:

- q55 tumbling + sliding event-time windows (complete mode);
- q56 session windows, 6h gap (complete mode);
- q57 watermark + late-data drop: append mode emits only
  watermark-finalized windows, and planted late rows (copies of the
  earliest events arriving in the final micro-batch) must be DROPPED —
  the oracle contains only on-time rows, so any leak hash-mismatches;
- q58 dropDuplicatesWithinWatermark over a doubled stream — exactly
  the planted duplicates must disappear.

Timestamps are emitted as formatted strings (engine-neutral hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etfconstituentextractor_spark.functions.parity import dec, dsum
from etfconstituentextractor_spark.plans.registry import query
from etfconstituentextractor_spark.sources.tables import load
from etfconstituentextractor_spark.streaming.replay import (
    read_stream,
    run_many_to_memory,
    run_to_memory,
    run_many_to_parquet,
    run_to_parquet,
    stage_chunks,
)

_FMT = "yyyy-MM-dd HH:mm:ss"
_SQL_FMT = "%Y-%m-%d %H:%M:%S"
_FMT_US = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_SQL_FMT_US = "%Y-%m-%d %H:%M:%S.%f"


def _win_agg(sdf: DataFrame, win, shape: str) -> DataFrame:
    return (
        sdf.groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("value"), "sum_value"))
        .select(
            F.lit(shape).alias("shape"),
            F.date_format("w.start", _FMT).alias("window_start"),
            F.date_format("w.end", _FMT).alias("window_end"),
            "n",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# q55 — tumbling + sliding event-time windows. Two streaming
# aggregations (Spark allows one stateful agg per stream), one result.
# Oracle: tumbling day windows are epoch-aligned calendar days; each
# row belongs to two 2-day sliding windows (starts at its day and the
# day before).
# ---------------------------------------------------------------------------
@query(
    "q55_stream_tumbling_sliding",
    oracle=f"""
    SELECT 'tumbling' AS shape,
           strftime(date_trunc('day', ts), '{_SQL_FMT}') AS window_start,
           strftime(date_trunc('day', ts) + INTERVAL 1 DAY, '{_SQL_FMT}') AS window_end,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_value
    FROM events GROUP BY date_trunc('day', ts)
    UNION ALL
    SELECT 'sliding',
           strftime(ws, '{_SQL_FMT}'),
           strftime(ws + INTERVAL 2 DAY, '{_SQL_FMT}'),
           COUNT(*),
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE)
    FROM (
      SELECT unnest([date_trunc('day', ts), date_trunc('day', ts) - INTERVAL 1 DAY]) AS ws,
             value
      FROM events
    )
    GROUP BY ws
    """,
)
def q55_stream_tumbling_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    # complete-mode window aggs are batch-boundary-independent, so two
    # chunks prove the incremental path at half the fixed per-batch
    # cost; the watermark tests (q57/q58) keep finer chunking because
    # their semantics depend on watermark advancement between batches.
    # The plain 2-chunk layout is SHARED with q56: the corpus is
    # read-only and staging deterministic, so the second query's
    # staging is a manifest check.
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    tumb = _win_agg(read_stream(spark, chunks), F.window("ts", "1 day"), "tumbling")
    slide = _win_agg(
        read_stream(spark, chunks), F.window("ts", "2 days", "1 day"), "sliding"
    )
    # one stateful agg per stream -> two streams; drained CONCURRENTLY
    # so the per-micro-batch fixed costs overlap (replay.py)
    tumb_out, slide_out = run_many_to_memory(
        [(tumb, "etfce_q55_tumbling"), (slide, "etfce_q55_sliding")],
        "complete",
        chunks,
    )
    return tumb_out.unionByName(slide_out)


# ---------------------------------------------------------------------------
# q56 — session windows (6h inactivity gap) per user. Session end =
# last event + gap (Spark semantics); a gap of exactly 6h starts a NEW
# session (window end is exclusive) — the oracle's islands-and-gaps
# construction uses >= to match.
# ---------------------------------------------------------------------------
@query(
    "q56_stream_session",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 6 HOUR
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_SQL_FMT_US}') AS session_start,
           strftime(MAX(ts) + INTERVAL 6 HOUR, '{_SQL_FMT_US}') AS session_end,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def q56_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    sess = (
        read_stream(spark, chunks)
        .groupBy("user_id", F.session_window("ts", "6 hours").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("value"), "sum_value"))
        .select(
            "user_id",
            F.date_format("w.start", _FMT_US).alias("session_start"),
            F.date_format("w.end", _FMT_US).alias("session_end"),
            "n",
            "sum_value",
        )
    )
    return run_to_memory(sess, "etfce_q56_session", "complete", chunks)


# ---------------------------------------------------------------------------
# q57 — watermark semantics in append mode, three tagged legs over the
# SAME chunk layout (late-row injection included):
#
# - leg='window': watermark + late-data drop. Copies of the 5
#   earliest events (fresh negative ids) arrive in a final late-only
#   micro-batch, by which point the watermark (max seen ts − 2h,
#   advanced over the 4 data batches spanning weeks) is far past
#   their day-window's end — the state store has finalized that
#   window and MUST drop them. Append mode emits exactly the
#   finalized windows: end <= final watermark (max ts − 2h).
# - leg='ssjoin' (round 6 finish): STREAM-STREAM inner join followed
#   by a windowed aggregation — two CHAINED stateful operators in one
#   stream. view→click conversion pairs per user within 1h
#   (b.ts ∈ [a.ts, a.ts+1h)), then click-day windows. The join holds
#   both sides in watermarked state; the downstream agg sees a
#   watermark DELAYED BY THE JOIN'S TIME RANGE (Spark's multi-
#   stateful watermark propagation), and with per-side watermarks
#   the query watermark is the MIN of the two sides' (each advances
#   from its own filtered max ts; multipleWatermarkPolicy=min). The
#   finalization boundary is therefore
#   min(max view ts, max click ts) − 2h − 1h — both the −3h rule and
#   the min-of-sides rule pinned empirically with boundary streams a
#   minute either side of each cut
#   (tests/test_stateful_streaming.py). The late copies are also
#   dropped by the JOIN's input watermark, extending the late-drop
#   contract to join state.
# - leg='enrich' (round 8): STREAM-STATIC join — the production
#   enrichment pattern (micro-batches joined against a slowly-
#   changing dimension held broadcast on the executors). The events
#   stream joins customer⋈nation on user_id = c_custkey (the corpus's
#   natural FK), then aggregates value per (click-day, nation) in
#   append mode. The static side is STATELESS for the stream — no
#   join state, no watermark interaction; at 100 TB/day the dim
#   broadcast is rebuilt per trigger from the table snapshot, which
#   is exactly Spark's contract for static sides. The watermark
#   cutoff is the plain single-input rule (max ts − 2h), and the
#   late copies must still drop at the AGG's finalized windows —
#   pinning that a stateless join does NOT delay watermark
#   propagation (contrast with ssjoin's −3h).
#
# The oracle states all legs as batch SQL over the on-time rows with
# each leg's finalization boundary; a late-row leak, an unfinalized
# emission, or a mis-propagated watermark all hash-mismatch. All
# streams drain CONCURRENTLY (run_many_to_parquet — overlapped
# micro-batch fixed costs, the q55 pattern).
# ---------------------------------------------------------------------------
@query(
    "q57_stream_watermark_late",
    oracle=f"""
    SELECT 'window' AS leg,
           strftime(date_trunc('day', ts), '{_SQL_FMT}') AS window_start,
           CAST(NULL AS VARCHAR) AS nation,
           COUNT(*) AS n,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_value
    FROM events
    WHERE date_trunc('day', ts) + INTERVAL 1 DAY
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    GROUP BY date_trunc('day', ts)
    UNION ALL
    SELECT 'ssjoin',
           strftime(date_trunc('day', b.ts), '{_SQL_FMT}'),
           CAST(NULL AS VARCHAR),
           COUNT(*),
           CAST(ROUND(SUM(CAST(b.value AS DECIMAL(14,4))), 2) AS DOUBLE)
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'view' AND b.event_type = 'click'
     AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
    -- each side's watermark advances from ITS OWN max event time
    -- (the withWatermark sits after the event_type filter) and the
    -- query watermark is their MIN (multipleWatermarkPolicy=min),
    -- minus the 2h delay and the join's 1h range
    WHERE date_trunc('day', b.ts) + INTERVAL 1 DAY
          <= (SELECT least(
                (SELECT max(ts) FROM events WHERE event_type = 'view'),
                (SELECT max(ts) FROM events WHERE event_type = 'click'))
              - INTERVAL 3 HOUR)
    GROUP BY date_trunc('day', b.ts)
    UNION ALL
    SELECT 'enrich',
           strftime(date_trunc('day', e.ts), '{_SQL_FMT}'),
           n_name,
           COUNT(*),
           CAST(ROUND(SUM(CAST(e.value AS DECIMAL(14,4))), 2) AS DOUBLE)
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    -- stream-static join is stateless: plain single-input watermark
    -- cutoff, no join-range delay
    WHERE date_trunc('day', e.ts) + INTERVAL 1 DAY
          <= (SELECT max(ts) - INTERVAL 2 HOUR FROM events)
    GROUP BY date_trunc('day', e.ts), n_name
    """,
)
def q57_stream_watermark_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    late = (
        ev.orderBy("event_id")
        .limit(5)
        .select(
            (-F.col("event_id") - 1).alias("event_id"),
            "ts",
            "user_id",
            "event_type",
            "value",
            "props",
        )
    )
    chunks = stage_chunks(spark, sf_dir, tag="q57", extra_last_chunk=late)
    # watermark tracking requires TimestampType; with the session tz
    # pinned UTC the NTZ->timestamp cast is an identity on the micros.
    agg = (
        read_stream(spark, chunks)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("value"), "sum_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n",
            "sum_value",
        )
    )

    def _side(event_type: str, pre: str) -> DataFrame:
        return (
            read_stream(spark, chunks)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("ts").cast("timestamp").alias(f"{pre}_ts"),
                F.col("user_id").alias(f"{pre}_user"),
                F.col("value").alias(f"{pre}_value"),
            )
            .withWatermark(f"{pre}_ts", "2 hours")
        )

    joined = _side("view", "a").join(
        _side("click", "b"),
        F.expr("a_user = b_user AND b_ts >= a_ts AND b_ts < a_ts + interval 1 hour"),
    )
    conv = (
        joined.groupBy(F.window("b_ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("b_value"), "sum_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "n",
            "sum_value",
        )
    )

    # 'enrich': the static dimension is an ordinary batch frame —
    # Spark re-binds it per micro-batch; broadcast keeps the join
    # shuffle-free on the stream side.
    dim = (
        load(spark, sf_dir, "customer")
        .join(load(spark, sf_dir, "nation"), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(F.col("c_custkey").alias("user_id"), F.col("n_name").alias("nation"))
    )
    enrich = (
        read_stream(spark, chunks)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 day").alias("w"), "nation")
        .agg(F.count(F.lit(1)).alias("n"), dsum(dec("value"), "sum_value"))
        .select(
            F.date_format("w.start", _FMT).alias("window_start"),
            "nation",
            "n",
            "sum_value",
        )
    )

    window_out, conv_out, enrich_out = run_many_to_parquet(
        [(agg, "q57"), (conv, "q57_ssjoin"), (enrich, "q57_enrich")], chunks
    )
    null_nation = F.lit(None).cast("string").alias("nation")
    return (
        window_out.select(
            F.lit("window").alias("leg"), "window_start", null_nation, "n", "sum_value"
        )
        .unionByName(
            conv_out.select(
                F.lit("ssjoin").alias("leg"), "window_start", null_nation, "n", "sum_value"
            )
        )
        .unionByName(enrich_out.select(F.lit("enrich").alias("leg"), "*"))
    )


# ---------------------------------------------------------------------------
# q58 — stateful streaming dedup: the stream carries every event
# TWICE (identical rows, adjacent in event time); dedup state keyed on
# event_id within a 1-day watermark removes exactly the copies. The
# deduped stream appends to a parquet file sink (nothing collects);
# the oracle is the plain batch aggregate over the ORIGINAL events.
# ---------------------------------------------------------------------------
@query(
    "q58_stream_dedup_watermark",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(14,4))), 2) AS DOUBLE) AS sum_value,
           strftime(MAX(ts), '{_SQL_FMT_US}') AS max_ts
    FROM events
    GROUP BY event_type
    """,
)
def q58_stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    # the doubled layout is a deterministic function of the corpus, so
    # it is shared across bench/verify runs like the plain layouts.
    # Two chunks, not four: both copies of an event_id share a chunk by
    # construction (equal-width id ranges), so dedup correctness never
    # depended on chunk boundaries; what needs batches is state carry +
    # watermark advancement, which two still exercise — at half the
    # per-batch fixed cost (measured: 3.2s → 2.1s, hash unchanged).
    chunks = stage_chunks(spark, sf_dir, tag="q58_doubled2", n_chunks=2, source=doubled)
    deduped = (
        read_stream(spark, chunks)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 day")
        .dropDuplicatesWithinWatermark(["event_id"])
    )
    sunk = run_to_parquet(deduped, "q58", chunks)
    # max_ts is a deliberate canary: q58's other outputs carry no time
    # axis, so a stale/corrupted staged replay (round 3's compressed
    # 1970-epoch chunks) could pass this query while q55-q57 failed.
    # A time-bearing column makes that impossible.
    return sunk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        dsum(dec("value"), "sum_value"),
        F.date_format(F.max("ts"), _FMT_US).alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# q59 — CUSTOM stateful operator (applyInPandasWithState gap
# sessionization, streaming/stateful.py) under full-flush replay: a
# far-future sentinel event planted in the final micro-batch pushes
# the final watermark past every open session's timeout
# (last + gap), so event-time timers flush ALL state and the replay's
# output is the complete, deterministic session set — which makes the
# plain batch islands-and-gaps SQL a full hash oracle (the stateful.py
# docstring's sentinel contract, exercised end-to-end). The sentinel
# user's own session (the only one past the final watermark) is
# filtered out.
#
# Session sums: events.value carries 2-decimal values, so session
# sums are multiples of 0.01 with ~1e-12 float error — ROUND(.., 2)
# recovers the exact decimal in both engines regardless of summation
# order, with no half-even/half-up midpoint exposure.
# ---------------------------------------------------------------------------
_Q59_GAP_MIN = 240  # 4 hours — distinct from q56's built-in 6h path
_Q59_SENTINEL_UID = -999


@query(
    "q59_stream_custom_sessionize",
    oracle=f"""
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL {_Q59_GAP_MIN} MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS brk
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           strftime(MIN(ts), '{_SQL_FMT_US}') AS session_start,
           strftime(MAX(ts) + INTERVAL {_Q59_GAP_MIN} MINUTE, '{_SQL_FMT_US}') AS session_end,
           COUNT(*) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM sessions
    GROUP BY user_id, sid
    """,
)
def q59_stream_custom_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from datetime import timedelta

    from etfconstituentextractor_spark.streaming.stateful import sessionize

    ev = load(spark, sf_dir, "events")
    # Sentinel ts must satisfy: sentinel - watermark_delay >= max(ts) +
    # gap, so every real session's timer fires before replay ends.
    # The driver-side max() read is fixture staging, not operator code.
    max_ts = ev.agg(F.max("ts")).first()[0]
    sentinel_ts = max_ts + timedelta(minutes=_Q59_GAP_MIN + 60 + 60)
    sentinel = spark.createDataFrame(
        [(-999_000, sentinel_ts, _Q59_SENTINEL_UID, "sentinel", 0.0, "{}")],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    # Events interleave across users, so EVERY micro-batch re-enters
    # the Python state function for nearly every user key — per-group
    # pandas/Arrow overhead × users × batches dominates wall time.
    # Two levers set that cost. State partitions come from the data
    # (replay.state_partitions: one per Arrow batch of rows in the
    # largest chunk, at most one per core — 1 at sf0.01, 4 at sf0.1):
    # a fixed 8 paid per-partition fixed cost the rows never paid
    # back at sf0.01 (6.4-6.7s against 4.2-4.4s warm, 4 cores), and a
    # fixed 1 serialises sf0.1's Python state function (15.6s against
    # 6.6-6.9s). Chunk count (r12): 1/2/4
    # data chunks read 5.2/7.0/10.8s with IDENTICAL output hashes —
    # ~1.8s of fixed cost per micro-batch, so ONE data chunk + the
    # sentinel chunk is the floor. Cross-batch state carry remains
    # exercised here (sessions built in the data batch are
    # timer-flushed in the sentinel batch) and the multi-data-batch
    # path stays pinned by tests/test_stateful_streaming.py (4 chunks,
    # batch oracle).
    chunks = stage_chunks(spark, sf_dir, tag="q59v2", n_chunks=1, extra_last_chunk=sentinel)
    src = (
        read_stream(spark, chunks)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "value")
    )
    sunk = run_to_parquet(sessionize(src, _Q59_GAP_MIN), "q59", chunks)
    return sunk.filter(F.col("user_id") != _Q59_SENTINEL_UID).select(
        "user_id",
        F.date_format("session_start", _FMT_US).alias("session_start"),
        F.date_format("session_end", _FMT_US).alias("session_end"),
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    )
