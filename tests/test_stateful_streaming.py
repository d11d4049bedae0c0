"""Custom stateful operator (applyInPandasWithState sessionization)
validated against independent batch sessionization.

The custom operator runs append-mode: sessions CLOSED BY DATA (a later
event of the same user exceeded the gap) emit deterministically; each
user's final session emits only if an event-time timeout fires before
the replay ends. The assertions therefore pin:

1. every emitted session matches the batch islands-and-gaps result
   EXACTLY (start, end, count, sum) — no invented or corrupted state;
2. every data-closed session IS emitted (cross-batch state carry and
   gap logic work);
3. no session emits twice.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from etfconstituentextractor_spark.sources.tables import load
from etfconstituentextractor_spark.streaming.replay import (
    read_stream,
    run_to_parquet,
    stage_chunks,
)
from etfconstituentextractor_spark.streaming.stateful import sessionize

_GAP_MIN = 360  # 6 hours, matching q56


def _batch_sessions(sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        return con.execute(
            f"""
            WITH ev AS (
              SELECT user_id, ts::TIMESTAMP AS ts, value
              FROM read_parquet('{sf_dir}/events.parquet')
            ),
            marked AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - lag(ts) OVER w >= INTERVAL {_GAP_MIN} MINUTE
                          OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS brk
              FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ),
            sess AS (
              SELECT user_id, ts, value,
                     SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
              FROM marked
            )
            SELECT user_id,
                   MIN(ts) AS session_start,
                   MAX(ts) + INTERVAL {_GAP_MIN} MINUTE AS session_end,
                   COUNT(*) AS n,
                   ROUND(SUM(value), 6) AS sum_value,
                   (sid = MAX(sid) OVER (PARTITION BY user_id)) AS is_last
            FROM sess
            GROUP BY user_id, sid
            """
        ).fetchdf()
    finally:
        con.close()


def _sessionize_replay(spark, chunks: str, tag: str) -> pd.DataFrame:
    from pyspark.sql import functions as F

    src = (
        read_stream(spark, chunks)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .select("user_id", "ts", "value")
    )
    return run_to_parquet(sessionize(src, _GAP_MIN), tag, chunks).toPandas()


def _assert_matches_batch(got: pd.DataFrame, sf_dir: str) -> None:
    want = _batch_sessions(sf_dir)
    got_k = {
        (r.user_id, r.session_start): (r.session_end, r.n, round(r.sum_value, 6))
        for r in got.itertuples()
    }
    want_k = {
        (r.user_id, r.session_start): (r.session_end, r.n, round(r.sum_value, 6), r.is_last)
        for r in want.itertuples()
    }

    # (3) no duplicate emissions
    assert len(got_k) == len(got), "duplicate session emissions"
    # (1) exact-value agreement for everything emitted
    for k, (end, n, sv) in got_k.items():
        assert k in want_k, f"emitted session {k} not in batch result"
        w_end, w_n, w_sv, _ = want_k[k]
        assert (end, n, sv) == (w_end, w_n, w_sv), (k, (end, n, sv), (w_end, w_n, w_sv))
    # (2) every data-closed (non-final) session must have been emitted
    missing = [
        k for k, (_, _, _, is_last) in want_k.items() if not is_last and k not in got_k
    ]
    assert not missing, f"data-closed sessions not emitted: {missing[:5]}"
    # sanity: the operator emitted a meaningful share of all sessions
    assert len(got_k) >= 0.5 * len(want_k), (len(got_k), len(want_k))


def test_custom_sessionize_matches_batch(spark, sf_dir):
    # events.parquet stores TIMESTAMP(NANOS); DuckDB truncates to
    # micros exactly like the typed loader, so both sides see the
    # same microsecond timestamps.
    chunks = stage_chunks(spark, sf_dir, tag="stateful_test")
    _assert_matches_batch(_sessionize_replay(spark, chunks, "stateful_test"), sf_dir)


def test_custom_sessionize_multi_partition_state(spark, sf_dir):
    """The test corpora are small enough that replays size their state
    to ONE partition (replay.state_partitions). Lowering the Arrow
    batch size makes the same chunks need several, which keeps the
    multi-partition state path (each user's rows routed to one
    partition's store, every store committed per batch) under the
    batch oracle."""
    import os

    from etfconstituentextractor_spark.streaming.replay import (
        ARROW_BATCH_CONF,
        stream_dir,
        state_partitions,
    )

    chunks = stage_chunks(spark, sf_dir, tag="plain4", n_chunks=4)
    old = spark.conf.get(ARROW_BATCH_CONF)
    spark.conf.set(ARROW_BATCH_CONF, "100")
    try:
        n = state_partitions(spark, chunks)
        got = _sessionize_replay(spark, chunks, "stateful_parts")
    finally:
        spark.conf.set(ARROW_BATCH_CONF, old)
    assert n > 1
    state = os.path.join(stream_dir(chunks, "ckpt_stateful_parts"), "state", "0")
    assert sorted(int(d) for d in os.listdir(state) if d.isdigit()) == list(range(n))
    _assert_matches_batch(got, sf_dir)


def test_foreach_batch_upsert_sink(spark, sf_dir, tmp_path):
    """The foreachBatch escape hatch — the sink pattern for targets
    with no native streaming writer (JDBC, key-value stores, MERGE
    INTO tables): each micro-batch upserts 'latest event per user'
    into a keyed parquet table. After AvailableNow replay the table
    must equal the batch keep-last query — proving per-batch upserts
    compose to the right final state across batch boundaries."""
    import os

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load
    from etfconstituentextractor_spark.streaming.replay import (
        read_stream,
        stage_chunks,
        work_dir,
    )

    target = str(tmp_path / "latest_per_user")

    def upsert(batch_df, batch_id):
        w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
        incoming = (
            batch_df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
        )
        if os.path.exists(target):
            current = batch_df.sparkSession.read.parquet(target)
            merged = (
                current.unionByName(incoming)
                .withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .drop("rn")
            )
        else:
            merged = incoming
        # rewrite-the-table upsert: fine for a keyed summary table;
        # localCheckpoint first because the plan reads the same path
        # it overwrites
        merged.localCheckpoint().write.mode("overwrite").parquet(target)

    chunks = stage_chunks(spark, sf_dir, tag="plain4", n_chunks=4)
    ckpt = work_dir(sf_dir, "ckpt_upsert_test")
    import shutil

    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        read_stream(spark, chunks)
        .writeStream.foreachBatch(upsert)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        r.user_id: (r.event_id, r.event_type)
        for r in spark.read.parquet(target).collect()
    }
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    want = {
        r.user_id: (r.event_id, r.event_type)
        for r in ev.withColumn("rn", F.row_number().over(w)).filter("rn = 1").collect()
    }
    assert got == want


def test_stream_stream_interval_join_batch_equivalent(spark, sf_dir):
    """Stream-stream inner join with watermarks — the last streaming
    operator family not exercised by q55-q59: clicks join purchases by
    the same user within [click_ts, click_ts + 6h]. Both sides carry
    watermarks (required: they bound the join state Spark must hold),
    and under AvailableNow replay of a bounded input the INNER join is
    complete, so the batch join with the same predicate is an exact
    oracle."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load
    from etfconstituentextractor_spark.streaming.replay import (
        read_stream,
        run_to_parquet,
        stage_chunks,
    )

    chunks = stage_chunks(spark, sf_dir, tag="plain4", n_chunks=4)

    def side(kind, alias_ts, alias_uid, alias_id):
        return (
            read_stream(spark, chunks)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .filter(F.col("event_type") == kind)
            .withWatermark("ts", "1 hour")
            .select(
                F.col("user_id").alias(alias_uid),
                F.col("ts").alias(alias_ts),
                F.col("event_id").alias(alias_id),
            )
        )

    clicks = side("click", "c_ts", "c_uid", "c_id")
    purchases = side("purchase", "p_ts", "p_uid", "p_id")
    joined = clicks.join(
        purchases,
        (F.col("c_uid") == F.col("p_uid"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 6 HOURS")),
        "inner",
    ).select("c_uid", "c_id", "p_id")
    got = {
        (r.c_uid, r.c_id, r.p_id)
        for r in run_to_parquet(joined, "ss_join_test", chunks).collect()
    }

    ev = load(spark, sf_dir, "events")
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("c_uid"), F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("p_uid"), F.col("ts").alias("p_ts"), F.col("event_id").alias("p_id")
    )
    want = {
        (r.c_uid, r.c_id, r.p_id)
        for r in c.join(
            p,
            (F.col("c_uid") == F.col("p_uid"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 6 HOURS")),
            "inner",
        ).collect()
    }
    assert got == want and len(got) > 0


def test_checkpoint_recovery_resumes_windowed_agg(spark, sf_dir, tmp_path):
    """Fault-tolerance pin: stop a windowed streaming aggregation
    after its FIRST micro-batch, then restart from the same
    checkpoint with AvailableNow — the restarted query must resume
    from the committed offsets (not reprocess batch 0 into duplicate
    appends) and the final sink must equal the one-shot batch answer.
    This is the recovery contract every q55-q59 result implicitly
    relies on, exercised explicitly."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.streaming.replay import (
        read_stream,
        stage_chunks,
    )

    chunks = stage_chunks(spark, sf_dir, tag="plain4", n_chunks=4)

    def build():
        return (
            read_stream(spark, chunks)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("ws"), "n")
        )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    # phase 1: run exactly one micro-batch, then stop mid-stream
    q = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    import time

    deadline = time.time() + 60
    while time.time() < deadline:
        progress = q.lastProgress
        if progress and progress["batchId"] >= 1:
            break  # batch 0 committed (batchId 1 may be in flight)
        time.sleep(0.05)
    q.stop()
    q.awaitTermination()
    assert q.lastProgress is not None, "no batch committed before stop"

    # phase 2: restart from the SAME checkpoint, drain the rest
    q2 = (
        build()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    got = {
        (r.ws, r.n) for r in spark.read.parquet(out).collect()
    }
    import datetime as dt

    ev = load(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    base = ev.select(F.col("ts").cast("timestamp").alias("ts"))
    want = {
        (str(r.ws), r.n)
        for r in (
            base.groupBy(F.window("ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("w.end") <= F.lit(max_ts - dt.timedelta(hours=2)))
            .select(F.col("w.start").cast("string").alias("ws"), "n")
            .collect()
        )
    }
    assert got == want and len(got) > 0


def test_stream_stream_left_outer_join_eviction_semantics(spark, sf_dir, tmp_path):
    """Stream-stream LEFT OUTER join: the inner pairs stream out as
    matches arrive, but a null-padded row for an unmatched left row
    only emits when its join state is EVICTED — i.e. once the query
    watermark (min of the two sides' own maxima − 2h delay) passes
    the end of its match window (+1h), so the cut is
    a_ts <= min(max_view_ts, max_click_ts) − 3h, INCLUSIVE at the
    boundary. Pinned two ways: synthetic streams either side of the
    cut, then full equivalence on the real corpus against the batch
    left join with exactly that null-row filter."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load
    from etfconstituentextractor_spark.streaming.replay import (
        read_stream,
        run_to_parquet,
        stage_chunks,
    )

    def run_synthetic(view_rows, click_rows, tag):
        rows = [
            (i + 1, ts, uid, "view") for i, (ts, uid) in enumerate(view_rows)
        ] + [
            (100 + i, ts, uid, "click") for i, (ts, uid) in enumerate(click_rows)
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
        )
        src = str(tmp_path / f"src_{tag}")
        df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def side(t, pre):
            return (
                stream.filter(F.col("event_type") == t)
                .select(
                    F.col("ts").alias(f"{pre}_ts"),
                    F.col("user_id").alias(f"{pre}_user"),
                )
                .withWatermark(f"{pre}_ts", "2 hours")
            )

        j = side("view", "a").join(
            side("click", "b"),
            F.expr("a_user = b_user AND b_ts >= a_ts AND b_ts < a_ts + interval 1 hour"),
            "leftOuter",
        )
        out = str(tmp_path / f"out_{tag}")
        q = (
            j.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r.a_user, str(r.b_ts) if r.b_ts is not None else None)
            for r in spark.read.parquet(out).collect()
        )

    D = dt.datetime
    v_probe = (D(2024, 1, 2, 23, 0), 7)  # match window ends Jan 3 00:00
    clicks = [(D(2024, 1, 3, 3, 0), 9)]
    # min(maxes)−3h lands ON the probe's ts → state evicted → null emits
    got = run_synthetic([v_probe, (D(2024, 1, 3, 2, 0), 8)], clicks, "on_cut")
    assert (7, None) in got
    # a minute short of the cut → state still live at end → no row
    got = run_synthetic([v_probe, (D(2024, 1, 3, 1, 59), 8)], clicks, "short")
    assert all(u != 7 for u, _ in got)

    # real-corpus equivalence against the batch statement of the rule
    chunks = stage_chunks(spark, sf_dir, tag="plain4", n_chunks=4)

    def cside(t, pre):
        return (
            read_stream(spark, chunks)
            .filter(F.col("event_type") == t)
            .select(
                F.col("ts").cast("timestamp").alias(f"{pre}_ts"),
                F.col("user_id").alias(f"{pre}_user"),
                F.col("event_id").alias(f"{pre}_id"),
            )
            .withWatermark(f"{pre}_ts", "2 hours")
        )

    cond = F.expr("a_user = b_user AND b_ts >= a_ts AND b_ts < a_ts + interval 1 hour")
    got = {
        (r.a_id, r.b_id)
        for r in run_to_parquet(
            cside("view", "a").join(cside("click", "b"), cond, "leftOuter"),
            "ss_louter_test",
            chunks,
        ).collect()
    }

    ev = load(spark, sf_dir, "events")
    v = ev.filter("event_type = 'view'").select(
        F.col("ts").alias("a_ts"), F.col("user_id").alias("a_user"),
        F.col("event_id").alias("a_id"),
    )
    c = ev.filter("event_type = 'click'").select(
        F.col("ts").alias("b_ts"), F.col("user_id").alias("b_user"),
        F.col("event_id").alias("b_id"),
    )
    cut = min(
        v.agg(F.max("a_ts")).first()[0], c.agg(F.max("b_ts")).first()[0]
    ) - dt.timedelta(hours=3)
    batch = v.join(c, cond, "leftOuter")
    want = {
        (r.a_id, r.b_id)
        for r in batch.filter(
            F.col("b_id").isNotNull() | (F.col("a_ts") <= F.lit(cut))
        ).collect()
    }
    assert got == want and any(b is None for _, b in got)


def test_join_then_agg_watermark_propagation_boundary(spark, tmp_path):
    """q57's 'ssjoin' leg chains TWO stateful operators (stream-stream
    join → windowed agg). Two propagation rules govern the agg's
    finalization boundary, both pinned here with synthetic streams a
    minute either side of each cut:

    1. the join delays the downstream watermark by its event-time
       range → boundary = wm − delay − range (2h + 1h), NOT −2h;
    2. with per-side watermarks (each withWatermark sits after its
       event_type filter), the query watermark is the MIN of the two
       sides' own maxima (multipleWatermarkPolicy=min) — a lagging
       side holds windows the leading side alone would release.

    The q57 oracle encodes exactly
    min(max_view_ts, max_click_ts) − 3h — if a Spark upgrade changes
    either rule, this test and the driver row both go red."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    def run(view_hm: tuple[int, int], click_hm: tuple[int, int]) -> list[str]:
        rows = [
            (1, dt.datetime(2024, 1, 2, 23, 0), 7, "view"),
            (2, dt.datetime(2024, 1, 2, 23, 30), 7, "click"),
            # watermark advancers on unmatched users
            (3, dt.datetime(2024, 1, 3, *view_hm), 8, "view"),
            (4, dt.datetime(2024, 1, 3, *click_hm), 9, "click"),
        ]
        df = spark.createDataFrame(
            rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
        )
        tag = f"{view_hm[0]}_{view_hm[1]}_{click_hm[0]}_{click_hm[1]}"
        src = str(tmp_path / f"src_{tag}")
        df.coalesce(1).write.mode("overwrite").parquet(src)
        stream = (
            spark.readStream.schema(df.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

        def side(t, pre):
            return (
                stream.filter(F.col("event_type") == t)
                .select(
                    F.col("ts").alias(f"{pre}_ts"),
                    F.col("user_id").alias(f"{pre}_user"),
                )
                .withWatermark(f"{pre}_ts", "2 hours")
            )

        j = side("view", "a").join(
            side("click", "b"),
            F.expr("a_user = b_user AND b_ts >= a_ts AND b_ts < a_ts + interval 1 hour"),
        )
        agg = (
            j.groupBy(F.window("b_ts", "1 day").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").cast("string").alias("ws"))
        )
        out = str(tmp_path / f"out_{tag}")
        q = (
            agg.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.ws for r in spark.read.parquet(out).collect())

    # both sides at 02:59 → min − 3h = 23:59 Jan 2 < window end → hold
    assert run((2, 59), (2, 59)) == []
    # both past the cut → min − 3h = 00:30 Jan 3 ≥ end → emit Jan 2
    assert run((3, 30), (3, 30)) == ["2024-01-02 00:00:00"]
    # min-of-sides: the LAGGING side rules, in either direction
    assert run((2, 30), (4, 0)) == []  # view lags → hold
    assert run((4, 0), (2, 30)) == []  # click lags → hold
    assert run((3, 30), (4, 0)) == ["2024-01-02 00:00:00"]


def test_stream_static_dimension_join(spark, sf_dir):
    """Stream-static enrichment: the events stream joins a static
    dimension (per-user tier derived from user_id) without any
    watermark requirement — the static side broadcasts into every
    micro-batch. Aggregated result must equal the batch equivalent."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.sources.tables import load
    from etfconstituentextractor_spark.streaming.replay import (
        read_stream,
        run_to_memory,
        stage_chunks,
    )

    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    ev = load(spark, sf_dir, "events")
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("tier", F.when(F.col("user_id") % 3 == 0, "gold").otherwise("std"))
    )

    enriched = (
        read_stream(spark, chunks)
        .join(F.broadcast(dim), "user_id")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = {
        r.tier: r.n
        for r in run_to_memory(enriched, "etfce_ss_dim_test", "complete", chunks).collect()
    }
    want = {
        r.tier: r.n
        for r in ev.join(dim, "user_id").groupBy("tier").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want and set(got) == {"gold", "std"}
