"""Checkpoint recovery — the Structured Streaming restart contract
(SURVEY.md §2B "Streaming": state store + watermark semantics).

Every registered streaming query wipes its checkpoint per call by
design (re-runs never resume); this test pins the OTHER half of the
production contract: a stream killed mid-corpus and restarted from its
checkpoint must produce EXACTLY the uninterrupted run's output —
source offsets recovered (already-processed chunk files are not
re-read), window state recovered (a day window straddling the
interruption finishes aggregating from restored state, not from
scratch), watermark recovered (no finalized window re-emits into the
append sink), and the file sink's metadata log keeps the union of both
runs exactly-once.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from etfconstituentextractor_spark.streaming.replay import (
    read_stream,
    stage_chunks,
    work_dir,
)

_FMT = "yyyy-MM-dd HH:mm:ss"


def _day_agg(spark, chunk_dir):
    return (
        read_stream(spark, chunk_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .select(F.date_format("w.start", _FMT).alias("ws"), "n", "s")
    )


def _drain(spark, chunk_dir, sink, ckpt):
    q = (
        _day_agg(spark, chunk_dir)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_windowed_agg_survives_checkpoint_restart(spark, sf_dir):
    shared = stage_chunks(spark, sf_dir, tag="plain4", n_chunks=4)
    files = sorted(f for f in os.listdir(shared) if f.endswith(".parquet"))
    assert len(files) == 4

    base = work_dir(sf_dir, "ckptrec")
    shutil.rmtree(base, ignore_errors=True)
    live = os.path.join(base, "chunks")
    sink = os.path.join(base, "sink")
    ckpt = os.path.join(base, "ckpt")
    sink_ref = os.path.join(base, "sink_ref")
    ckpt_ref = os.path.join(base, "ckpt_ref")
    os.makedirs(live)

    def arrive(names):
        for f in names:
            shutil.copy2(os.path.join(shared, f), os.path.join(live, f))

    # phase 1: half the corpus arrives, stream drains and "dies"
    # (availableNow termination IS a clean kill: offsets + state +
    # watermark live only in the checkpoint now)
    arrive(files[:2])
    _drain(spark, live, sink, ckpt)
    mid_rows = sorted(map(tuple, spark.read.parquet(sink).collect()))

    # phase 2: the rest arrives, the SAME query restarts on the SAME
    # checkpoint — it must pick up only the new files and the restored
    # window/watermark state
    arrive(files[2:])
    _drain(spark, live, sink, ckpt)
    got = sorted(map(tuple, spark.read.parquet(sink).collect()))

    # uninterrupted reference over the full layout
    _drain(spark, shared, sink_ref, ckpt_ref)
    ref = sorted(map(tuple, spark.read.parquet(sink_ref).collect()))

    assert got == ref
    # the interruption genuinely split the emission: some windows
    # finalized before the kill, some only after — so the straddling
    # window really exercised state recovery, and a re-emission of a
    # phase-1 window would have shown up as a duplicate in `got`
    assert 0 < len(mid_rows) < len(ref)
    assert set(mid_rows) <= set(ref)
