"""Micro-batch replay harness for the `events` table (SURVEY.md §2B
"Streaming — source/sink for tests", Phase 6).

The corpus `events` table is a bounded snapshot of an unbounded
stream; this harness replays it through a REAL Structured Streaming
file source so the streaming operators run the genuine incremental
path (state store, watermark advancement, append finalization), not a
batch shortcut:

- the table is split into N chunk files in event-time order (ts is
  monotone in event_id), each chunk's mtime strictly increasing, so
  the file source + ``maxFilesPerTrigger=1`` processes them as N
  ordered micro-batches — watermarks advance between batches exactly
  as they would on a live stream. Chunk assignment is equal-width
  event_id ranges from one min/max aggregate (two scalars to the
  driver, staging-only) — never a global window, which would drag the
  whole table through a single partition once per chunk;
- ``Trigger.AvailableNow`` terminates after the backlog drains, which
  makes the run a finite, deterministic function of the input — the
  batch-equivalent SQL over the same parquet is therefore a valid
  DuckDB oracle (hash-matched, not rows-only);
- chunk/checkpoint/sink dirs are wiped per call: every invocation is
  a fresh stream, never a checkpoint resume.

At production scale the same query text runs unchanged against a real
unbounded source (kafka/files); only this fixture staging is
test-local.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etfconstituentextractor_spark.sources.fingerprint import table_fingerprint
from etfconstituentextractor_spark.sources.tables import load

#: schema of the staged chunk files (ts already normalized to
#: timestamp_ntz by the typed loader).
EVENTS_DDL = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)


def _clean(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def _corpus_fingerprint(sf_dir: str) -> str:
    """Identity of the corpus `events` table: per-file (name, size,
    mtime_ns), so an in-place corpus refresh (new mtime) or rewrite
    (new size) invalidates every staged layout derived from it.

    Round-4 postmortem: the reuse marker was content-blind
    (``tag|n_chunks|sf_dir``), so chunk files staged BEFORE a corpus
    refresh kept replaying afterward — four red driver rows traced to
    one missing term in this signature. Every layout recipe here
    (plain chunks, the q58 doubled stream, hardlinked extra-chunk
    dirs) is a deterministic function of (tag, corpus), so tag +
    corpus identity is a COMPLETE cache key.
    """
    return table_fingerprint(sf_dir, "events")


def work_dir(sf_dir: str, tag: str) -> str:
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), f"etfce_stream_{tag}_{sf}")


def _write_chunk(df: DataFrame, base: str, idx: int, mtime: float) -> None:
    """One chunk = one parquet file with a pinned mtime.

    ``repartition(1)``, NOT ``coalesce(1)``: collapsing a unioned /
    multi-source plan into the write task with coalesce(1) defeats the
    scan's split planning and measured 6x slower on exactly the
    staging shapes used here; the one-partition shuffle of a chunk's
    rows is trivial by comparison.
    """
    tmp = os.path.join(base, f"_stage_{idx}")
    df.repartition(1).write.mode("overwrite").parquet(tmp)
    src_file = next(
        f for f in os.listdir(tmp) if f.endswith(".parquet") and not f.startswith("_")
    )
    dst = os.path.join(base, f"chunk_{idx:03d}.parquet")
    shutil.move(os.path.join(tmp, src_file), dst)
    _clean(tmp)
    os.utime(dst, (mtime, mtime))



def marker_ok(dir_: str, sig: str) -> bool:
    """True iff ``dir_``'s reuse marker exists and matches ``sig`` —
    ONE implementation of the staged-layout staleness check (the
    round-4 postmortem's rule lives here and only here; q62's stream
    staging and stage_chunks both call it)."""
    try:
        with open(os.path.join(dir_, "_STAGED_OK")) as fh:
            return fh.read() == sig
    except OSError:
        return False


def write_marker(dir_: str, sig: str) -> None:
    """Publish ``dir_``'s reuse marker — written LAST by callers, so
    an interrupted staging has no marker and re-stages."""
    with open(os.path.join(dir_, "_STAGED_OK"), "w") as fh:
        fh.write(sig)


def stage_chunks(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    n_chunks: int = 4,
    source: DataFrame | None = None,
    extra_last_chunk: DataFrame | None = None,
    reuse: bool = False,
) -> str:
    """Write `events` (or ``source``) as ``n_chunks`` single parquet
    files in event-time order with increasing mtimes; returns the
    directory to stream from.

    Chunk i holds the i-th equal-width ``event_id`` range (ts is
    monotone in event_id, so id ranges ARE event-time ranges). The
    min/max come from one aggregate — two scalars to the driver,
    acceptable in staging-only code; per-chunk writes are then plain
    pushed-filter scans. The previous spelling
    (``ntile().over(W.orderBy(...))``) dragged the full table through
    ONE partition once per chunk and spammed every bench log with
    `WindowExec: No Partition Defined`.

    ``extra_last_chunk`` rows become their OWN final chunk (one extra
    micro-batch after the data batches) — the late-arrival / sentinel
    fixture: by the time they arrive, the watermark has advanced past
    the data's event time. Writing them as a separate file (rather
    than unioning into the last data chunk) keeps the data chunks
    identical to the plain layout, so the query dir is built from
    HARDLINKS to the shared ``plain{n}`` staging plus one tiny write —
    per-query staging cost drops from two full scans+writes to a
    marker check.

    ``reuse=True`` returns an existing staging directory when its
    marker matches (tag, n_chunks, sf_dir, corpus fingerprint) — every
    layout recipe is a deterministic function of its tag plus the
    corpus, so identical layouts are shared across queries and runs,
    and a corpus refresh (changed size/mtime of events.parquet)
    invalidates the marker and re-stages. (If a tag's recipe ever
    changes in code, bump the tag. A caller passing a ``source`` NOT
    derived from the corpus events table must not set reuse.) Not
    honored for ``extra_last_chunk`` callers: extras frames can embed
    query-specific values, and their staging is near-free anyway. The
    marker is written last: an interrupted staging has no marker and
    re-stages.
    """
    base = work_dir(sf_dir, tag)
    marker = os.path.join(base, "_STAGED_OK")
    sig = f"{tag}|{n_chunks}|{sf_dir}|{_corpus_fingerprint(sf_dir)}"
    if reuse and extra_last_chunk is None and marker_ok(base, sig):
        return base

    if source is None and extra_last_chunk is not None:
        # data chunks == the shared plain layout: link, don't re-stage
        shared = stage_chunks(spark, sf_dir, f"plain{n_chunks}", n_chunks, reuse=True)
        _clean(base)
        os.makedirs(base, exist_ok=True)
        for f in sorted(os.listdir(shared)):
            if f.endswith(".parquet"):
                try:
                    os.link(os.path.join(shared, f), os.path.join(base, f))
                except OSError:  # cross-device fallback
                    shutil.copy2(os.path.join(shared, f), os.path.join(base, f))
        # shared chunk mtimes are ~an hour in the past; "now" is
        # strictly later, so the extra chunk is the final micro-batch
        _write_chunk(extra_last_chunk, base, n_chunks, time.time())
        return base

    # Reusable layouts are built in a scratch dir and atomically
    # renamed into place: a killed run leaves only scratch (no marker,
    # never half-read), and if a concurrent process won the rename we
    # adopt its directory — marker-valid layouts are bit-identical by
    # construction.
    build = f"{base}.build-{os.getpid()}" if reuse else base
    _clean(build)
    os.makedirs(build, exist_ok=True)
    ev = source if source is not None else load(spark, sf_dir, "events")
    ev = ev.select(*[f.split(" ")[0] for f in EVENTS_DDL.split(", ")])
    lo, hi = ev.agg(F.min("event_id"), F.max("event_id")).first()
    width = max(1, (int(hi) - int(lo) + n_chunks) // n_chunks)  # ceil
    t0 = time.time() - 3600
    for i in range(n_chunks):
        cond = F.col("event_id") >= int(lo) + i * width
        if i < n_chunks - 1:
            cond = cond & (F.col("event_id") < int(lo) + (i + 1) * width)
        _write_chunk(ev.filter(cond), build, i, t0 + i * 10)
    if not reuse:
        return base
    write_marker(build, sig)
    try:
        _clean(base)
        os.rename(build, base)
    except OSError:
        # lost the race: keep the winner's layout if its marker is
        # valid, else fall back to our scratch build
        if marker_ok(base, sig):
            _clean(build)
        else:
            return build
    return base


def read_stream(spark: SparkSession, chunk_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
    )


#: the Arrow batch size the session pins (session.py); it is also the
#: unit of state-partition sizing below.
ARROW_BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


def partitions_for(rows: int, batch_rows: int, cores: int) -> int:
    """State partitions for a micro-batch of ``rows`` rows:
    ceil(rows / batch_rows), clamped to [1, cores].

    A stateful streaming op creates shuffle.partitions state
    partitions, and each one costs a task, a state-store load and
    commit, and delta/checksum files in EVERY micro-batch, whatever
    rows it holds. Below one Arrow batch of rows, another partition
    adds that fixed cost (and, for the Python-side stateful ops, a
    Python round trip) but no vectorised work; above the core count
    the extra partitions only queue as a second task wave. The count
    is frozen into the checkpoint at first start, so a deployment
    sizes it to its sustained batch the same way."""
    if batch_rows <= 0:  # Spark's "no limit": one batch holds them all
        return 1
    return max(1, min(cores, -(-rows // batch_rows)))


def state_partitions(spark: SparkSession, chunk_dir: str) -> int:
    """``partitions_for`` the largest staged chunk in ``chunk_dir`` —
    each chunk is one micro-batch (``maxFilesPerTrigger=1``). Row
    counts come from the parquet footers: a metadata read, no Spark
    job."""
    import pyarrow.parquet as pq

    rows = max(
        (
            pq.read_metadata(os.path.join(chunk_dir, f)).num_rows
            for f in os.listdir(chunk_dir)
            if f.endswith(".parquet")
        ),
        default=0,
    )
    return partitions_for(
        rows,
        int(spark.conf.get(ARROW_BATCH_CONF)),
        spark.sparkContext.defaultParallelism,
    )


@contextlib.contextmanager
def _replay_shuffle(spark: SparkSession, chunk_dir: str):
    """Pin shuffle.partitions to ``state_partitions`` of the staged
    chunks for a stream start (the query captures the value at
    planning time), then restore."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(state_partitions(spark, chunk_dir)))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def stream_dir(chunk_dir: str, name: str) -> str:
    """A stream's own scratch directory (checkpoint, sink), named after
    the staged chunks it replays — a sibling, never inside the
    directory the file source lists."""
    return f"{chunk_dir.rstrip('/')}_{name}"


def run_to_memory(sdf: DataFrame, name: str, mode: str, chunk_dir: str) -> DataFrame:
    """Drain the stream into an in-memory table (bounded aggregate
    results only) and return it as a batch DataFrame."""
    return run_many_to_memory([(sdf, name)], mode, chunk_dir)[0]


def run_many_to_memory(
    named: list[tuple[DataFrame, str]], mode: str, chunk_dir: str
) -> list[DataFrame]:
    """Drain several independent streams over the chunks staged in
    ``chunk_dir`` CONCURRENTLY into in-memory tables; returns their
    batch DataFrames in input order. Raises ValueError on an empty
    stream list (rather than a confusing IndexError from the session
    lookup).

    Spark allows one stateful aggregation per stream, so a query
    needing two (q55's tumbling + sliding) runs two streams — but
    sequentially each pays the full micro-batch fixed cost (state
    commits, offset/commit log fsyncs) on a mostly idle pool. Starting
    both before awaiting either overlaps those costs (measured at
    sf0.1: 3.1s → 1.6s for q55); AvailableNow still bounds each run,
    so the result is the same deterministic function of the input."""
    if not named:
        raise ValueError("run_many_to_memory needs at least one stream")
    spark = named[0][0].sparkSession
    qs = []
    with _replay_shuffle(spark, chunk_dir):
        for sdf, name in named:
            ckpt = stream_dir(chunk_dir, f"ckpt_{name}")
            _clean(ckpt)
            qs.append(
                sdf.writeStream.format("memory")
                .queryName(name)
                .outputMode(mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
        for q in qs:
            q.awaitTermination()
    return [spark.table(name) for _, name in named]


def run_to_parquet(sdf: DataFrame, tag: str, chunk_dir: str) -> DataFrame:
    """Drain the stream into a parquet file sink (append mode — the
    scale-correct sink: nothing collects to the driver) and return the
    sink's contents."""
    return run_many_to_parquet([(sdf, tag)], chunk_dir)[0]


def run_many_to_parquet(
    tagged: list[tuple[DataFrame, str]], chunk_dir: str
) -> list[DataFrame]:
    """Drain several independent append-mode streams over the chunks
    staged in ``chunk_dir`` CONCURRENTLY into parquet file sinks (the
    run_many_to_memory overlap, for sinks that must not collect): all
    streams start before any is awaited, so the per-micro-batch fixed
    costs overlap on the idle pool."""
    if not tagged:
        raise ValueError("run_many_to_parquet needs at least one stream")
    spark = tagged[0][0].sparkSession
    outs, qs = [], []
    with _replay_shuffle(spark, chunk_dir):
        for sdf, tag in tagged:
            out = stream_dir(chunk_dir, f"sink_{tag}")
            ckpt = stream_dir(chunk_dir, f"ckpt_{tag}")
            _clean(out)
            _clean(ckpt)
            outs.append(out)
            qs.append(
                sdf.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
        for q in qs:
            q.awaitTermination()
    return [spark.read.parquet(out) for out in outs]
