"""Typed parquet readers for the test corpus.

Design notes for scale (100 TB posture):

- Explicit schemas — no footer-merge schema inference job on wide
  directories (``spark.read.schema(...)``), and types are pinned so the
  oracle comparison is stable.
- The reader is just ``spark.read.parquet``: Catalyst pushes filters and
  prunes columns into the scan (verify with ``.explain`` —
  ``PushedFilters`` / ``ReadSchema``), and partition pruning applies
  when a table is directory-partitioned.
- ``events.ts`` has shipped as both parquet TIMESTAMP(NANOS) and
  TIMESTAMP(MICROS) across corpus refreshes. The loader probes the
  footer's timestamp unit ONCE per file (pyarrow metadata read — no
  Spark job, no data scan) and branches: native ``timestamp_ntz`` read
  for micros/millis, and the legacy nanos-as-long path (``ts DIV
  1000`` — *integer* division; a double division would lose precision
  above 2^53 ns) only when the footer actually says nanos. Both match
  DuckDB's truncation bit-for-bit. Never assume the unit: a stale
  assumption here compresses or stretches the time axis 1000× and
  silently passes every ordering-invariant query while corrupting
  every absolute-time one.
"""

from __future__ import annotations

import functools
import glob
import itertools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etfconstituentextractor_spark import schemas
from etfconstituentextractor_spark.session import prep


def _events_ts_meta(path: str) -> tuple[str, str | None]:
    """(unit, tz) of events.ts from the parquet footer.

    Discovery is local-filesystem (os.path/glob, recursive for
    directory-partitioned layouts) — the test corpus is always local;
    a remote URI (s3://, hdfs://) deployment would swap this for
    ``pyarrow.dataset`` filesystem inference. The probe reads only the
    FIRST fragment's footer: the corpus writes one unit per table, and
    a mixed-unit layout fails loudly at scan time (Spark schema/value
    mismatch), never silently.

    The footer read is cached on (fragment, mtime_ns), so an in-place
    corpus refresh that flips the unit mid-process re-probes instead of
    serving a stale unit (the same staleness mode the streaming staging
    cache fixed in replay.py).
    """
    frag = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
        if not parts:
            raise FileNotFoundError(f"no parquet fragments under {path}")
        frag = parts[0]
    return _probe_ts_footer(frag, os.stat(frag).st_mtime_ns)


@functools.lru_cache(maxsize=64)
def _probe_ts_footer(frag: str, mtime_ns: int) -> tuple[str, str | None]:
    import pyarrow.parquet as pq

    field = pq.ParquetFile(frag).schema_arrow.field("ts")
    unit = getattr(field.type, "unit", None)
    if unit not in ("ns", "us", "ms", "s"):
        raise TypeError(
            f"events.ts at {frag} is {field.type}, expected a parquet timestamp"
        )
    return unit, getattr(field.type, "tz", None)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table as a typed DataFrame."""
    if name not in schemas.TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {schemas.TABLES}")
    prep(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        return _load_events(spark, path)
    return spark.read.schema(schemas.TABLE_SCHEMAS[name]).parquet(path)


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Unit-aware events reader (see module docstring)."""
    unit, tz = _events_ts_meta(path)
    if unit == "ns":
        # Spark's vectorized reader rejects TIMESTAMP(NANOS)
        # ([PARQUET_TYPE_ILLEGAL]); read it as a nanos long and truncate
        # to micros exactly. The conf is runtime-mutable and inert for
        # non-nanos columns, so setting it here cannot corrupt other
        # tables.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.schema(schemas.EVENTS_RAW).parquet(path)
        return df.withColumn(
            "ts", F.expr("CAST(timestamp_micros(ts DIV 1000) AS timestamp_ntz)")
        )
    if tz is not None:
        # tz-adjusted (isAdjustedToUTC=true): the stored values are UTC
        # instants, not wall-clock. Read as TIMESTAMP (instant) and
        # rebase to NTZ — an identity under the engine's pinned UTC
        # session, and the same projection DuckDB applies when its
        # TIMESTAMPTZ read is cast to TIMESTAMP under UTC. Assert the
        # pin instead of silently depending on it.
        if spark.conf.get("spark.sql.session.timeZone") != "UTC":
            raise RuntimeError(
                f"events.ts at {path} is tz-adjusted ({tz}); reading it as "
                "wall-clock requires the session timezone pinned to UTC"
            )
        tz_schema = T.StructType(
            [
                f if f.name != "ts" else T.StructField("ts", T.TimestampType(), f.nullable)
                for f in schemas.EVENTS.fields
            ]
        )
        df = spark.read.schema(tz_schema).parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    # micros/millis/seconds, NTZ: Spark reads these natively; the
    # explicit timestamp_ntz schema pins NTZ semantics so no
    # session-timezone shift applies.
    return spark.read.schema(schemas.EVENTS).parquet(path)


def fanout(df: DataFrame, key: str = "doc_id", n: int | None = None) -> DataFrame:
    """Pin COMPUTE parallelism ahead of expensive per-row work (heavy
    HOF chains, hashing, shingling).

    A small single-file parquet scan is one input split — one task —
    so everything between the scan and the first shuffle runs on ONE
    core no matter how wide the cluster is (the same failure mode as
    the UDTF boundary, documents.py:parse_filings). Repartition only
    when the plan has FEWER partitions than the target width: at real
    scale the scan already has thousands of splits and this is a
    no-op, so we never *reduce* parallelism or add a shuffle where one
    isn't needed. Accessing ``df.rdd`` here only builds the RDD
    lineage to read its partition count — no job runs.

    ``n`` defaults to the cluster's full parallelism — right for the
    batch queries, where the fanned-out stage IS the dominant cost.
    Micro-batch callers (streaming/dedup_index.py) pass their pinned
    shuffle width instead: a slice-sized batch fanned to 32 spends
    more on empty-task scheduling in every downstream stage than the
    extra cores return (round-9 measurement: per-batch write job
    dominated by tiny-task overhead at width 32 vs 8)."""
    if n is None:
        n = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n, key)
    return df


_SCRATCH_COUNTER = itertools.count()
#: dirs already registered for atexit removal in this process
_SCRATCH_REGISTERED: set[str] = set()


def scratch_dir(prefix: str, sf_dir: str, unique: bool = False) -> str:
    """Process-private tmp dir for query-built artifacts, registered
    for atexit removal — ONE implementation of the pid-keyed pattern
    (md5-of-sf_dir so distinct datasets with the same basename never
    collide; pid so concurrent processes sharing /tmp never race
    destructively — the r7 q50 review finding). ``unique=True``
    appends a per-call counter: use it when the artifact is REBUILT
    per call with non-reproducible file names (snapshot-table commits
    use uuid data dirs), so earlier calls' returned DataFrames keep
    planning over their own, still-present files instead of dangling
    on a wiped directory (round-9 review finding). By exit, lazy
    frames over any generation have been consumed. Each path registers
    its removal once per process, however often it is resolved."""
    import atexit
    import hashlib
    import shutil
    import tempfile

    key = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{key}_{os.getpid()}")
    if unique:
        d = f"{d}_{next(_SCRATCH_COUNTER)}"
    if d not in _SCRATCH_REGISTERED:
        _SCRATCH_REGISTERED.add(d)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d

