"""Versioned snapshot tables — manifest-committed parquet with
time-travel reads (SURVEY.md §4 "layout levers"; the catalog/manifest
indirection that lets readers run concurrently with rewrites — no
reference counterpart, the reference overwrites one CSV per run,
`ETFQuarterlyHoldingsExtractor.py:135-143`).

This is the lakehouse commit protocol (Iceberg/Delta's core idea) in
its minimal single-manifest form:

- every commit writes its data files to a fresh, never-reused
  directory (`data/v00000007-<uuid>/`) — data files are IMMUTABLE;
- a commit becomes visible by publishing ONE manifest
  (`_manifests/v00000007.json`) listing every file of that version —
  relative paths, so the table relocates;
- the manifest is written to a temp name and RENAMED into place;
  Hadoop rename-without-overwrite fails if the destination exists, so
  two racing committers serialize: exactly one wins the version, the
  loser gets ConcurrentCommitError and retries on the new latest.
  A crashed committer leaves only temp garbage and an orphaned data
  dir — never a partial manifest, never a corrupt table;
- readers resolve a version (default: latest) to its file list and
  read exactly those files: snapshot isolation for free, since no
  committed file is ever mutated. Time travel = read an older
  manifest.

Scale posture: data writes are ordinary distributed Spark writes; the
commit itself is O(1) metadata (one rename), independent of data
size; reads plan from the manifest's file list so a version's scan
never depends on directory listing races. All filesystem access goes
through the Hadoop FileSystem API (object-store parity, never a
local-only os.walk), with the single caveat real table formats
solve harder: rename-without-overwrite is atomic on HDFS/local but
only best-effort on some object stores — production systems use a
catalog conditional-swap there; the protocol shape is identical.

Round 9 adds the pruning half of the Iceberg shape: a commit can
record per-file min/max COLUMN STATS in the manifest
(``stats_cols=``), and ``snapshot_read(where=(col, op, value))``
plans only the files whose stat range can satisfy the predicate —
file skipping from metadata, before any scan task launches. Files or
columns without stats are conservatively kept, and the predicate is
ALSO applied to the returned frame, so pruning is a pure optimization
that cannot change results.

Round 9 also closes the previously-declared MERGE gap:
``snapshot_merge`` is row-level upsert-by-key in the Iceberg
copy-on-write shape — manifest stats prune candidate files, an exact
key-column probe finds the files that genuinely contain matched keys,
and ONLY those are rewritten; everything else carries over by
relpath, stats included.

Round 10 adds the merge-on-read half: ``snapshot_delete`` commits
row-level deletes as POSITIONAL DELETION VECTORS — a tiny parquet of
(file key, row position) pairs per version — without rewriting one
data byte (the Iceberg v2 / Delta DV shape; at 100 TB copy-on-write
delete amplification is the reason real formats grew this). Readers
apply a version's DV as an anti-join on (_metadata.file_path-derived
key, _metadata.row_index); files without deletes read plain, so a
DV-free table pays nothing. Rewrites MATERIALIZE deletes: merge and
compact apply the DV to the files they rewrite and drop those files'
DV coverage, so deleted rows can never resurrect through a rewrite
that changes row positions.

Round 10 also closes the previously-declared manifest scale gap:
versions past _SHARD_FILES entries store their inventory in immutable
SHARD files with per-column bounds in the root (the Iceberg
manifest-list shape) — appends reference the parent's shards by name
at O(new files) metadata cost, merge/compact rewrite only the shards
they actually drop files from, DV deletes share every shard verbatim,
and pruned reads skip whole shards by bounds before loading one.

The honest scope line: stats are gathered by a post-write
single-column aggregate over the fresh files (a production format
lifts them from the task-level parquet footers the write already
produced — same numbers, zero extra read), merge is upsert-only
(deletes go through
``snapshot_delete``), and DV application is a join in the plan rather
than a scan-integrated position mask (an engine-owned format pushes
the mask into the reader; the join spelling is what composes on stock
Spark, AQE broadcasts the DV while it is small). ``snapshot_compact``
consolidates small files as just another versioned commit — the
reader-safe answer to the small-file problem, where an in-place
directory rewrite would race concurrent readers. ``snapshot_vacuum``
is the retention sweep: expire old versions and remove unreferenced
data dirs (deletion-vector dirs included), manifests-first so a crash
can only leave garbage, never break a readable version.
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "ConcurrentCommitError",
    "snapshot_commit",
    "snapshot_compact",
    "snapshot_delete",
    "snapshot_changes",
    "snapshot_last_txn",
    "snapshot_merge",
    "snapshot_read",
    "snapshot_restore",
    "snapshot_stream_ingest",
    "snapshot_versions",
    "snapshot_vacuum",
    "snapshot_version_as_of",
    "snapshot_view",
    "snapshot_changes_view",
    "snapshot_replicate",
    "snapshot_history",
    "snapshot_tail",
    "snapshot_claim_range",
    "snapshot_insert_into",
    "snapshot_maintain",
]

_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")
_SHARD_RE = re.compile(r"^v(\d{8})-shard-[0-9a-f]{8}\.json$")
#: a version whose file count exceeds this shards its manifest: the
#: root lists shard refs (+ pruning bounds) instead of inline files.
#: At 100 TB a version is millions of files — one JSON the driver
#: must parse per read is the single-manifest design's scale wall;
#: sharding bounds root size by shard COUNT and lets both pruned
#: reads and incremental commits touch only the shards they must.
_SHARD_FILES = 1000
#: when a commit would leave more than this many UNDER-HALF-FULL
#: shards in the root, they are loaded and merged into full ones
#: (Iceberg's manifest-merge move). Without it, streaming ingest —
#: one small append per micro-batch — grows the root to O(#batches)
#: one-file shard refs and re-creates the very metadata wall sharding
#: exists to remove (round-10 review); with it, small-shard count
#: stays bounded and the merge cost amortizes to O(1) per commit,
#: log-structured-merge style.
_SHARD_MERGE_MIN = 8
#: extracts a data file's manifest relpath KEY from
#: _metadata.file_path — the leading greedy '.*/' pins the capture to
#: the RIGHTMOST data/vN-uuid segment, so a table that itself lives
#: under another snapshot table's data dir still keys on ITS OWN
#: segment (the leftmost-match version mis-keyed exactly there:
#: merge's probe then silently matched nothing and upserts duplicated
#: keys — round-10 review). The key stays in file_path's own encoding
#: (both DV write and DV apply derive it from the same column, so
#: matching needs consistency, not decoding); the driver-side
#: bookkeeping decodes separately.
_DV_KEY_RE = r"^.*/(data/v[0-9]{8}-[0-9a-f]{8}/.+)$"


class ConcurrentCommitError(RuntimeError):
    """Another committer published this version first — re-read the
    latest version and retry."""


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, p, jvm


def _list_versions(fs, jvm, table: str) -> list[int]:
    mdir = jvm.org.apache.hadoop.fs.Path(posixpath.join(table, "_manifests"))
    if not fs.exists(mdir):
        return []
    out = []
    for st in fs.listStatus(mdir):
        m = _MANIFEST_RE.match(st.getPath().getName())
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _read_manifest(fs, jvm, table: str, version: int) -> dict:
    p = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(table, "_manifests", f"v{version:08d}.json")
    )
    if not fs.exists(p):
        raise FileNotFoundError(f"version {version} of {table} does not exist")
    text = jvm.org.apache.commons.io.IOUtils.toString(fs.open(p), "UTF-8")
    return json.loads(text)


def snapshot_versions(spark: SparkSession, path: str) -> list[dict]:
    """Commit metadata for every version, oldest first."""
    fs, _, jvm = _fs_path(spark, path)
    return [
        {
            **{k: m[k] for k in ("version", "op", "n_files", "parent")},
            "committed_at": m.get("committed_at"),
        }
        for m in (_read_manifest(fs, jvm, path, v) for v in _list_versions(fs, jvm, path))
    ]


def snapshot_version_as_of(spark: SparkSession, path: str, ts: float) -> int:
    """The newest version committed at-or-before epoch ``ts`` —
    timestamp time travel (pass the result to snapshot_read). Raises
    if the table has no version that old. Versions from before the
    committed_at stamp existed (none in practice — the field ships
    with the feature) are treated as infinitely old."""
    fs, _, jvm = _fs_path(spark, path)
    best = None
    for v in _list_versions(fs, jvm, path):
        at = _read_manifest(fs, jvm, path, v).get("committed_at")
        if at is None or at <= ts:
            best = v
    if best is None:
        raise FileNotFoundError(
            f"{path} has no version committed at or before {ts}"
        )
    return best


# ---------------------------------------------------------------------------
# manifest sharding (round 10): a version whose file count exceeds
# _SHARD_FILES stores its file list + stats in IMMUTABLE shard files
# (`_manifests/vN-shard-<uuid>.json`), the root manifest holding only
# refs {path, n_files, bounds}. Two scale properties the single
# inline manifest lacks, both the Iceberg manifest-list design:
#  - commits REUSE parent shards by ref: an append's metadata cost is
#    O(new files), merge/compact rewrite only the shards whose files
#    they actually drop — never the whole list;
#  - pruned reads skip whole shards by the refs' per-column [lo, hi]
#    bounds before loading one shard byte.
# Shards are written BEFORE the root-manifest claim, so a lost race
# orphans shard files exactly like data dirs; vacuum sweeps both.


def _load_shard(fs, jvm, table: str, name: str) -> dict:
    p = jvm.org.apache.hadoop.fs.Path(posixpath.join(table, "_manifests", name))
    return json.loads(jvm.org.apache.commons.io.IOUtils.toString(fs.open(p), "UTF-8"))


def _shard_bounds(files: list[str], stats: dict) -> dict:
    """Per-column [min, max] over the files' stat ranges — recorded
    only for columns EVERY file has non-null bounds for (a single
    unknown file makes the shard unskippable on that column). Values
    stay in the stats' own primitive domain, so shard-level pruning
    compares exactly like file-level pruning."""
    cols: set | None = None
    for f in files:
        st = stats.get(f)
        have = {
            c
            for c, b in (st or {}).items()
            if b and b[0] is not None and b[1] is not None
        }
        cols = have if cols is None else (cols & have)
        if not cols:
            return {}
    bounds = {}
    for c in cols or ():
        los = [stats[f][c][0] for f in files]
        his = [stats[f][c][1] for f in files]
        try:
            bounds[c] = [min(los), max(his)]
        except TypeError:  # mixed domains across files: not boundable
            continue
    return bounds


def _write_shard(fs, jvm, table: str, version: int, files: list[str], stats: dict) -> dict:
    """Write one immutable shard file; returns its root-manifest ref."""
    name = f"v{version:08d}-shard-{uuid.uuid4().hex[:8]}.json"
    p = jvm.org.apache.hadoop.fs.Path(posixpath.join(table, "_manifests", name))
    sh_stats = {f: stats[f] for f in files if f in stats}
    out = fs.create(p, False)
    out.write(
        bytearray(json.dumps({"files": sorted(files), "stats": sh_stats}).encode("utf-8"))
    )
    out.close()
    ref = {"path": name, "n_files": len(files), "bounds": _shard_bounds(files, stats)}
    tb = _total_bytes(files, stats)
    if tb is not None:
        # summed member sizes (round 12): lets snapshot_history report
        # per-version total_bytes from ROOT manifests alone even for
        # sharded inventories — no shard doc loads on the audit path
        ref["bytes"] = tb
    return ref


def _total_bytes(files, stats: dict) -> int | None:
    """Sum of recorded '__bytes' sizes, or None unless every file is
    covered (a partial sum would under-report silently)."""
    total = 0
    for f in files:
        b = stats.get(f, {}).get("__bytes")
        if not b:
            return None
        total += int(b[0])
    return total


def _shard_skippable(ref: dict, where: tuple) -> bool:
    col, op, val = where
    b = (ref.get("bounds") or {}).get(col)
    if not b or b[0] is None or b[1] is None:
        return False
    try:
        return _PRUNE_SKIP[op](b[0], b[1], val)
    except (TypeError, KeyError):
        return False


def _shard_docs(fs, jvm, table: str, m: dict, where=None):
    """The manifest's file inventory as [(ref_or_None, files, stats)]
    — one entry per shard (loading each), or a single (None, ...) for
    inline manifests. ``where`` (one predicate tuple or a list — a
    conjunction) skips shards ANY predicate's bounds prove empty
    WITHOUT loading them."""
    if "shards" not in m:
        return [(None, m["files"], m.get("stats", {}))]
    wlist = _normalize_where(where)
    out = []
    for ref in m["shards"]:
        if any(_shard_skippable(ref, w) for w in wlist):
            continue
        doc = _load_shard(fs, jvm, table, ref["path"])
        out.append((ref, doc["files"], doc.get("stats", {})))
    return out


def _resolve(fs, jvm, table: str, m: dict, where=None):
    """(files, stats) of a manifest, shards resolved (and skipped by
    ``where`` bounds when given)."""
    files: list[str] = []
    stats: dict = {}
    for _, fl, st in _shard_docs(fs, jvm, table, m, where):
        files += fl
        stats.update(st)
    return files, stats


def _files_section(fs, jvm, table: str, version: int, parts) -> dict:
    """The manifest's files/stats fields from ``parts`` — each part
    either a SHARED parent shard ``(ref, None, None)`` (reused by
    name, never loaded or rewritten) or MATERIALIZED files
    ``(None, files, stats)`` (written as fresh shards of ≤
    _SHARD_FILES, or inlined when the whole version fits)."""
    total = sum(p[0]["n_files"] if p[1] is None else len(p[1]) for p in parts)
    if total <= _SHARD_FILES:
        files: list[str] = []
        stats: dict = {}
        for ref, fl, st in parts:
            if fl is None:
                doc = _load_shard(fs, jvm, table, ref["path"])
                fl, st = doc["files"], doc.get("stats", {})
            files += fl
            stats.update(st)
        return {"n_files": total, "files": sorted(files), "stats": stats}
    half = _SHARD_FILES // 2
    shards = []  # full shards: shared refs + freshly written
    pend: list[tuple] = []  # under-half-full work, write-deferred
    for ref, fl, st in parts:
        if fl is None:
            if ref["n_files"] < half:
                pend.append((ref, None, None))
            else:
                shards.append(ref)
            continue
        fl = sorted(fl)
        for i in range(0, len(fl), _SHARD_FILES):
            chunk = fl[i : i + _SHARD_FILES]
            if len(chunk) < half:
                pend.append((None, chunk, st))
            else:
                shards.append(_write_shard(fs, jvm, table, version, chunk, st))
    # manifest-merge: too many under-half-full shards (streaming
    # appends produce one tiny shard per batch) load and consolidate
    # into full ones; full shards are never touched, keeping the
    # common append O(new files) and the small-shard count bounded
    if len(pend) > _SHARD_MERGE_MIN:
        files: list[str] = []
        stats: dict = {}
        for ref, fl, st in pend:
            if fl is None:
                doc = _load_shard(fs, jvm, table, ref["path"])
                fl, st = doc["files"], doc.get("stats", {})
            files += fl
            stats.update(st)
        files = sorted(files)
        for i in range(0, len(files), _SHARD_FILES):
            shards.append(
                _write_shard(fs, jvm, table, version, files[i : i + _SHARD_FILES], stats)
            )
    else:
        for ref, fl, st in pend:
            if fl is None:
                shards.append(ref)
            else:
                shards.append(_write_shard(fs, jvm, table, version, fl, st))
    return {"n_files": total, "shards": shards}


def _stat_val(v):
    """JSON-safe stat value: primitives pass through; everything else
    (dates, decimals, ...) records as None — i.e. NO usable stats, so
    the reader conservatively keeps the file. The earlier str(v)
    fallback was a silent wrong-results pruner: a stringified DECIMAL
    bound compared LEXICALLY against a probe the in-plan filter casts
    NUMERICALLY (round-9 review finding). Stats therefore cover
    int/float/bool/string columns only — for a string column both the
    pruner and the in-plan filter compare lexically, consistently."""
    return v if isinstance(v, (int, float, str, bool)) or v is None else None


def snapshot_commit(
    df: DataFrame,
    path: str,
    mode: str = "append",
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    bloom_cols: list[str] | None = None,
    bloom_fpp: float = 0.01,
    retries: int = 0,
) -> int:
    """Write ``df`` as the table's next version; returns the version.

    mode='append' extends the parent version's file list; 'overwrite'
    starts a fresh list (old versions stay readable — nothing is
    deleted). Raises ConcurrentCommitError if another writer published
    the same version first: data files are already written (orphaned,
    harmless), so the retry is cheap only in metadata — callers that
    expect contention should re-derive against the new latest before
    retrying, which is the table-format contract too.

    ``retries=N`` (append mode only) performs that metadata rebase
    automatically, up to N times: an append's content does not depend
    on WHICH parent it extends, so on a lost race the already-written
    data files are kept (renamed under the next attempt's version so
    vacuum's in-flight guard keeps protecting them), the new latest
    manifest is re-read, the partition-spec and txn-idempotence checks
    re-run against it, and the manifest is re-assembled and
    re-published — zero data rewrite. Overwrite commits must surface
    the race (the caller's intent — replace WHAT? — is ambiguous
    after a concurrent change), as must appends with ``bloom_cols``
    (the sidecar consolidation decision depends on the parent's
    entries). If a retry discovers the race was this writer's own
    txn replay, the commit no-ops exactly like the pre-write check.

    ``stats_cols`` records per-file [min, max] for those columns in
    the manifest (the Iceberg pruning shape): one column-pruned
    aggregate over the fresh files, grouped by input_file_name — O(1)
    rows per file to the driver. Appends merge the parent's stats, so
    per-commit choices may differ; readers treat missing stats as
    "keep the file".

    ``partition_by`` writes hive-style value directories inside the
    version's data dir and records the spec in the manifest; readers
    reconstruct the columns via basePath and PRUNE files by the
    partition values already encoded in the manifest's relpaths (no
    extra metadata). The spec is per-TABLE: appends must repeat the
    parent's spec (mixed layouts would poison partition discovery),
    enforced here. Hive path escaping (':' -> '%3A' etc.) is
    round-tripped: the pruner decodes segments before comparing, so
    string values with reserved chars prune correctly.

    ``bloom_cols`` builds per-file Bloom filters (sized for
    ``bloom_fpp``) into a sidecar the reader's equality probes consult
    AFTER stats/partition pruning — point-lookup file skipping for
    high-cardinality unclustered columns whose [min, max] stats span
    everything (the Iceberg-puffin shape). Appends add a sidecar for
    the fresh files and carry the parent's entries; files rewritten by
    merge/compact lose coverage (conservatively kept by readers) until
    a later bloom-building commit.

    ``txn=(writer_id, seq)`` records an idempotent-writer watermark
    in the manifest (Delta's setTransaction shape): the latest
    manifest's ``txn`` map answers "what is the highest seq writer X
    has committed" in O(1), which is what exactly-once streaming
    ingest checks before committing a possibly-redelivered batch.
    Every commit type carries the parent's map forward, so the
    watermark survives interleaved merges/deletes/compactions."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    if retries and (mode != "append" or bloom_cols):
        raise ValueError(
            "retries apply to plain append commits only — overwrite races "
            "and bloom-building appends must surface to the caller"
        )
    spark = df.sparkSession
    fs, _, jvm = _fs_path(spark, path)
    pby = list(partition_by or [])
    ptypes = {
        f.name: f.dataType.simpleString() for f in df.schema.fields if f.name in pby
    }
    if bloom_cols:
        # BEFORE the data write: a bloom validation error afterwards
        # would orphan the freshly-written dir beyond vacuum's
        # in-flight guard on every retry (round-10 fourth review)
        _validate_bloom_cols(
            {f.name: f.dataType.simpleString() for f in df.schema.fields},
            bloom_cols,
            pby,
        )
    files: list[str] | None = None  # written ONCE; renamed on a rebase
    stats: dict = {}
    for attempt in range(max(0, int(retries)) + 1):
        versions = _list_versions(fs, jvm, path)
        version = (versions[-1] + 1) if versions else 0
        parent = versions[-1] if versions else None
        eff_mode = mode
        if mode == "append" and parent is None:
            eff_mode = "overwrite"  # first commit of a table is a plain write
        # the parent manifest is read for append merging AND, on any
        # mode, for the txn-watermark carry (an overwrite that dropped
        # the map would break exactly-once ingest across it)
        prev = _read_manifest(fs, jvm, path, parent) if parent is not None else None
        if txn is not None and prev is not None:
            wid, seq = txn
            last = (prev.get("txn") or {}).get(wid)
            if last is not None and int(seq) <= int(last):
                # the idempotence check must live INSIDE the commit path,
                # not only in callers: a zombie writer publishing between
                # a caller's watermark read and this commit's version
                # listing lands under a DIFFERENT version number, so the
                # atomic claim alone never collides and the batch would
                # append twice (round-10 review). Here the zombie's
                # manifest IS prev (or its watermark was carried into
                # prev), so the replay is visible and skipped before any
                # data is written. A rebase retry re-arrives here with
                # data already written — the files are orphans for
                # vacuum, the replay still must not publish.
                return parent
        pm = prev if eff_mode == "append" else None
        if pm is not None:
            parent_pby = pm.get("partition_by", [])
            if pby != parent_pby:
                raise ValueError(
                    f"append partition_by {pby} != table spec {parent_pby}"
                )
            parent_types = pm.get("partition_types")
            if parent_types and parent_types != ptypes:
                # a dtype drift would silently change the cast applied to
                # the parent's carried files (round-9 review finding)
                raise ValueError(
                    f"append partition types {ptypes} != table spec {parent_types}"
                )
        # schema tracking (round 11): overwrite records the frame's
        # schema; append merges ADDITIVELY into the parent's recorded
        # schema (new columns land at the end, type changes raise).
        # A legacy parent without a recorded schema stays untracked —
        # its old files' real columns are known only to their footers,
        # so stamping the append frame's schema could silently drop
        # or null columns; footer inference remains authoritative
        # until the next overwrite. Computed BEFORE the data write so
        # a type-conflict raise cannot orphan a fresh data dir (the
        # validate-before-write rule, round-10 fourth review).
        if eff_mode == "overwrite":
            schema_entry = df.schema.jsonValue()
        elif pm is not None and pm.get("schema") is not None:
            schema_entry = _merge_schema_json(pm["schema"], df.schema.jsonValue())
        else:
            schema_entry = None
        if files is None:
            files, stats = _write_data(df, path, version, stats_cols, partition_by=pby)
        elif files:
            # REBASE (attempt > 1): the data files are immutable and
            # content-valid under any parent — only their dir carries
            # the lost version's number, which matters solely for
            # vacuum's in-flight guard (it skips dirs NEWER than the
            # newest manifest; after the lost race ours is not). Rename
            # the dir under the new attempt's version and remap the
            # relpaths/stats keys — O(1) metadata, zero data movement.
            old_rel = "/".join(files[0].split("/")[:2])
            new_rel = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
            ok = fs.rename(
                jvm.org.apache.hadoop.fs.Path(posixpath.join(path, old_rel)),
                jvm.org.apache.hadoop.fs.Path(posixpath.join(path, new_rel)),
            )
            if not ok:
                raise ConcurrentCommitError(
                    f"rebase of {path} lost its data dir {old_rel} (vacuumed "
                    "during the race window?) — re-derive and retry"
                )
            files = [new_rel + f[len(old_rel):] for f in files]
            stats = {new_rel + k[len(old_rel):]: v for k, v in stats.items()}
        parts = []
        if pm is not None:
            if "shards" in pm:
                # append metadata cost is O(new files): the parent's
                # shards ride along BY REF, never loaded or rewritten
                parts += [(ref, None, None) for ref in pm["shards"]]
            else:
                parts.append((None, pm["files"], pm.get("stats", {})))
        parts.append((None, files, stats))
        manifest = {
            "version": version,
            "op": eff_mode,
            "parent": parent,
            **_files_section(fs, jvm, path, version, parts),
            "partition_by": pby,
            "partition_types": ptypes,
        }
        if schema_entry is not None:
            manifest["schema"] = schema_entry
        if pm is not None and "dv" in pm:
            # an append extends the parent's file list, so the
            # parent's deletion vector must ride along — dropping it
            # here would resurrect every masked row (fresh files can't
            # collide: DV keys name data/vN-uuid dirs, never reused)
            manifest["dv"] = pm["dv"]
        blooms = list((pm or {}).get("bloom") or [])
        if bloom_cols:
            # lazily: resolving a sharded inventory costs O(total files)
            # driver metadata and only the rare consolidation branch needs
            # it — an eager resolve broke the O(new files) append cost on
            # exactly the micro-batch workload (round-10 max review)
            def _live() -> set[str]:
                if "files" in manifest:
                    return set(manifest["files"])
                lf, _ = _resolve(fs, jvm, path, manifest)
                return set(lf)

            blooms = _write_bloom(
                spark, path, version, files, bloom_cols, bloom_fpp, pby, ptypes,
                carried=blooms, live_files=_live,
            )
        if blooms:
            manifest["bloom"] = blooms
        _set_txn(manifest, prev, txn)
        try:
            _publish(fs, jvm, path, version, manifest)
        except ConcurrentCommitError:
            if attempt >= retries:
                raise
            continue
        return version


#: column types a manifest bloom may cover — the same primitive
#: domains as stats (the pruner must coerce the probe into the
#: column's own type before hashing: xxhash64 is type-sensitive, the
#: bloom_reduced_join lesson)
_BLOOM_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double", "boolean", "string"}
#: past this many bloom entries, a bloom-building commit consolidates
#: them into ONE sidecar (live rows only) — the _SHARD_MERGE_MIN
#: lesson applied to blooms, so per-probe sidecar jobs stay bounded
#: instead of growing O(#bloom-building commits)
_BLOOM_MERGE_MIN = 8


def _validate_bloom_cols(dtypes: dict, bloom_cols: list[str], pby: list[str]) -> dict:
    """{col: dtype} for coverable columns; raises on partition
    columns and uncoverable types. Called by snapshot_commit BEFORE
    _write_data — a validation error after the data write leaks an
    unreclaimable orphan dir per retry, the same class the delete
    path fixed (round-10 fourth review) — and again inside
    _write_bloom as defense."""
    cols: dict[str, str] = {}
    for c in bloom_cols:
        if c in pby:
            raise ValueError(f"bloom_cols may not include partition column {c!r}")
        t = dtypes.get(c)
        if t not in _BLOOM_TYPES:
            raise ValueError(
                f"bloom over {c!r} ({t}) unsupported — coverable types: "
                f"{sorted(_BLOOM_TYPES)}"
            )
        cols[c] = t
    return cols


def _write_bloom(
    spark: SparkSession,
    path: str,
    version: int,
    files: list[str],
    bloom_cols: list[str],
    fpp: float,
    pby: list[str],
    ptypes: dict | None,
    carried: list,
    live_files,
) -> list:
    """Per-file Bloom filters over ``bloom_cols`` for the fresh
    ``files``, written as a sidecar parquet dir under data/ — the
    Iceberg-puffin shape: point-lookup file skipping for
    high-cardinality UNCLUSTERED columns whose per-file [min, max]
    stats span everything. Sidecar rows carry their OWN parameters
    (f, col, dtype, m, k, bloom) — sized PER FILE from its own row
    count (a commit-wide max sizing inflated every small file's
    filter to the largest file's, multi-GB of driver transients at
    clamp scale — round-10 max review), each file CLAMPED at the
    64M-bit cap (fpp degrades, correctness doesn't — a Bloom filter
    has no false negatives at any sizing; failing the commit after
    the data was already written would be strictly worse). An empty
    commit writes no sidecar. One counts job + one map-combinable
    bit-or job per column (≤ Σ m_f/64 rows to the driver — the
    bloom_build control-plane discipline).

    Returns the manifest's new entry list: ``carried`` + this
    commit's entry — or, past _BLOOM_MERGE_MIN entries, ONE
    consolidated entry (all rows still naming ``live_files()`` —
    a CALLABLE, resolved only here — re-written to a single dir) so
    per-probe sidecar jobs stay bounded instead of growing
    O(#bloom-building commits), the _SHARD_MERGE_MIN lesson applied
    to blooms."""
    import math as _math
    import struct as _struct
    from urllib.parse import unquote

    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.operators.bloom import (
        _MAX_M_BITS,
        _positions,
        _shl,
        bloom_params,
    )

    df = _read_files(spark, path, files, pby, ptypes, with_meta=True)
    cols = _validate_bloom_cols(dict(df.dtypes), bloom_cols, pby)
    counts = df.groupBy("__dvf").count().collect()
    if not counts:
        return list(carried)  # empty commit: nothing to cover
    sizes: dict[str, tuple[int, int]] = {}
    for r in counts:
        n = max(1, r["count"])
        try:
            mk = bloom_params(n, fpp)
        except ValueError:
            # oversized file: clamp instead of failing a commit whose
            # data is already on disk — fpp degrades, never correctness
            mb = _MAX_M_BITS
            mk = (mb, max(1, round(mb / n * _math.log(2.0))))
        sizes[r["__dvf"]] = mk
    sizing = spark.createDataFrame(
        [(f, mk[0], mk[1]) for f, mk in sizes.items()],
        "__dvf string, __m int, __k int",  # dunder: never collide with data columns
    )

    blooms: dict[tuple[str, str], list[int]] = {}
    for c in cols:
        rows = (
            df.join(F.broadcast(sizing), "__dvf")
            .select(
                "__dvf",
                F.explode(_positions(F.col(c), F.col("__m"), F.col("__k"))).alias("pos"),
            )
            .select(
                "__dvf",
                F.shiftright("pos", 6).cast("int").alias("w"),
                _shl(F.lit(1).cast("bigint"), F.pmod("pos", F.lit(64)).cast("int")).alias(
                    "mask"
                ),
            )
            .groupBy("__dvf", "w")
            .agg(F.bit_or("mask").alias("word"))
            .collect()
        )
        for r in rows:
            words = blooms.setdefault(
                (r["__dvf"], c), [0] * (sizes[r["__dvf"]][0] // 64)
            )
            words[r["w"]] |= r["word"] & ((1 << 64) - 1)
    out_rows = [
        (
            unquote(fe),
            c,
            cols[c],
            sizes[fe][0],
            sizes[fe][1],
            bytearray(_struct.pack(f"<{len(words)}Q", *words)),
        )
        for (fe, c), words in sorted(blooms.items())
    ]
    schema = "f string, col string, dtype string, m int, k int, bloom binary"
    fresh = spark.createDataFrame(out_rows, schema)

    reldir = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
    if len(carried) + 1 > _BLOOM_MERGE_MIN:
        # consolidate: every carried sidecar's LIVE rows + this
        # commit's rows into one dir; dead rows (rewritten/removed
        # files) drop here, which is also the entry-GC
        union = fresh
        for be in carried:
            union = union.unionByName(
                spark.read.parquet(posixpath.join(path, be["dir"]))
            )
        live = spark.createDataFrame(
            [(f,) for f in sorted(live_files())], "f string"
        )
        union = union.join(F.broadcast(live), "f", "left_semi")
        union.coalesce(1).write.parquet(posixpath.join(path, reldir))
        merged_cols: dict[str, str] = {}
        for be in carried:
            merged_cols.update(be.get("cols", {}))
        merged_cols.update(cols)
        return [{"dir": reldir, "cols": merged_cols}]
    fresh.coalesce(1).write.parquet(posixpath.join(path, reldir))
    return list(carried) + [{"dir": reldir, "cols": cols}]


def _bloom_entries_for(m: dict, col: str) -> list:
    return [be for be in m.get("bloom", ()) if col in be.get("cols", {})]


def _bloom_eval(spark, path: str, entries: list, col: str, evaluate, file_set: set):
    """Shared covered/passing accumulator for every bloom consumer:
    ``evaluate(bdf)`` maps a sidecar frame (f, dtype, m, k, bloom —
    already filtered to ``col``) to a (f, hit) frame; files outside
    ``file_set``, rows the evaluator drops, and files with no row at
    all are conservatively NOT covered. Returns the kept subset rule
    as (covered, passing) sets — callers keep f when
    ``f not in covered or f in passing``."""
    covered: set[str] = set()
    passing: set[str] = set()
    from pyspark.sql import functions as F

    for be in entries:
        bdf = (
            spark.read.parquet(posixpath.join(path, be["dir"]))
            .filter(F.col("col") == col)
            .select("f", "dtype", "m", "k", "bloom")
        )
        res = evaluate(bdf, be)
        if res is None:
            continue
        for r in res.collect():
            if r["f"] in file_set:
                covered.add(r["f"])
                if r["hit"]:
                    passing.add(r["f"])
    return covered, passing


def _bloom_prune(
    spark: SparkSession, path: str, m: dict, files: list[str], where: tuple
) -> list[str]:
    """Point-lookup file skipping from the manifest's bloom sidecars:
    for an equality probe on a covered column, a file whose bloom
    proves the value absent drops from the plan. The test runs as ONE
    tiny Spark job per sidecar over its rows (bounded by file count)
    using the SAME xxhash64/bit expressions that built the filters —
    no second hash implementation to diverge. Conservative
    everywhere: uncovered files, stale rows, dtype-drifted rows, and
    uncoercible probes all keep. STRING columns prune only for
    string probes: str() never fails, but a numeric probe on a string
    column compares under Spark's numeric implicit cast in-plan
    ('0700' = 700 is TRUE) while the bloom hashed the exact text —
    coercion there would falsely prune (round-10 second review)."""
    col, op, val = where
    if op != "=" or val is None:
        return files
    entries = _bloom_entries_for(m, col)
    if not entries:
        return files
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.operators.bloom import bloom_might_contain

    def evaluate(bdf, be):
        dtype = be["cols"][col]
        if dtype == "string" and not isinstance(val, str):
            return None  # exact-domain probes only on string columns
        co = _PTYPE_COERCE.get(dtype.split("(")[0])
        try:
            typed = co(val) if co else None
        except (TypeError, ValueError):
            typed = None
        if typed is None:
            return None  # uncoercible probe: this entry cannot prune
        # dtype must match row-for-row (a consolidated sidecar can
        # hold the same column under an older dtype — those rows are
        # ignored, their files conservatively kept)
        return bdf.filter(F.col("dtype") == dtype).select(
            "f",
            bloom_might_contain(
                F.col("bloom"),
                F.lit(typed).cast(dtype),
                m_bits=F.col("m"),
                k=F.col("k"),
            ).alias("hit"),
        )

    covered, passing = _bloom_eval(spark, path, entries, col, evaluate, set(files))
    return [f for f in files if f not in covered or f in passing]


def _recorded_sizes(files: list[str], stats: dict) -> dict | None:
    """Per-file sizes from the manifest's reserved '__bytes' stats
    entries, or None unless EVERY file is covered (a partial map
    would misclassify uncovered files — callers fall back to one
    listing sweep in that case)."""
    sizes = {}
    for f in files:
        b = stats.get(f, {}).get("__bytes")
        if not b:
            return None
        sizes[f] = int(b[0])
    return sizes


def _swept_sizes(fs, jvm, path: str) -> dict:
    """Per-file sizes by ONE recursive listing of the data tree."""
    droot = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "data"))
    prefix = fs.getFileStatus(droot).getPath().toUri().getPath()
    sizes: dict[str, int] = {}
    it = fs.listFiles(droot, True)
    while it.hasNext():
        st = it.next()
        rel = posixpath.join(
            "data", st.getPath().toUri().getPath()[len(prefix):].lstrip("/")
        )
        sizes[rel] = st.getLen()
    return sizes


def _set_txn(manifest: dict, pm: dict | None, txn: tuple[str, int] | None) -> None:
    """Carry the parent's idempotent-writer watermarks and fold in
    this commit's own (writer_id, seq), keeping the larger seq on a
    same-writer repeat. Also stamps ``committed_at`` MAX-ADJUSTED
    against the parent's (the Delta/Iceberg move): a skewed or
    stepped-back clock must never produce a child stamped before its
    parent, or snapshot_version_as_of would resolve a timestamp to a
    snapshot containing LATER data (round-10 max review)."""
    import time

    txns = dict((pm or {}).get("txn") or {})
    if txn is not None:
        wid, seq = txn
        txns[wid] = max(int(seq), int(txns.get(wid, -1)))
    if txns:
        manifest["txn"] = txns
    # replication fan-in ownership claims (round 12) ride every
    # commit the same way watermarks do: pure carry here —
    # registration/validation happens in snapshot_claim_range.
    # Round-13 fix: claim/release commits set manifest['owners']
    # THEMSELVES before calling here; the unconditional carry used to
    # overwrite a freshly-registered SECOND writer's claim with the
    # parent's map (w2's claim vanished → its interval lost overlap
    # protection and every re-claim churned a new version). Respect an
    # explicitly-set map; carry the parent's only when absent.
    if "owners" in manifest:
        if not manifest["owners"]:
            del manifest["owners"]  # last release — drop the empty map
    else:
        owners = (pm or {}).get("owners")
        if owners:
            manifest["owners"] = dict(owners)
    parent_at = (pm or {}).get("committed_at")
    now = time.time()
    manifest["committed_at"] = (
        now if parent_at is None else max(now, float(parent_at) + 1e-6)
    )


def _write_data(
    df: DataFrame,
    path: str,
    version: int,
    stats_cols: list[str] | None,
    partition_by: list[str] | None = None,
) -> tuple[list[str], dict]:
    """Write ``df`` into a fresh immutable data dir for ``version``;
    returns (relative file list, per-file stats for ``stats_cols``).
    With ``partition_by``, files land under hive-style value
    directories (``lang=en/part-*.parquet``) INSIDE the version's data
    dir — the partition values ride the relpaths the manifest already
    stores, which is exactly what the reader's partition pruning
    parses (no extra metadata)."""
    spark = df.sparkSession
    fs, _, jvm = _fs_path(spark, path)
    reldir = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
    datadir = posixpath.join(path, reldir)
    writer = df.write
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(datadir)
    droot = jvm.org.apache.hadoop.fs.Path(datadir)
    it = fs.listFiles(droot, True)  # recursive: partition subdirs too
    files = []
    sizes: dict[str, int] = {}
    prefix = fs.getFileStatus(droot).getPath().toUri().getPath()
    while it.hasNext():
        st = it.next()
        p = st.getPath()
        if p.getName().endswith(".parquet"):
            rel_in_dir = p.toUri().getPath()[len(prefix) :].lstrip("/")
            rel = posixpath.join(reldir, rel_in_dir)
            files.append(rel)
            sizes[rel] = int(st.getLen())
    stats: dict[str, dict] = {}
    if stats_cols:
        from pyspark.sql import functions as F

        # partition columns are directory-encoded, not in the data
        # files — their pruning comes from the relpath, so stats only
        # cover the remaining columns
        data_stat_cols = [c for c in stats_cols if c not in (partition_by or [])]
        aggs = []
        for c in data_stat_cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        if aggs:
            per_file = (
                spark.read.parquet(datadir)
                .groupBy(F.input_file_name().alias("__f"))
                .agg(*aggs)
                .collect()
            )
            # match by full relpath, NEVER basename: the dynamic-
            # partition writer emits identically-named part files in
            # every partition dir one task writes, so basenames
            # collide within a commit and stats would land on the
            # wrong file — a silent wrong-results pruner (round-9
            # review finding)
            for r in per_file:
                rel = posixpath.join(reldir, _rel_suffix(r["__f"], prefix))
                stats[rel] = {
                    c: [_stat_val(r[f"__lo_{c}"]), _stat_val(r[f"__hi_{c}"])]
                    for c in data_stat_cols
                }
    # FILE SIZES ride the stats map as the reserved '__bytes' pseudo-
    # column ([n, n], round 12 — the Iceberg manifests-record-sizes
    # move): they carry through every append/merge/compact/restore/
    # shard path for free, and size consumers (snapshot_maintain,
    # snapshot_compact) read them instead of sweeping the data tree —
    # a maintenance poll on a fully-sized table is pure manifest
    # metadata. Reserved '__'-keys are excluded wherever stats keys
    # are interpreted as column names. Sizes come from the SAME
    # listing that discovered the files — zero extra I/O.
    for rel, n in sizes.items():
        stats.setdefault(rel, {})["__bytes"] = [n, n]
    return files, stats


def _rel_suffix(file_uri: str, dir_path: str) -> str:
    """The path of ``file_uri`` relative to the absolute directory
    path ``dir_path`` (input_file_name returns a percent-encoded
    URI)."""
    from urllib.parse import unquote, urlparse

    fp = unquote(urlparse(file_uri).path)
    if not fp.startswith(dir_path):
        raise ValueError(f"{file_uri} is not under {dir_path}")
    return fp[len(dir_path) :].lstrip("/")


def _publish(fs, jvm, path: str, version: int, manifest: dict) -> None:
    """Publish ``manifest`` as version ``version`` via the atomic
    no-overwrite claim; raises ConcurrentCommitError on a lost race.
    Requires ``committed_at`` to be stamped already (_set_txn is the
    ONE stamping site, because only it holds the parent manifest for
    the max-adjustment) — a silent fallback here would let a future
    commit path skip the adjustment and reintroduce the clock-skew
    as-of bug (round-10 fourth review)."""
    if "committed_at" not in manifest:
        raise AssertionError(
            "manifest missing committed_at — commit paths must stamp via "
            "_set_txn(manifest, parent, txn) before _publish"
        )
    mdir = posixpath.join(path, "_manifests")
    tmp = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(mdir, f".tmp-{uuid.uuid4().hex}")
    )
    final = jvm.org.apache.hadoop.fs.Path(
        posixpath.join(mdir, f"v{version:08d}.json")
    )
    out = fs.create(tmp, False)
    out.write(bytearray(json.dumps(manifest).encode("utf-8")))
    out.close()
    # Publishing the fully-written temp manifest under the version
    # name IS the commit, and it must be an ATOMIC no-overwrite claim:
    # exactly one writer can publish v{N}. The primitive is
    # filesystem-specific — POSIX rename() silently REPLACES an
    # existing destination (so Hadoop's local rename gives no
    # no-overwrite guarantee; caught by the race test), hence
    # hardlink-claim there (link(2) fails EEXIST atomically); HDFS
    # rename-without-overwrite is atomic as-is; an object store needs
    # a catalog conditional-put, which is exactly the extra piece real
    # table formats add. A loser's temp is removed and its data dir is
    # orphaned garbage for a retention sweep.
    if fs.getUri().getScheme() == "file":
        import os

        try:
            os.link(tmp.toUri().getPath(), final.toUri().getPath())
        except FileExistsError:
            fs.delete(tmp, False)
            raise ConcurrentCommitError(
                f"version {version} of {path} was committed concurrently"
            ) from None
        fs.delete(tmp, False)  # final shares the inode; also drops the .crc
    else:
        if not fs.rename(tmp, final):
            fs.delete(tmp, False)
            raise ConcurrentCommitError(
                f"version {version} of {path} was committed concurrently"
            )


def _bloom_refine_keyset(spark, path, m, cand, key, kframe, key_dtype):
    """Drop candidate files whose manifest bloom rejects EVERY key of
    a bounded key frame — shared by merge's candidate probe and the
    keyed delete (round 11). Conservative: only when the key column
    is bloom-covered with a matching recorded dtype and the key set
    is bounded; the keys ride as ONE collected array joined from a
    one-row frame so each sidecar row evaluates its own local blob
    against the array (never the per-(file, key) blob duplication of
    the documented broadcast-array trap)."""
    from pyspark.sql import functions as F

    if not (cand and m.get("bloom")):
        return cand
    entries = [
        be for be in m["bloom"] if be.get("cols", {}).get(key) == key_dtype
    ]
    if not entries or kframe.count() > 10_000:
        return cand
    from etfconstituentextractor_spark.operators.bloom import bloom_might_contain

    kcol_name = kframe.columns[0]
    karr = kframe.agg(F.collect_list(kcol_name).alias("__ks"))

    def evaluate(bdf, be):
        return (
            bdf.filter(F.col("dtype") == key_dtype)
            .join(F.broadcast(karr))
            .select(
                "f",
                F.exists(
                    "__ks",
                    lambda kv: bloom_might_contain(
                        F.col("bloom"), kv, m_bits=F.col("m"), k=F.col("k")
                    ),
                ).alias("hit"),
            )
        )

    covered, passing = _bloom_eval(spark, path, entries, key, evaluate, set(cand))
    return [f for f in cand if f not in covered or f in passing]


def snapshot_merge(
    source: DataFrame,
    path: str,
    key: str,
    stats_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Row-level MERGE (upsert-by-key, copy-on-write): target rows
    whose ``key`` appears in ``source`` are replaced, all ``source``
    rows are inserted, every other row survives — and, the point of
    the exercise, survives WITHOUT being rewritten. Returns the new
    version. Closes the module's previously-declared MERGE gap.

    File-level minimality, the Iceberg copy-on-write shape:
    1. candidate files = manifest-stat pruning — a file whose
       ``key`` [min, max] range cannot contain any source key is
       untouched by construction (files without key stats are
       conservatively candidates);
    2. touched files = candidates whose rows ACTUALLY hit a source
       key — one key-column-only scan of the candidates, grouped by
       input_file_name against the broadcast source keys (exact,
       so a stats range straddling a gap doesn't force a rewrite);
    3. the new version's file list = (parent files − touched)
       + fresh files holding (touched rows anti-joined on key) ∪
       source. Untouched files carry over BY RELPATH — immutable,
       never copied — and keep their stats entries.

    Semantics notes: replace-by-key means ALL target rows sharing a
    matched key are replaced by the source's row(s) for that key
    (duplicate source keys insert as-is — dedupe upstream if that is
    not intended); there is no delete clause (express deletes as an
    overwrite commit of the filtered table). Source columns align to the
    RECORDED table schema: later-added columns the source lacks
    null-fill, unknown columns raise, and the merge key / partition
    columns must always be present (never null-filled). Concurrency: same atomic manifest claim as
    snapshot_commit — a lost race raises ConcurrentCommitError and
    the caller re-derives against the new latest (the rewrite is
    against a fixed parent version, so retrying without re-deriving
    could resurrect rows a concurrent commit replaced).

    Scale: step 2 reads ONE column of only the stat-surviving files;
    step 3 rewrites only files that genuinely contain matched keys.
    A merge touching k of N files costs O(k) data I/O + O(1)
    metadata, independent of table size.
    """
    from pyspark.sql import functions as F

    spark = source.sparkSession
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions to merge into")
    parent = versions[-1]
    version = parent + 1
    m = _read_manifest(fs, jvm, path, parent)
    if txn is not None:
        # idempotent-writer replay check, INSIDE the commit path (the
        # snapshot_commit zombie-writer rule): an already-applied
        # (writer, seq) no-ops before any scan or write
        wid, seq = txn
        last = (m.get("txn") or {}).get(wid)
        if last is not None and int(seq) <= int(last):
            return parent
    pby = m.get("partition_by") or []
    ptypes = m.get("partition_types")
    tschema = _manifest_schema(m)
    if tschema is not None:
        # align the source to the RECORDED table schema (round 11):
        # columns the table gained after the source was derived
        # null-fill (all recorded columns are nullable, matching the
        # append evolution contract); columns the table does not know
        # raise — silently dropping caller data is how merges rot
        have = {f.name for f in source.schema.fields}
        known = {f.name for f in tschema.fields}
        extra = sorted(have - known)
        if extra:
            raise ValueError(
                f"merge source columns {extra} are not in the table "
                "schema — evolve the table with an append first"
            )
        # the KEY and partition columns may never be null-filled: a
        # source missing its key would silently upsert NULL-key junk
        # (round-11 second review — reproduced), and a missing
        # partition column would write __HIVE_DEFAULT_PARTITION__
        required = sorted(({key} | set(pby)) - have)
        if required:
            raise ValueError(
                f"merge source is missing required column(s) {required} "
                "(the merge key and partition columns must be present)"
            )
        # TYPE alignment (round 12, advice): name-only alignment let a
        # drifted-type source column (int where the table recorded
        # bigint) publish files that poison every subsequent
        # recorded-schema read ('Parquet column cannot be converted')
        # — a corrupt version discovered only after commit. Lossless
        # widenings cast silently (the source type is a strict subset
        # of the recorded domain); anything else raises PRE-write,
        # matching the append path's "type changes raise" contract.
        sfields = {f.name: f for f in source.schema.fields}
        stypes = {f.name: f.dataType for f in source.schema.fields}
        aligned = []
        retype = False
        widened: dict[str, object] = {}
        for f in tschema.fields:
            st = stypes.get(f.name)
            if st is None:
                aligned.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif st == f.dataType or (
                st.simpleString() == f.dataType.simpleString()
            ):
                # simpleString ignores nullability flags, so equality
                # here means the TYPE SHAPE is identical and only
                # nested nullability (containsNull / struct-field
                # nullable / valueContainsNull) differs — a legal
                # source (round-13 advice: strict DataType equality
                # false-rejected such merges, with an error printing
                # two identical simpleStrings). Pass through uncast:
                # parquet does not key on nested nullability and the
                # recorded schema governs every read, while a cast
                # would FAIL analysis when the source side is the
                # more-nullable one (Cast's resolvableNullability).
                # Round-14 advice: uncast pass-through is only
                # SCHEMA-faithful in the less-nullable direction — a
                # MORE-nullable source (containsNull=True into a
                # recorded containsNull=False) would commit data the
                # recorded schema then misdescribes for every read.
                # When the source is more nullable at any nesting
                # level, the recorded schema WIDENS in this commit to
                # the per-level nullability union (widening is always
                # read-safe: it only relaxes a promise, and time
                # travel keeps each older version's stricter schema).
                from pyspark.sql.types import StructType as _ST

                tf = _ST([f])
                sf = _ST([sfields[f.name]])
                if not _nullability_covers(tf, sf):
                    widened[f.name] = _nullability_union(tf, sf).fields[0]
                aligned.append(F.col(f.name))
            elif _is_lossless_widening(st, f.dataType):
                aligned.append(F.col(f.name).cast(f.dataType).alias(f.name))
                retype = True
            else:
                raise ValueError(
                    f"merge source column {f.name!r} has type "
                    f"{st.simpleString()} but the table recorded "
                    f"{f.dataType.simpleString()} — cast the source "
                    "explicitly (silent coercion is how tables rot)"
                )
        if have != known or retype:
            source = source.select(*aligned)

    # source keys: bounds for stat pruning + a broadcast frame for the
    # exact membership probe (keys only — never source payloads).
    # Checkpointed: the key set feeds three consumers (bounds, probe,
    # anti-join) and an expensive source plan would otherwise re-run
    # per consumer (round-9 review finding).
    skeys = source.select(F.col(key).alias("__k")).distinct().localCheckpoint()
    lo, hi = skeys.agg(F.min("__k"), F.max("__k")).first()
    if lo is None and skeys.first() is None:
        # EMPTY source: a merge can match nothing and insert nothing —
        # short-circuit as a no-op WITHOUT a new version, returning the
        # parent. The old path made every file a candidate ("no usable
        # bounds"), loaded all shards, scanned the whole key column,
        # and committed an empty rewrite (round-10 advice).
        return parent

    # shard-level pruning first: a shard whose key bounds sit wholly
    # outside [lo, hi] is untouched by construction — its ref is
    # shared into the new manifest WITHOUT loading it (O(touched
    # shards) metadata, the point of sharding)
    shared_parts: list = []
    docs: list = []
    if lo is None:
        # non-empty source whose keys are ALL NULL (min/max ignore
        # nulls): the equality probe/anti-join can never match a
        # target row, so this is a pure INSERT — share the parent's
        # entire inventory untouched and scan nothing (round-10
        # advice: this case previously candidate-scanned the table)
        if "shards" in m:
            shared_parts = [(ref, None, None) for ref in m["shards"]]
        else:
            docs = _shard_docs(fs, jvm, path, m)  # inline: zero extra I/O
    elif "shards" in m:
        docs = []
        for ref in m["shards"]:
            # no row with key >= lo (shard.hi < lo), or none with
            # key <= hi (shard.lo > hi): range-disjoint either way
            if _shard_skippable(ref, (key, ">=", lo)) or _shard_skippable(
                ref, (key, "<=", hi)
            ):
                shared_parts.append((ref, None, None))
            else:
                doc = _load_shard(fs, jvm, path, ref["path"])
                docs.append((ref, doc["files"], doc.get("stats", {})))
    else:
        docs = _shard_docs(fs, jvm, path, m)
    loaded_files = [f for _, fl, _ in docs for f in fl]
    stats = {}
    for _, _, st in docs:
        stats.update(st)

    def _cand(f: str) -> bool:
        if lo is None:
            # all-null source keys: equality never matches, no file
            # can be touched (the pure-insert branch above also left
            # sharded inventories unloaded for exactly this reason)
            return False
        if key in pby:
            # the key value is directory-encoded: range-check the
            # relpath's own value (stats never cover partition cols,
            # so without this a partition-keyed merge scanned every
            # file — round-9 review finding); the exact probe below
            # still refines survivors
            pv = _partition_value(f, key)
            if pv is None or pv == "__HIVE_DEFAULT_PARTITION__":
                return pv is None  # null partition never matches a key
            try:
                typed, tlo = _coerce_pair(pv, lo, (ptypes or {}).get(key))
                _, thi = _coerce_pair(pv, hi, (ptypes or {}).get(key))
                return tlo <= typed <= thi
            except (TypeError, ValueError):
                return True
        st = stats.get(f, {}).get(key)
        if not st or st[0] is None or st[1] is None:
            return True  # no usable stats: conservatively a candidate
        try:
            return not (st[1] < lo or st[0] > hi)
        except TypeError:
            return True

    cand = [f for f in loaded_files if _cand(f)]
    # bloom refinement before the exact data probe: a candidate file
    # whose bloom rejects EVERY source key cannot be touched — one
    # planning job over (sidecar rows x broadcast source keys), so a
    # point-upsert on a bloomed table scans ~the files that genuinely
    # hold its keys instead of every stats-survivor. Conservative:
    # only when the key column is covered, the recorded dtype matches
    # the source's, and the key set is bounded.
    if cand and lo is not None:
        cand = _bloom_refine_keyset(
            spark, path, m, cand, key, skeys, dict(source.dtypes).get(key)
        )
    touched: list[str] = []
    if cand:
        # DV-AWARE probe: a row the deletion vector masks must not
        # force its file into the rewrite set (and must not resurrect
        # through one); __dvf decodes to the manifest relpath exactly,
        # replacing the old input_file_name suffix matching
        hits = (
            _read_data(spark, path, m, cand, keep_meta=True)
            .select(F.col(key).alias("__k"), "__dvf")
            .join(F.broadcast(skeys), "__k")
            .select("__dvf")
            .distinct()
            .collect()
        )
        from urllib.parse import unquote

        hit_rels = {unquote(r["__dvf"]) for r in hits}
        touched = [f for f in cand if f in hit_rels]

    if touched:
        kept_rows = (
            _read_data(spark, path, m, touched)
            .join(F.broadcast(skeys), F.col(key) == F.col("__k"), "left_anti")
        )
        fresh_df = kept_rows.unionByName(source.select(*kept_rows.columns))
    else:
        fresh_df = source
    new_files, new_stats = _write_data(
        fresh_df, path, version, stats_cols, partition_by=pby
    )

    touched_set = set(touched)
    # new inventory: range-skipped shards share by ref; loaded shards
    # with no touched files re-share their ref too; only shards that
    # actually lost files rewrite (minus the drop), plus one fresh
    # part for the merged rows
    parts = list(shared_parts)
    for ref, fl, st in docs:
        if ref is not None and not (set(fl) & touched_set):
            parts.append((ref, None, None))
            continue
        kept = [f for f in fl if f not in touched_set]
        if kept:
            parts.append((None, kept, {f: st[f] for f in kept if f in st}))
    parts.append((None, new_files, new_stats))
    manifest = {
        "version": version,
        "op": "merge",
        "parent": parent,
        **_files_section(fs, jvm, path, version, parts),
        "partition_by": pby,
        "partition_types": ptypes or {},
    }
    if m.get("schema") is not None:
        if widened:
            # a more-nullable source merged in: this version's
            # recorded schema is the nullability union, so it
            # describes every committed row (round-14 advice — the
            # uncast pass-through used to leave the stricter parent
            # schema misdescribing null elements the merge just wrote)
            from pyspark.sql.types import StructType as _ST

            manifest["schema"] = _ST(
                [widened.get(fld.name, fld) for fld in tschema.fields]
            ).jsonValue()
        else:
            manifest["schema"] = m["schema"]
    # rewritten files MATERIALIZED their deletes (the rewrite read was
    # DV-aware); their coverage drops so the stale (file, pos) keys
    # can never mask rows of the fresh files. Untouched coverage
    # carries with the same DV dir.
    dvdir, dvmap = _dv_info(m)
    remaining = {f: n for f, n in dvmap.items() if f not in touched_set}
    if remaining:
        manifest["dv"] = {"dir": dvdir, "files": remaining}
    if m.get("bloom"):
        # bloom sidecars carry verbatim: rewritten files simply have
        # no row (readers keep them conservatively), removed files'
        # rows never match a planned file
        manifest["bloom"] = m["bloom"]
    _set_txn(manifest, m, txn)
    _publish(fs, jvm, path, version, manifest)
    return version


def snapshot_delete(
    spark: SparkSession,
    path: str,
    where: tuple | None = None,
    retries: int = 0,
    keys: tuple | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Row-level DELETE as a merge-on-read commit: rows matching
    ``where=(col, op, value)`` disappear from the new version WITHOUT
    rewriting any data file — their (file, row position) coordinates
    are appended to the version's positional deletion vector, a tiny
    parquet readers anti-join at plan time. Returns the new version.
    This is the Iceberg v2 / Delta deletion-vector shape: at 100 TB a
    copy-on-write delete of 0.1% of rows scattered across every file
    rewrites the whole table; the DV commit costs one pruned scan of
    candidate files plus a write proportional to the DELETED rows.

    Mechanics: manifest stats + partition relpaths prune candidate
    files (the snapshot_read pruner); a DV-AWARE read of the
    candidates (already-deleted rows must not re-match) evaluates the
    predicate and emits (file key, row position); the new version's
    DV = parent DV ∪ new positions, written to a fresh immutable dir
    under data/ and published in the manifest as
    ``dv: {dir, files: {relpath: n_deleted}}``. Data files, stats,
    and partition spec carry over untouched. Re-deleting the same
    rows is a no-op by the union-distinct; a delete matching nothing
    still commits a version (an audit-visible no-op, the table-format
    convention). Deletes MATERIALIZE at the next rewrite of a file
    (merge/compact apply the DV and drop that file's coverage);
    ``snapshot_vacuum`` keeps every surviving version's DV dir live.

    Time travel composes: older manifests carry the older (or no) DV,
    so ``snapshot_read(version=...)`` before the delete still sees
    the rows. Concurrency: the same atomic manifest claim as every
    commit; ``retries=N`` re-runs the WHOLE derivation against the new
    latest up to N times on a lost race — a re-derive, not a metadata
    rebase, because a predicate delete's target set is defined by the
    predicate, so re-evaluating it against the winner's state (new
    files included, rewritten positions re-derived) is the correct
    serializable outcome, and the delete's cost is already just a
    pruned scan plus a tiny DV write. The lost attempt's DV dir is
    reclaimed before retrying (it was written under a version that
    will never publish, which vacuum's in-flight guard skips)."""
    if (where is None) == (keys is None):
        raise ValueError("snapshot_delete takes exactly one of where= / keys=")
    for attempt in range(max(0, int(retries)) + 1):
        try:
            return _snapshot_delete_once(spark, path, where, keys, txn)
        except ConcurrentCommitError:
            if attempt >= retries:
                raise


def _snapshot_delete_once(
    spark: SparkSession, path: str, where, keys=None, txn=None
) -> int:
    from pyspark.sql import functions as F

    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions to delete from")
    parent = versions[-1]
    version = parent + 1
    m = _read_manifest(fs, jvm, path, parent)
    if txn is not None:
        # idempotent-writer replay check, INSIDE the commit path (the
        # snapshot_commit zombie-writer rule)
        wid, seq = txn
        last = (m.get("txn") or {}).get(wid)
        if last is not None and int(seq) <= int(last):
            return parent

    if keys is not None:
        # keyed delete (round 11 — the CDC-apply shape): rows whose
        # key column matches any row of a KEY FRAME disappear. The
        # key set is bounded by the caller's delta (a change feed's
        # deleted keys), so it localCheckpoints tiny and BROADCASTS;
        # candidate files prune by the key set's [min, max] bounds
        # through the same stats machinery as a predicate delete,
        # then the in-plan membership test is a broadcast semi-join
        # — never a collected literal list.
        kcol, kframe = keys
        # NULL keys match NOTHING (SQL equality semantics — the same
        # contract as a predicate delete's non-null value); dropping
        # them here also keeps an all-NULL key frame on the empty
        # path instead of sending None bounds into the pruner
        # (round-11 review: snapshot_diff emits a NULL-key phantom
        # row for null-keyed sources, which reached here via
        # snapshot_replicate and crashed)
        kf = (
            kframe.select(F.col(kcol).alias("__dk"))
            .filter(F.col("__dk").isNotNull())
            .distinct()
            .localCheckpoint()
        )
        klo, khi = kf.agg(F.min("__dk"), F.max("__dk")).first()
        if klo is None:
            # empty key set: audit-visible no-op commit, the same
            # convention as a predicate matching nothing — and no
            # inventory resolve: nothing below consults the files
            # when there are no candidates (a sharded table would
            # otherwise pay O(total files) driver metadata per
            # empty delta, round-11 review)
            cand, cand_files, cand_stats = [], [], {}
        else:
            bounds = [(kcol, ">=", klo), (kcol, "<=", khi)]
            cand_files, cand_stats = _resolve(fs, jvm, path, m, where=bounds)
            cand = cand_files
            for w in bounds:
                cand = _prune_files(m, cand, w, stats=cand_stats)
            # bloom refinement (round 11, shared with merge): on a
            # bloomed table a keyed delete scans ~the files that
            # genuinely hold its keys, not every stats-survivor
            cand = _bloom_refine_keyset(
                spark, path, m, cand, kcol, kf, dict(kf.dtypes)["__dk"]
            )
    else:
        # shard-level pruning feeds the candidate search: only shards the
        # probe's bounds cannot prove empty are even loaded
        cand_files, cand_stats = _resolve(fs, jvm, path, m, where=where)
        cand = _prune_files(m, cand_files, where, stats=cand_stats)
    dvdir, dvmap = _dv_info(m)
    new_dv = {"dir": dvdir, "files": dvmap} if dvdir else None
    dv_frame = None
    if cand:
        scan = _read_data(spark, path, m, cand, keep_meta=True)
        if keys is not None:
            scan = scan.join(
                F.broadcast(kf), F.col(kcol) == F.col("__dk"), "left_semi"
            )
        else:
            scan = scan.filter(_where_cond(where))
        new_pos = scan.select("__dvf", "__pos")
        if dvdir is not None:
            old_dv = spark.read.schema(_DV_SCHEMA).parquet(posixpath.join(path, dvdir)).select(
                "__dvf", "__pos"
            )
            # the old DV parquet may hold STALE keys — files whose
            # coverage a merge/compact dropped when it materialized
            # their deletes. Carrying them forward crashed the NEXT
            # delete's key validation (round-10 review, reproduced:
            # delete A, delete B, merge rewriting only A, delete
            # again -> RuntimeError). Keep only live-coverage keys:
            # the live ENCODED keys are recovered by decoding the
            # frame's own distinct keys (bounded by the file count)
            # against dvmap.
            from urllib.parse import unquote as _unq

            enc_keys = [r["__dvf"] for r in old_dv.select("__dvf").distinct().collect()]
            live_enc = [k for k in enc_keys if _unq(k) in dvmap]
            if len(live_enc) != len(enc_keys):
                keep = spark.createDataFrame([(k,) for k in live_enc], "__dvf string")
                old_dv = old_dv.join(F.broadcast(keep), "__dvf", "left_semi")
            dv_frame = old_dv.unionByName(new_pos).distinct()
        else:
            dv_frame = new_pos.distinct()
    # no candidates: carry the parent's DV entry verbatim, zero I/O

    if dv_frame is not None:
        reldir = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
        # the DV is tiny relative to the data it masks; don't let it
        # inherit the candidate scan's partitioning as many shards
        dv_frame.coalesce(8).write.parquet(posixpath.join(path, reldir))
        # per-file coverage map: bounded by the file count, driver-safe
        # — and the keys DECODE to manifest relpaths (file_path is a
        # percent-encoded URI; the manifest stores decoded paths)
        from urllib.parse import unquote

        try:
            counts = (
                spark.read.parquet(posixpath.join(path, reldir))
                .groupBy("__dvf")
                .count()
                .collect()
            )
            # valid targets: the loaded candidates (only source of NEW
            # positions) plus files already covered by the parent's DV
            # (their keys were validated at their own commit; their
            # shard may not be loaded here)
            manifest_files = set(cand_files) | set(dvmap)
            files_map: dict[str, int] = {}
            for r in counts:
                rel = unquote(r["__dvf"])
                if rel not in manifest_files:
                    raise RuntimeError(
                        f"deletion-vector key {rel!r} does not match any manifest "
                        "data file — the key derivation and manifest relpaths have "
                        "diverged; refusing to publish a DV that could not be applied"
                    )
                files_map[rel] = r["count"]
        except BaseException:
            # the DV dir was written for a version that will never
            # publish, and vacuum's in-flight guard skips dirs newer
            # than the newest manifest — on a table where deletes keep
            # failing, every retry would leak a dir forever (round-10
            # max review); reclaim it on the way out
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(posixpath.join(path, reldir)), True
            )
            raise
        if files_map:
            new_dv = {"dir": reldir, "files": files_map}
        else:
            fs.delete(jvm.org.apache.hadoop.fs.Path(posixpath.join(path, reldir)), True)

    # the file inventory is untouched by a DV delete: inline fields
    # copy over; shard refs share verbatim (zero metadata rewrite)
    if "shards" in m:
        sec = {"n_files": m["n_files"], "shards": m["shards"]}
    else:
        sec = {
            "n_files": len(m["files"]),
            "files": m["files"],
            "stats": m.get("stats", {}),
        }
    manifest = {
        "version": version,
        "op": "delete",
        "parent": parent,
        **sec,
        "partition_by": m.get("partition_by") or [],
        "partition_types": m.get("partition_types") or {},
    }
    if m.get("schema") is not None:
        manifest["schema"] = m["schema"]
    if new_dv:
        manifest["dv"] = new_dv
    if m.get("bloom"):
        # bloom sidecars carry verbatim: rewritten files simply have
        # no row (readers keep them conservatively), removed files'
        # rows never match a planned file
        manifest["bloom"] = m["bloom"]
    _set_txn(manifest, m, txn)
    try:
        _publish(fs, jvm, path, version, manifest)
    except ConcurrentCommitError:
        # a lost race orphans this attempt's fresh DV dir (the winner
        # took this version number, so a future vacuum WOULD reclaim
        # it — but a retry loop writes one dir per attempt, so reclaim
        # eagerly rather than letting contention pile up garbage)
        if new_dv and dv_frame is not None and new_dv["dir"] == reldir:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(posixpath.join(path, reldir)), True
            )
        raise
    return version


def snapshot_compact(
    spark: SparkSession,
    path: str,
    small_bytes: int = 32 << 20,
    target_rows_per_file: int | None = None,
    zorder_by: tuple[str, ...] | None = None,
) -> int | None:
    """Rewrite the latest version's SMALL files (< ``small_bytes``)
    into consolidated ones, committed as a new version (op='compact');
    files already at size carry over by relpath. Returns the new
    version, or None when fewer than two small files exist (nothing
    to consolidate). This is the reader-safe answer to the small-file
    problem: under the snapshot protocol, compaction is just another
    commit — concurrent readers keep planning from whatever manifest they
    resolved, and the swap is the same atomic claim every commit uses
    (a racing writer surfaces as ConcurrentCommitError, never a
    half-compacted table).

    Stat discipline continues automatically: the columns the parent's
    manifest carries stats for are re-gathered on the rewritten files
    (partition columns excluded as always). Partitioned tables
    repartition the small-file rows by the partition spec so the
    rewrite emits ~one file per partition value rather than
    n_tasks × n_values. ``target_rows_per_file`` caps rows per output
    file for unpartitioned tables (default: one output file).

    ``zorder_by=(col, ...)`` (any number >= 2 of columns) clusters the rewritten rows on the
    Morton curve (operators/zorder.py) — the lakehouse OPTIMIZE
    ZORDER: each output file then covers a tight rectangle in
    (a, b) space, so the manifest's per-file [min, max] stats become
    selective on BOTH columns and ``snapshot_read(where=...)`` skips
    files for either dimension. Unpartitioned tables only (a
    partitioned rewrite is clustered by the spec); requires
    ``target_rows_per_file`` to say how many Z-ranges to cut."""
    # argument checks that need NO filesystem state come first: an
    # empty table with a bad combo must still get the ValueError, not
    # a FileNotFoundError that hides it (round-10 fourth review)
    if zorder_by is not None and not target_rows_per_file:
        raise ValueError("zorder_by requires target_rows_per_file (Z-range count)")
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions to compact")
    parent = versions[-1]
    version = parent + 1
    m = _read_manifest(fs, jvm, path, parent)
    pby = m.get("partition_by") or []
    ptypes = m.get("partition_types")
    # the partition-spec check needs the manifest — still BEFORE the
    # small-file early return (round-10 second review), folded into
    # the body's own reads (max review)
    if zorder_by is not None and pby:
        raise ValueError(
            "zorder_by applies to unpartitioned tables only — a partitioned "
            "rewrite is clustered by the partition spec"
        )
    # small-file detection needs the full inventory (sizes have no
    # shard-level summary); sharded manifests resolve here, but the
    # REBUILD below still shares untouched shards by ref
    docs = _shard_docs(fs, jvm, path, m)
    all_files = [f for _, fl, _ in docs for f in fl]
    old_stats: dict = {}
    for _, _, st in docs:
        old_stats.update(st)
    # sizes: the manifest's recorded '__bytes' (round 12 — every file
    # written since records its size at commit, zero extra I/O) when
    # the inventory is fully covered; otherwise ONE recursive listing
    # sweep (never per-file getFileStatus — N sequential JVM round
    # trips on exactly the many-small-files tables compact targets,
    # round-9 review finding). Legacy pre-sizes manifests take the
    # listing path until their files are rewritten.
    sizes = _recorded_sizes(all_files, old_stats)
    if sizes is None:
        sizes = _swept_sizes(fs, jvm, path)
    small = [f for f in all_files if sizes.get(f, small_bytes) < small_bytes]
    if len(small) < 2:
        return None
    small_set = set(small)
    # merge_schema: a schema-evolved table's small files may predate
    # later-added columns — without it the rewrite silently drops
    # whichever columns the sampled footer lacked (round-9 review
    # finding); the rewritten files then carry the FULL schema, so the
    # stats re-gather below always resolves its columns. DV-aware: a
    # plain read of a small file with deletion-vector coverage would
    # RESURRECT its deleted rows into the consolidated file
    df = _read_data(spark, path, m, small, merge_schema=True)
    if pby:
        df = df.repartition(*pby)
    elif zorder_by is not None:
        import math

        from etfconstituentextractor_spark.operators.zorder import zorder_layout

        n_rows = df.count()
        n_out = max(1, math.ceil(n_rows / target_rows_per_file))
        df = (
            zorder_layout(df, *zorder_by)
            .repartitionByRange(n_out, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif target_rows_per_file:
        import math

        n_rows = df.count()
        df = df.repartition(max(1, math.ceil(n_rows / target_rows_per_file)))
    else:
        df = df.coalesce(1)
    # continue the parent's stat discipline on the rewritten files —
    # intersected with the columns the compacted frame actually has
    # (a stat column living only in carried large files would make
    # the re-gather unresolvable — round-9 review finding)
    stats_cols = sorted(
        {c for st in old_stats.values() for c in st if not c.startswith("__")}
        & set(df.columns)
    )
    new_files, new_stats = _write_data(
        df, path, version, stats_cols or None, partition_by=pby
    )
    parts = []
    for ref, fl, st in docs:
        if ref is not None and not (set(fl) & small_set):
            parts.append((ref, None, None))
            continue
        kept = [f for f in fl if f not in small_set]
        if kept:
            parts.append((None, kept, {f: st[f] for f in kept if f in st}))
    parts.append((None, new_files, new_stats))
    manifest = {
        "version": version,
        "op": "compact",
        "parent": parent,
        **_files_section(fs, jvm, path, version, parts),
        "partition_by": pby,
        "partition_types": ptypes or {},
    }
    if m.get("schema") is not None:
        manifest["schema"] = m["schema"]
    # rewritten small files materialized their deletes; carried big
    # files keep their DV coverage (same discipline as merge)
    dvdir, dvmap = _dv_info(m)
    remaining = {f: n for f, n in dvmap.items() if f not in small_set}
    if remaining:
        manifest["dv"] = {"dir": dvdir, "files": remaining}
    if m.get("bloom"):
        # bloom sidecars carry verbatim: rewritten files simply have
        # no row (readers keep them conservatively), removed files'
        # rows never match a planned file
        manifest["bloom"] = m["bloom"]
    _set_txn(manifest, m, None)
    _publish(fs, jvm, path, version, manifest)
    return version


def snapshot_maintain(
    spark: SparkSession,
    path: str,
    small_bytes: int = 32 << 20,
    min_small_files: int = 8,
    target_rows_per_file: int | None = None,
    zorder_by: tuple[str, ...] | None = None,
    keep_last: int | None = None,
    older_than: float | None = None,
) -> dict:
    """Policy-driven table maintenance — the lakehouse OPTIMIZE /
    auto-compaction scheduler shape (round 12), composing the two
    existing maintenance commits behind thresholds so a deployment
    can run ONE idempotent pass on a schedule (the snapshot_tail of
    table health):

    1. COMPACT when the latest version holds at least
       ``min_small_files`` files under ``small_bytes`` — below the
       threshold the pass is a no-op, so running it every few minutes
       against a healthy table costs one manifest read (O(1) metadata,
       no data I/O, no version churn: a maintenance loop that commits
       empty compactions would itself create the history pressure it
       exists to relieve).
    2. VACUUM (when ``keep_last``/``older_than`` given) AFTER the
       compaction, so the sweep sees the new version and the
       just-orphaned pre-compaction files age out under the normal
       retention rules.

    Returns ``{"compacted": version|None, "small_files": n,
    "vacuum": counts|None}``. Concurrency: both steps are ordinary
    commits/sweeps — a lost race surfaces as ConcurrentCommitError
    and the next scheduled pass re-evaluates from fresh state, which
    is exactly the retry a maintenance loop wants."""
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions to maintain")
    m = _read_manifest(fs, jvm, path, versions[-1])
    files, stats = _resolve(fs, jvm, path, m)
    # sizes from the manifest's recorded '__bytes' when every live
    # file has one (round 12 — a poll on a fully-sized table is PURE
    # manifest metadata, no data-tree I/O at all); otherwise one
    # recursive listing sweep, the snapshot_compact discipline (never
    # per-file getFileStatus). Orphans from failed commits are
    # excluded by the live-file intersection.
    sizes = _recorded_sizes(files, stats)
    if sizes is None:
        swept = _swept_sizes(fs, jvm, path)
        sizes = {f: swept[f] for f in files if f in swept}
    n_small = sum(1 for f in files if sizes.get(f, small_bytes) < small_bytes)
    compacted = None
    if n_small >= min_small_files:
        compacted = snapshot_compact(
            spark,
            path,
            small_bytes=small_bytes,
            target_rows_per_file=target_rows_per_file,
            zorder_by=zorder_by,
        )
    vac = None
    if keep_last is not None or older_than is not None:
        vac = snapshot_vacuum(
            spark, path, keep_last=keep_last, older_than=older_than
        )
    return {"compacted": compacted, "small_files": n_small, "vacuum": vac}


def snapshot_vacuum(
    spark: SparkSession,
    path: str,
    keep_last: int | None = None,
    older_than: float | None = None,
    dry_run: bool = False,
) -> dict:
    """The retention sweep the commit protocol defers to: optionally
    EXPIRE all but the last ``keep_last`` versions and/or every
    version stamped before ``older_than`` (epoch seconds; the latest
    version always survives) — delete their manifests, so time travel
    past the horizon ends, exactly Iceberg's expire-snapshots
    contract — then delete every data directory no surviving manifest
    references (failed-commit orphans and expired-only data). Returns
    counts. When both are given, ``keep_last`` is a retention FLOOR:
    ``older_than`` never expires a version inside the last-N window
    (Iceberg's retain-last guarantee).

    Safety order matters and is the whole design: manifests are
    deleted FIRST, so a crash mid-vacuum can only leave unreferenced
    data (a later vacuum finishes the job), never a manifest whose
    files are gone. Files shared by surviving versions (append
    lineage) survive because liveness is computed from the union of
    surviving manifests' file lists, not from version ancestry. A
    concurrent committer can never lose data to vacuum: its data dir
    is unreferenced only until its manifest publishes, and vacuum
    snapshots the manifest list BEFORE listing data dirs — a dir
    created after the snapshot is newer than every manifest read and
    is skipped (left for the next sweep) rather than raced.

    ``dry_run=True`` (round 13 — the Delta VACUUM DRY RUN shape)
    reports exactly what a real sweep would do — expired versions,
    dead dirs/shards, reclaimed bytes — and deletes NOTHING: an
    operator sizes a retention policy against a production table
    before pulling the trigger. Pinned: dry-run counts equal the
    immediately-following real vacuum's, and the table is untouched.
    """
    if keep_last is not None and keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions")
    expired = versions[:-keep_last] if keep_last is not None else []
    mcache: dict[int, dict] = {}

    def getm(v: int) -> dict:
        if v not in mcache:
            mcache[v] = _read_manifest(fs, jvm, path, v)
        return mcache[v]

    if older_than is not None:
        # timestamp retention (Iceberg's expire older_than): expire
        # versions stamped before the horizon — but NEVER the latest
        # (a table must stay readable whatever the horizon) and NEVER
        # a version with no stamp: vacuum is destructive, so a
        # missing committed_at means KEEP, not infinitely-old (a 0.0
        # default would expire every legacy version under any horizon
        # — round-10 fourth review). Manifests read once into a cache
        # the liveness loop below reuses. When keep_last is ALSO
        # given it is a retention FLOOR (Iceberg's retain-last):
        # older_than must not reach inside the last-N window, or
        # "keep at least N" silently stops holding on any table whose
        # recent commits are older than the horizon (round-10 advice).
        floor = set(versions[-keep_last:]) if keep_last is not None else set()
        by_ts = []
        for v in versions[:-1]:
            if v in floor:
                continue
            at = getm(v).get("committed_at")
            if at is not None and float(at) < older_than:
                by_ts.append(v)
        expired = sorted(set(expired) | set(by_ts))
    if not dry_run:
        for v in expired:
            fs.delete(
                jvm.org.apache.hadoop.fs.Path(
                    posixpath.join(path, "_manifests", f"v{v:08d}.json")
                ),
                False,
            )
    survivors = [v for v in versions if v not in expired]
    # liveness at VERSION-DIR granularity: a partitioned relpath is
    # data/vN-uuid/k=v/file, so dirname() would produce the k=v level
    # and never match the top-level sweep below — which deleted LIVE
    # partitioned versions (round-9 review finding). Key on the first
    # two segments (data/vN-uuid) instead.
    live_dirs = set()
    live_shards = set()
    for v in survivors:
        sm = getm(v)
        for ref in sm.get("shards", ()):
            live_shards.add(ref["path"])
        files, _ = _resolve(fs, jvm, path, sm)
        for f in files:
            live_dirs.add("/".join(f.split("/")[:2]))
        dvdir, _ = _dv_info(sm)
        if dvdir:
            # a deletion-vector dir is as load-bearing as data: losing
            # it resurrects every masked row of the surviving version
            live_dirs.add("/".join(dvdir.split("/")[:2]))
        for be in sm.get("bloom", ()):
            # bloom sidecars are pruning metadata, not row data — but
            # losing a live one crashes every equality probe that
            # consults it, so they stay for as long as any surviving
            # version references them
            live_dirs.add("/".join(be["dir"].split("/")[:2]))
    # shard GC: shard files referenced by NO surviving root are dead —
    # expired versions' shards and lost-race orphans alike. The same
    # in-flight protection as data dirs: a shard younger than the
    # newest manifest we planned from may belong to a commit racing
    # this sweep — leave it for the next one.
    newest_manifest = max(survivors)
    mdir = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "_manifests"))
    removed_shards = 0
    for st in fs.listStatus(mdir):
        name = st.getPath().getName()
        sm_m = _SHARD_RE.match(name)
        if sm_m and name not in live_shards and int(sm_m.group(1)) <= newest_manifest:
            if not dry_run:
                fs.delete(st.getPath(), False)
            removed_shards += 1
    ddir = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "data"))
    removed = 0
    reclaimed = 0
    if fs.exists(ddir):
        newest_manifest = max(survivors)
        for st in fs.listStatus(ddir):
            name = st.getPath().getName()
            if posixpath.join("data", name) in live_dirs:
                continue
            # skip dirs younger than the manifest snapshot we planned
            # from: they may belong to an in-flight commit
            mver = re.match(r"^v(\d{8})-", name)
            if mver and int(mver.group(1)) > newest_manifest:
                continue
            # reclaimed-bytes accounting (round 12): sum the doomed
            # dir's contents via the recursive iterator — the listing
            # walks exactly the files the delete is about to remove,
            # so the audit costs one extra pass over data already
            # being touched, never a sweep of live data
            try:
                fit = fs.listFiles(st.getPath(), True)
                while fit.hasNext():
                    reclaimed += fit.next().getLen()
            except Exception:
                pass  # accounting is best-effort; the delete is not
            if not dry_run:
                fs.delete(st.getPath(), True)
            removed += 1
    return {
        "expired_versions": len(expired),
        "removed_dirs": removed,
        "removed_shards": removed_shards,
        "reclaimed_bytes": reclaimed,
        "surviving_versions": survivors,
        "dry_run": dry_run,
    }


def snapshot_restore(spark: SparkSession, path: str, version: int) -> int:
    """Roll the table BACK to ``version``'s state as a NEW commit —
    the Iceberg rollback / Delta RESTORE shape. Returns the new
    version number (or the current latest unchanged if it already IS
    ``version``). Nothing is rewritten and history is preserved: the
    new manifest references the target version's file inventory
    (shard refs by name, inline files by relpath — all immutable),
    deletion vector, and bloom sidecars VERBATIM, so the bad commits
    being undone remain time-travelable until vacuum expires them,
    and the restore itself costs O(1) metadata regardless of table
    size. Raises FileNotFoundError if ``version`` was never committed
    or its manifest has been vacuumed away (a restore target must be
    inside the retention horizon — exactly Iceberg's rule).

    Idempotent-writer watermarks carry from the LATEST version, not
    the restored one: a watermark is "writer X has processed up to
    seq N", which stays true after a rollback of the data — carrying
    the old map would make exactly-once ingest re-append batches it
    already wrote (and whose data files may well survive inside the
    restored inventory). A caller that genuinely wants re-ingest
    after restore starts a new writer_id.
    """
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions")
    parent = versions[-1]
    if version == parent:
        return parent  # restoring to the latest is a no-op
    target = _read_manifest(fs, jvm, path, version)  # raises if expired
    latest = _read_manifest(fs, jvm, path, parent)
    if "shards" in target:
        sec = {"n_files": target["n_files"], "shards": target["shards"]}
    else:
        sec = {
            "n_files": len(target["files"]),
            "files": target["files"],
            "stats": target.get("stats", {}),
        }
    manifest = {
        "version": parent + 1,
        "op": "restore",
        "parent": parent,
        "restored_from": version,
        **sec,
        "partition_by": target.get("partition_by") or [],
        "partition_types": target.get("partition_types") or {},
    }
    if target.get("schema") is not None:
        manifest["schema"] = target["schema"]
    if "dv" in target:
        manifest["dv"] = target["dv"]
    if target.get("bloom"):
        manifest["bloom"] = target["bloom"]
    _set_txn(manifest, latest, None)
    _publish(fs, jvm, path, parent + 1, manifest)
    return parent + 1


def snapshot_view(
    spark: SparkSession,
    path: str,
    name: str,
    version: int | None = None,
    where=None,
) -> DataFrame:
    """Register a snapshot read as a TEMP VIEW so plain-SQL users
    reach the lakehouse layer — time travel, stat/partition/bloom
    file pruning, and deletion-vector masking all apply, because the
    pruned plan is built BEFORE registration and the view is just a
    name for it. ``spark.sql(f"SELECT ... FROM {name}")`` then
    composes it with any SQL. Returns the registered DataFrame.

    The view is a SNAPSHOT, like every snapshot_read: it pins the
    resolved version's file list, so later commits don't leak in —
    re-register (or register a new name) to advance. ``version=`` and
    ``where=`` have snapshot_read semantics (``where`` prunes files
    by manifest stats and is re-applied as a filter, so it is also
    the view's visible predicate)."""
    df = snapshot_read(spark, path, version=version, where=where)
    df.createOrReplaceTempView(name)
    return df


def snapshot_insert_into(
    spark: SparkSession,
    path: str,
    sql_or_view: str,
    txn: tuple[str, int] | None = None,
) -> int:
    """Plain-SQL WRITE surface for snapshot tables (round 12):
    evaluate ``sql_or_view`` — a SQL SELECT statement, or the name of
    a (temp) view — and APPEND its rows to the table at ``path`` as a
    versioned commit. Returns the new version. This completes the SQL
    surface snapshot_view/snapshot_changes_view opened for reads: a
    SQL-only user can now round-trip
    ``snapshot_view(...); spark.sql("INSERT-shaped SELECT ...")``
    through ``snapshot_insert_into`` without touching the DataFrame
    API.

    Semantics are exactly snapshot_commit(mode='append'): the
    table's recorded PARTITION SPEC is looked up from the latest
    manifest and applied automatically (a plain-SQL caller should not
    need to know it); schema validation is the additive-evolution
    contract (new columns append to the recorded schema, same-name
    type changes raise BEFORE any data is written, columns the SELECT
    omits null-fill on read); ``txn`` carries an idempotent-writer
    watermark for exactly-once SQL ingest. Commit mechanics (atomic
    manifest claim, O(new files) metadata, stats/bloom carry) are the
    append path's."""
    import re as _re

    if _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", sql_or_view.strip()):
        df = spark.table(sql_or_view.strip())
    else:
        df = spark.sql(sql_or_view)
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    pby = None
    if versions:
        m = _read_manifest(fs, jvm, path, versions[-1])
        pby = m.get("partition_by") or None
    return snapshot_commit(df, path, mode="append", partition_by=pby, txn=txn)


def snapshot_history(spark: SparkSession, path: str) -> DataFrame:
    """The table's commit history as a DataFrame — the DESCRIBE
    HISTORY shape: one row per retained version with (version, op,
    parent, committed_at, n_files, total_bytes, restored_from, txn as
    a JSON string). Metadata-only (root-manifest reads, no data I/O —
    ``total_bytes`` sums the recorded '__bytes' sizes, or shard refs'
    summed ``bytes``, and is NULL for versions whose files predate
    size recording rather than paying a listing to fill it); register
    it with ``createOrReplaceTempView`` for SQL audits."""
    import json as _json

    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions")
    rows = []
    for v in versions:
        m = _read_manifest(fs, jvm, path, v)
        if "shards" in m:
            tbs = [ref.get("bytes") for ref in m["shards"]]
            total = sum(tbs) if tbs and all(t is not None for t in tbs) else (
                0 if not tbs else None
            )
        else:
            total = _total_bytes(m.get("files", []), m.get("stats", {}))
        rows.append(
            (
                v,
                m.get("op"),
                m.get("parent"),
                float(m["committed_at"]) if m.get("committed_at") is not None else None,
                int(m.get("n_files", 0)),
                total,
                m.get("restored_from"),
                _json.dumps(m["txn"]) if m.get("txn") else None,
            )
        )
    return spark.createDataFrame(
        rows,
        "version int, op string, parent int, committed_at double, "
        "n_files int, total_bytes bigint, restored_from int, txn string",
    )


def snapshot_changes_view(
    spark: SparkSession,
    path: str,
    name: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    compare_cols: list[str] | None = None,
    include_values: bool = False,
) -> DataFrame:
    """Register a change feed as a TEMP VIEW — the SQL surface for
    CDC consumers (Delta's ``table_changes`` shape): ``SELECT * FROM
    {name} WHERE change = 'deleted'`` etc. Same O(changed files)
    plan as ``snapshot_changes``; the view pins the version range.
    Returns the registered DataFrame."""
    df = snapshot_changes(
        spark, path, v_from, v_to, keys=keys,
        compare_cols=compare_cols, include_values=include_values,
    )
    df.createOrReplaceTempView(name)
    return df


def _read_files(
    spark: SparkSession,
    path: str,
    files: list[str],
    pby: list[str],
    ptypes: dict | None = None,
    merge_schema: bool = False,
    with_meta: bool = False,
    schema=None,
) -> DataFrame:
    """Plan exactly ``files``. Unpartitioned tables are one reader
    call. Partitioned tables need one reader PER VERSION DATA DIR —
    partition discovery walks up from each leaf collecting k=v
    segments and stops at the first non-k=v segment, so a single
    basePath cannot span two ``data/vN-uuid`` dirs (measured:
    CONFLICTING_DIRECTORY_STRUCTURES) — unioned by name. Partition
    VALUE type inference is disabled for the read and the manifest's
    recorded ``partition_types`` are cast back instead: inference is
    per-read (a dir holding only '1','2' infers int while a sibling
    holding 'en' infers string), which would make the union's schema
    depend on which files survived pruning.

    ``with_meta`` appends ``__dvf`` (the file's manifest-relpath key
    derived from _metadata.file_path) and ``__pos``
    (_metadata.row_index) — the deletion-vector coordinates. The
    projection happens per READER frame, before any union: _metadata
    is a scan-relation pseudo-column and does not survive unions."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    def meta_cols(df: DataFrame) -> DataFrame:
        if not with_meta:
            return df
        return df.select(
            "*",
            F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1).alias("__dvf"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    elif schema is not None:
        # manifest-recorded schema (round 11): plan with it directly —
        # no footer-sampling job, files predating later-added columns
        # null-fill them (schema-on-read). merge_schema callers opt
        # out: their point is discovering what the footers hold.
        reader = reader.schema(schema)
    if not pby:
        return meta_cols(reader.parquet(*[posixpath.join(path, f) for f in files]))
    by_dir: dict[str, list[str]] = defaultdict(list)
    for f in files:
        by_dir["/".join(f.split("/")[:2])].append(f)
    conf_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    old = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "false")
    try:
        parts = [
            meta_cols(
                reader.option("basePath", posixpath.join(path, d)).parquet(
                    *[posixpath.join(path, f) for f in fl]
                )
            )
            for d, fl in sorted(by_dir.items())
        ]
    finally:
        spark.conf.set(conf_key, old)
    df = parts[0]
    for q in parts[1:]:
        df = df.unionByName(q, allowMissingColumns=merge_schema)
    for c, t in (ptypes or {}).items():
        if c in df.columns:
            df = df.withColumn(c, F.col(c).cast(t))
    return df


def _dv_info(m: dict) -> tuple[str | None, dict]:
    """(dv dir relpath, {data relpath: n deleted positions}) for a
    manifest — (None, {}) when the version carries no deletes."""
    dv = m.get("dv")
    return (dv["dir"], dv["files"]) if dv else (None, {})


#: deletion-vector sidecar schema — fixed by this module's writer
#: (``__dvf`` = manifest-relpath file key, ``__pos`` = row position);
#: readers pass it explicitly so DV planning never samples footers.
_DV_SCHEMA = "__dvf string, __pos bigint"


def _manifest_schema(m: dict):
    """The table schema RECORDED in the manifest (round 11 — the
    Delta/Iceberg schema-in-metadata shape), or None for manifests
    from before schema tracking. When present, reads plan with it
    directly: no footer sampling job per read, old files read through
    the current schema null-fill later-added columns (schema-on-read
    additive evolution), and time travel sees each version's OWN
    recorded schema."""
    sj = m.get("schema")
    if sj is None:
        return None
    from pyspark.sql.types import StructType

    return StructType.fromJson(sj)


#: source type -> recorded types it may silently widen into during
#: merge alignment (round 12). Strict value-preserving embeddings
#: only: integral up-chain, float->double, date->timestamp_ntz.
#: date->timestamp (with zone) was DROPPED round 13 (advice): a date
#: casts to midnight IN THE SESSION TIMEZONE, so the written instant
#: varies with spark.sql.session.timeZone — not a pure embedding.
#: timestamp_ntz is zone-free (midnight, literally), so it qualifies.
#: Narrowing and cross-family casts raise — Spark would "succeed" at
#: plan time and truncate/NULL at runtime, which is exactly the
#: poisoned-version hazard the alignment exists to prevent.
_WIDENINGS = {
    "tinyint": {"smallint", "int", "bigint"},
    "smallint": {"int", "bigint"},
    "int": {"bigint"},
    "float": {"double"},
    "date": {"timestamp_ntz"},
}


def _is_lossless_widening(src, dst) -> bool:
    return dst.simpleString() in _WIDENINGS.get(src.simpleString(), ())


def _nullability_covers(outer, inner) -> bool:
    """True iff ``outer`` is at least as nullable as ``inner`` at
    EVERY nesting level (struct-field nullable, array containsNull,
    map valueContainsNull). Both types must be shape-identical
    (callers guarantee it via simpleString equality). Merge alignment
    (round-14 advice): uncast pass-through is only legal when the
    RECORDED type covers the source — a more-nullable source slipping
    through uncast leaves the recorded schema claiming non-null for
    data that now contains nulls."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(outer, ArrayType):
        return (outer.containsNull or not inner.containsNull) and _nullability_covers(
            outer.elementType, inner.elementType
        )
    if isinstance(outer, MapType):
        return (
            (outer.valueContainsNull or not inner.valueContainsNull)
            and _nullability_covers(outer.keyType, inner.keyType)
            and _nullability_covers(outer.valueType, inner.valueType)
        )
    if isinstance(outer, StructType):
        return all(
            (fo.nullable or not fi.nullable)
            and _nullability_covers(fo.dataType, fi.dataType)
            for fo, fi in zip(outer.fields, inner.fields)
        )
    return True


def _nullability_union(a, b):
    """The shape of ``a``/``b`` (shape-identical types) with the
    PER-LEVEL nullability union — the least relaxation of the
    recorded type that truthfully describes both the table's existing
    files and a more-nullable merge source. Names/metadata come from
    ``a`` (callers pass the recorded type first)."""
    from pyspark.sql.types import ArrayType, MapType, StructField, StructType

    if isinstance(a, ArrayType):
        return ArrayType(
            _nullability_union(a.elementType, b.elementType),
            a.containsNull or b.containsNull,
        )
    if isinstance(a, MapType):
        return MapType(
            _nullability_union(a.keyType, b.keyType),
            _nullability_union(a.valueType, b.valueType),
            a.valueContainsNull or b.valueContainsNull,
        )
    if isinstance(a, StructType):
        return StructType(
            [
                StructField(
                    fa.name,
                    _nullability_union(fa.dataType, fb.dataType),
                    fa.nullable or fb.nullable,
                    fa.metadata,
                )
                for fa, fb in zip(a.fields, b.fields)
            ]
        )
    return a


def _merge_schema_json(parent_sj: dict, new_sj: dict) -> dict:
    """ADDITIVE schema evolution for appends: parent columns keep
    their order and types, new columns append at the end. A same-name
    type change raises — silent coercion is how lakehouse tables rot
    (widening support would go here, explicitly, if ever needed)."""
    by_name = {f["name"]: f for f in parent_sj["fields"]}
    fields = list(parent_sj["fields"])
    for f in new_sj["fields"]:
        old = by_name.get(f["name"])
        if old is None:
            fields.append(f)
        elif old["type"] != f["type"]:
            raise ValueError(
                f"schema evolution cannot change column {f['name']!r} from "
                f"{old['type']} to {f['type']} — append with the table's type"
            )
    return {"type": "struct", "fields": fields}


def _read_data(
    spark: SparkSession,
    path: str,
    m: dict,
    files: list[str],
    merge_schema: bool = False,
    keep_meta: bool = False,
) -> DataFrame:
    """DV-aware read of ``files`` under manifest ``m`` — THE read
    path every consumer of current data must use (snapshot_read,
    merge's probe + rewrite, compact's rewrite): a rewrite that read
    files plain would resurrect deleted rows the moment it changed
    their positions. Files with DV coverage anti-join the version's
    deletion vector on (file key, row position); uncovered files read
    plain and pay nothing. ``keep_meta`` keeps the ``__dvf``/``__pos``
    coordinate columns on the result (both branches)."""
    from pyspark.sql import functions as F

    pby = m.get("partition_by") or []
    ptypes = m.get("partition_types")
    schema = _manifest_schema(m)
    dvdir, dvmap = _dv_info(m)
    covered = [f for f in files if f in dvmap]
    if not covered:
        return _read_files(
            spark, path, files, pby, ptypes, merge_schema,
            with_meta=keep_meta, schema=schema,
        )
    uncovered = [f for f in files if f not in dvmap]
    dv = spark.read.schema(_DV_SCHEMA).parquet(posixpath.join(path, dvdir))
    cdf = _read_files(
        spark, path, covered, pby, ptypes, merge_schema,
        with_meta=True, schema=schema,
    ).join(dv, ["__dvf", "__pos"], "left_anti")
    if not keep_meta:
        cdf = cdf.drop("__dvf", "__pos")
    if not uncovered:
        return cdf
    udf = _read_files(
        spark, path, uncovered, pby, ptypes, merge_schema,
        with_meta=keep_meta, schema=schema,
    )
    return cdf.unionByName(udf, allowMissingColumns=merge_schema)


#: python coercers per Spark simpleString partition type — comparison
#: happens in the COLUMN's recorded domain, never the probe's: a
#: string probe on a bigint partition column must compare numerically
#: (like the in-plan filter's implicit cast), not lexically (round-9
#: review finding: lexical '100' < '85' pruned files whose rows the
#: filter would have returned).
def _parse_bool(v) -> bool:
    if isinstance(v, bool):
        return v
    low = str(v).lower()
    if low in ("true", "false"):
        return low == "true"
    raise ValueError(v)


_PTYPE_COERCE = {
    "tinyint": int,
    "smallint": int,
    "int": int,
    "bigint": int,
    "float": float,
    "double": float,
    "boolean": _parse_bool,
    "string": str,
}


def _coerce_pair(pv: str, val, ptype: str | None):
    """(partition value, probe value) coerced into the partition
    column's recorded type domain; raises on unknown types or
    uncoercible values (callers keep the file)."""
    co = _PTYPE_COERCE.get(ptype or "")
    if co is None:
        raise ValueError(f"no coercion for partition type {ptype!r}")
    return co(pv), co(val)


def _unescape_hive(s: str) -> str:
    """Decode hive path-segment escaping (mirror of Spark's
    ``ExternalCatalogUtils.unescapePathName``): the partition writer
    percent-encodes chars that are unsafe in paths (':' -> '%3A',
    '%' -> '%25', '=' -> '%3D', ...), so the segment stores the
    ENCODING, not the value. Pruning must compare the value — a
    ':'-bearing string partition (e.g. a timestamp-shaped string)
    otherwise compares unequal to every probe and its file is
    silently skipped, which the post-read filter cannot rescue.
    Invalid %XX sequences pass through literally, exactly as Spark's
    decoder does."""
    if "%" not in s:
        return s
    out = []
    i, n = 0, len(s)
    while i < n:
        if s[i] == "%" and i + 2 < n:
            try:
                out.append(chr(int(s[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(s[i])
        i += 1
    return "".join(out)


def _partition_value(relpath: str, col: str) -> str | None:
    """The (unescaped) value of ``col`` in a manifest relpath
    (``data/v..-x/lang=en/part-...`` -> 'en'), or None if absent.
    ``__HIVE_DEFAULT_PARTITION__`` (the null sentinel) carries no
    escapes and passes through for the callers' explicit check."""
    for seg in relpath.split("/")[:-1]:
        if seg.startswith(col + "="):
            return _unescape_hive(seg[len(col) + 1 :])
    return None


#: file-skip rules per predicate op: skip when the file's [lo, hi]
#: range PROVES no row can satisfy `col <op> value`. None bounds
#: (all-null file, or a stat type that didn't serialize) never skip.
_PRUNE_SKIP = {
    "=": lambda lo, hi, v: v < lo or v > hi,
    ">=": lambda lo, hi, v: hi < v,
    ">": lambda lo, hi, v: hi <= v,
    "<=": lambda lo, hi, v: lo > v,
    "<": lambda lo, hi, v: lo >= v,
}


def snapshot_read(
    spark: SparkSession,
    path: str,
    version: int | None = None,
    merge_schema: bool = False,
    where: tuple | None = None,
) -> DataFrame:
    """The table at ``version`` (default: latest) — exactly that
    manifest's files, immune to concurrent commits and uncommitted
    writer garbage in the directory.

    ``where=(col, op, value)`` (op in =, >=, >, <=, <) — or a LIST of
    such tuples, conjoined — prunes the PLANNED FILE LIST by the
    manifest's column stats before Spark sees a path (the
    metadata-skip a real table format does; a multi-column AND prunes
    by every predicate, which is where Z-ordered layouts pay off) and
    ALSO applies the same predicates as filters on the returned
    frame, so files without stats (older commits, uncovered columns)
    stay correct and pruning can never change results, only skip I/O.
    Inspect ``df.inputFiles()`` to see the effect."""
    fs, _, jvm = _fs_path(spark, path)
    if version is None:
        versions = _list_versions(fs, jvm, path)
        if not versions:
            raise FileNotFoundError(f"{path} has no committed versions")
        version = versions[-1]
    m = _read_manifest(fs, jvm, path, version)
    pby = m.get("partition_by") or []
    ptypes = m.get("partition_types")
    if m["n_files"] == 0:
        # a zero-output-partition commit can list no files; surface it
        # rather than letting spark.read.parquet() fail obscurely (or
        # the pruning fallback index past an empty list)
        raise FileNotFoundError(f"version {version} of {path} has no data files")
    wlist = _normalize_where(where)
    # sharded manifests: a pruned read loads only the shards the
    # probes' bounds cannot prove empty — metadata skipping BEFORE
    # file-level skipping, the manifest-list half of the design
    files, stats = _resolve(fs, jvm, path, m, where=wlist)
    for w in wlist:
        files = _prune_files(m, files, w, stats=stats)
        if files and m.get("bloom"):
            files = _bloom_prune(spark, path, m, files, w)
    if not files:
        # everything pruned: an empty frame with the table's schema.
        # merge_schema needs EVERY file's footer (round-9 finding:
        # one file silently dropped later-added columns), but the
        # default read samples one footer anyway — so the plain path
        # plans one file, keeping a provably-empty probe on a sharded
        # table at O(1) instead of re-resolving every shard the
        # pruning pass just skipped (round-10 max review)
        if merge_schema:
            all_files, _ = _resolve(fs, jvm, path, m)
        elif "shards" in m:
            all_files = _load_shard(fs, jvm, path, m["shards"][0]["path"])["files"][:1]
        else:
            all_files = m["files"][:1]
        df = _read_files(
            spark, path, all_files, pby, ptypes, merge_schema,
            schema=_manifest_schema(m),
        ).limit(0)
    else:
        df = _read_data(spark, path, m, files, merge_schema)
    for w in wlist:
        df = df.filter(_where_cond(w))
    return df


def _normalize_where(where) -> list[tuple]:
    """``where`` as a list of (col, op, value) tuples: a single
    3-tuple whose first element is a string means one predicate; a
    list/tuple of tuples means a conjunction; None means none."""
    if where is None:
        return []
    if (
        isinstance(where, (list, tuple))
        and len(where) == 3
        and isinstance(where[0], str)
    ):
        return [tuple(where)]
    return [tuple(w) for w in where]


def _prune_files(
    m: dict, files: list[str], where: tuple, stats: dict | None = None
) -> list[str]:
    """The subset of ``files`` whose manifest metadata (partition
    relpath values, column stats) cannot PROVE empty under
    ``where=(col, op, value)`` — shared by snapshot_read and
    snapshot_delete. Conservative in every uncertain case; callers
    must still apply the predicate in-plan. ``stats`` overrides the
    manifest's inline stats (sharded manifests resolve them
    separately)."""
    col, op, val = where
    if val is None:
        raise ValueError("where value must not be None (use a filter for null semantics)")
    if op not in _PRUNE_SKIP:
        raise ValueError(f"op must be one of {sorted(_PRUNE_SKIP)}, got {op!r}")
    skip = _PRUNE_SKIP[op]
    if stats is None:
        stats = m.get("stats", {})
    pby = m.get("partition_by") or []
    ptypes = m.get("partition_types")

    def keep(f: str) -> bool:
        if col in pby:
            # partition pruning: the value is directory-encoded in
            # the relpath the manifest already stores — parse and
            # compare BOTH sides in the column's recorded type
            # domain (the in-plan filter casts the probe to the
            # column type; pruning must mirror that, or a string
            # probe on a numeric partition compares lexically)
            pv = _partition_value(f, col)
            if pv is None:
                return True  # segment missing: conservatively keep
            if pv == "__HIVE_DEFAULT_PARTITION__":
                # null partition: no comparison predicate matches
                return False
            try:
                typed, tval = _coerce_pair(pv, val, (ptypes or {}).get(col))
                return not skip(typed, typed, tval)
            except (TypeError, ValueError):
                return True
        st = stats.get(f, {}).get(col)
        if not st or st[0] is None or st[1] is None:
            return True  # no usable stats: conservatively keep
        try:
            return not skip(st[0], st[1], val)
        except TypeError:  # stat/value domain mismatch: keep
            return True

    return [f for f in files if keep(f)]


def _where_cond(where: tuple):
    """The in-plan Column for a ``(col, op, value)`` probe — the same
    semantics the pruner mirrors."""
    from pyspark.sql import functions as F

    col, op, val = where
    c = F.col(col)
    return {"=": c == val, ">=": c >= val, ">": c > val, "<=": c <= val, "<": c < val}[op]


def snapshot_last_txn(spark: SparkSession, path: str, writer_id: str) -> int | None:
    """The highest ``seq`` committed under ``writer_id`` (None if the
    writer never committed) — one root-manifest read, since every
    commit carries the watermark map forward."""
    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        return None
    m = _read_manifest(fs, jvm, path, versions[-1])
    v = (m.get("txn") or {}).get(writer_id)
    return int(v) if v is not None else None


def snapshot_stream_ingest(
    path: str,
    writer_id: str,
    stats_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
    max_retries: int = 5,
):
    """EXACTLY-ONCE streaming ingest into a snapshot table: a
    ``writeStream.foreachBatch`` handler that appends each micro-batch
    as a versioned commit stamped ``txn=(writer_id, batch_id)`` and
    SKIPS any batch at-or-below the table's recorded watermark for
    this writer (Delta's idempotent-writer protocol on top of the
    manifest claim).

    foreachBatch alone is at-least-once: after a crash between sink
    write and checkpoint commit, restart REDELIVERS the last batch —
    and if the checkpoint itself is lost, redelivery starts from
    batch 0. Both replays no-op here because the dedup token lives in
    the TABLE's own atomically-committed metadata, not in the
    checkpoint: a batch is appended exactly once per (writer_id,
    batch_id) no matter how often it is delivered. Different
    writer_ids compose (two streams into one table keep separate
    watermarks); a concurrent committer racing a batch surfaces as
    ConcurrentCommitError and the batch RE-CHECKS then retries — the
    recheck is what makes the retry safe, since the loser's winner
    may have been this writer's own earlier attempt completing.

    Scale: the check is one root-manifest read; the append is
    O(new files) metadata under manifest sharding. The one contract
    the caller owns: batch_id -> data must be deterministic across
    redeliveries (Spark's replayable-source guarantee), which is the
    same contract Delta's txn action assumes."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        for attempt in range(max_retries):
            last = snapshot_last_txn(spark, path, writer_id)
            if last is not None and batch_id <= last:
                return  # redelivered batch: already committed
            try:
                snapshot_commit(
                    batch_df,
                    path,
                    mode="append",
                    stats_cols=stats_cols,
                    partition_by=partition_by,
                    txn=(writer_id, int(batch_id)),
                )
                return
            except ConcurrentCommitError:
                if attempt == max_retries - 1:
                    raise
                continue  # re-check the watermark against the new latest

    return handle


def snapshot_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
    compare_cols: list[str] | None = None,
    include_values: bool = False,
) -> DataFrame:
    """Row-level CHANGE DATA FEED between two versions at
    O(changed files) scan cost — the manifests already know which
    files differ, so unchanged files are never read (a full-read diff
    scans BOTH versions; at 100 TB with a 0.1% daily delta that is
    the difference between reading gigabytes and reading the lake
    twice). Returns operators/snapshot_diff.py's change frame: one
    row per key with change in {'inserted', 'deleted', 'updated'};
    keys must be unique per version (the keyed-dataset contract).

    Construction — a row's visibility can change in exactly two ways
    under this module's immutable-file protocol:
    - its FILE entered or left the inventory (append/merge/compact/
      overwrite): removed files' rows (under v_from's DV) form the
      old side, added files' rows (under v_to's DV — a file added and
      then delete-masked within the range is born partially masked)
      form the new side;
    - its file stayed but its deletion-vector coverage GREW (DV
      deletes; coverage never shrinks for a surviving file — rewrites
      remove the file instead): rows at v_to's newly-masked positions
      of common files join the old side, scanning only the common
      files that gained masks.
    A rewrite that merely moves rows between files (compaction,
    merge's untouched-key carry) puts identical rows on both sides,
    and the keyed diff cancels them — the feed reports logical
    change, not file churn.

    ``snapshot_diff(snapshot_read(v_from), snapshot_read(v_to))``
    over full reads is the semantic oracle; the equivalence is pinned
    in tests against randomized lifecycle histories."""
    from pyspark.sql import functions as F

    from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff

    if v_to <= v_from:
        raise ValueError(f"v_to ({v_to}) must be > v_from ({v_from})")
    fs, _, jvm = _fs_path(spark, path)
    m0 = _read_manifest(fs, jvm, path, v_from)
    m1 = _read_manifest(fs, jvm, path, v_to)
    files0, _ = _resolve(fs, jvm, path, m0)
    files1, _ = _resolve(fs, jvm, path, m1)
    set0, set1 = set(files0), set(files1)
    removed = sorted(set0 - set1)
    added = sorted(set1 - set0)
    common = set0 & set1

    def _empty_like(m, files):
        # zero-row frame with the version's schema (footer reads only)
        return _read_files(
            spark, path, files, m.get("partition_by") or [], m.get("partition_types")
        ).limit(0)

    old_side = _read_data(spark, path, m0, removed) if removed else None
    new_side = _read_data(spark, path, m1, added) if added else None

    # common files whose DV coverage grew: their newly-masked rows
    # were visible at v_from and are not at v_to — deleted
    dv0dir, dv0map = _dv_info(m0)
    dv1dir, dv1map = _dv_info(m1)
    grown = [
        f for f in sorted(common) if dv1map.get(f, 0) > dv0map.get(f, 0)
    ]
    if grown:
        new_mask = spark.read.schema(_DV_SCHEMA).parquet(
            posixpath.join(path, dv1dir)
        )
        if dv0dir is not None:
            old_mask = spark.read.schema(_DV_SCHEMA).parquet(
                posixpath.join(path, dv0dir)
            )
            new_mask = new_mask.join(old_mask, ["__dvf", "__pos"], "left_anti")
        newly_masked = (
            _read_files(
                spark,
                path,
                grown,
                m1.get("partition_by") or [],
                m1.get("partition_types"),
                with_meta=True,
                schema=_manifest_schema(m1),
            )
            .join(new_mask, ["__dvf", "__pos"])
            .drop("__dvf", "__pos")
        )
        old_side = (
            newly_masked if old_side is None else old_side.unionByName(newly_masked)
        )

    # an absent side borrows the present side's schema instead of
    # footer-planning every file of its version: when nothing was
    # added, the to-version's files are a subset of the from-version's
    # (and vice versa), so the present side's schema covers the shared
    # compare columns exactly — the all-footer _empty_like plan is
    # needed only when BOTH sides are empty (a no-change range)
    if old_side is None and new_side is not None:
        old_side = spark.createDataFrame([], new_side.schema)
    elif new_side is None and old_side is not None:
        new_side = spark.createDataFrame([], old_side.schema)
    elif old_side is None and new_side is None:
        if not files1:
            raise FileNotFoundError(
                f"versions {v_from}/{v_to} of {path} have no data files to diff"
            )
        new_side = _empty_like(m1, files1)
        old_side = spark.createDataFrame([], new_side.schema)
    diff = snapshot_diff(old_side, new_side, keys=keys, compare_cols=compare_cols)
    if not include_values:
        return diff
    # CDC-apply consumers (snapshot_replicate) need the NEW row values
    # for inserted/updated keys, and the new side already holds
    # exactly the added files' rows — an O(changed files) join, never
    # a rescan of the table (deleted keys get NULL values). The feed's
    # metadata column names are RESERVED in this mode (the Delta-CDF
    # convention of reserved _change columns, stated loudly instead of
    # emitting ambiguous duplicates — round-11 third review)
    clash = sorted(
        {"change", "old_hash", "new_hash"} & set(new_side.columns)
    )
    if clash:
        raise ValueError(
            f"include_values reserves column names {clash} for feed "
            "metadata — rename those table columns or consume the "
            "feed without values"
        )
    return diff.join(new_side, keys, "left")


def snapshot_replicate(
    spark: SparkSession,
    src: str,
    dst: str,
    key: str,
    writer_id: str | None = None,
    compare_cols: list[str] | None = None,
    key_range: tuple | None = None,
) -> int:
    """EXACTLY-ONCE CDC replication: bring table ``dst`` up to
    table ``src``'s head by applying ``src``'s change feed version by
    version — the Delta/Iceberg "streaming from a table" shape as a
    resumable catch-up pass (run it on a schedule, or in a
    foreachBatch-style loop, and it tails the source). Returns the
    source version ``dst`` now reflects.

    Protocol: the applied-through position lives in DST's OWN
    idempotent-writer watermark (the exactly-once-ingest machinery) —
    never a side file — with source version v applying as TWO
    sub-sequenced commits: the upsert merge stamped ``seq = 2v`` and
    the keyed delete (or, for upsert-only / empty feeds, the single
    closing commit) stamped ``seq = 2v + 1``. BOTH halves carry a
    watermark, so a stalled run waking after a faster run has moved
    on no-ops INSIDE each commit (the zombie-writer rule) instead of
    replaying a stale merge over newer state — an unstamped merge
    half was exactly that hole (round-11 third review). An odd
    watermark means its version fully applied; an even one means the
    delete half is still owed and resume re-enters at that version
    (the merge no-ops, the delete lands). Empty feeds (compaction,
    restore-to-same-state) stamp via an empty KEYED DELETE — a
    metadata-only audit commit that works on partitioned tables,
    where a bare zero-row append would trip the partition-spec check
    and wedge replication forever (round-11 third review).

    Bootstrap: when dst has no watermark for this writer, the
    EARLIEST retained src version seeds dst as one overwrite commit
    CARRYING src's partition spec and stats columns (a replica that
    silently dropped them would lose partition/stats pruning for
    every later apply). Source versions below the watermark must
    still be retained (``v-1`` is diffed): vacuuming src past dst's
    applied position raises FileNotFoundError rather than silently
    skipping changes — re-bootstrap into a fresh dst in that case.

    Scale: per version, work is O(changed files) scan + O(touched
    files) rewrite + O(1) metadata — independent of table size; the
    deleted-key set is bounded by the version's delta and broadcasts.
    Replication lag is bounded by how often this runs, not by corpus
    size.

    MULTI-WRITER FAN-IN (round 12): ``key_range=(lo, hi)`` — the
    half-open key interval [lo, hi), either end None for unbounded —
    makes this writer one of several mirroring DISTINCT sources into
    ONE destination. Each writer owns its range exclusively: the
    claim is registered in dst's manifest (``snapshot_claim_range``),
    overlapping claims raise at registration, a hijacked or mutated
    claim raises on every later apply, and every feed row outside the
    range is filtered before it can touch another writer's keys. The
    txn map already namespaces the per-writer watermarks; the range
    contract is what makes the interleaved merges conflict-FREE
    rather than merely serializable (two unconstrained writers
    upserting the same key would converge to commit order, not to
    either source). Bootstrap under fan-in: the first writer may
    create dst (range-filtered overwrite), later writers fold their
    range in by MERGE — an overwrite would clobber the other owners'
    rows."""
    from pyspark.sql import functions as F

    if key_range is not None:
        rlo, rhi = key_range
        wid = writer_id or f"replicate:{key}:[{rlo},{rhi})"
    else:
        wid = writer_id or f"replicate:{key}"
    fs, _, jvm = _fs_path(spark, src)
    src_versions = _list_versions(fs, jvm, src)
    if not src_versions:
        raise FileNotFoundError(f"{src} has no committed versions to replicate")

    def _in_range(df):
        if key_range is None:
            return df
        cond = F.lit(True)
        if rlo is not None:
            cond = cond & (F.col(key) >= F.lit(rlo))
        if rhi is not None:
            cond = cond & (F.col(key) < F.lit(rhi))
        return df.filter(cond)

    if key_range is not None:
        # Under fan-in nobody ever overwrites dst: a second "first
        # writer" overwriting would clobber the winner's rows. Ensure
        # dst exists as an EMPTY table (v0 creation is the atomic
        # manifest claim — a lost race just means someone else created
        # it), then validate-or-register the range claim BEFORE any
        # data work, so an overlapping claim surfaces as the
        # registration error, never as silently interleaved upserts.
        dst_fs0, _, dst_jvm0 = _fs_path(spark, dst)
        if not _list_versions(dst_fs0, dst_jvm0, dst):
            m0 = _read_manifest(fs, jvm, src, src_versions[0])
            sm0 = _manifest_schema(m0) or snapshot_read(
                spark, src, src_versions[0]
            ).schema
            try:
                snapshot_commit(
                    spark.createDataFrame([], sm0),
                    dst,
                    mode="overwrite",
                    partition_by=m0.get("partition_by") or None,
                )
            except ConcurrentCommitError:
                pass  # another writer created dst — same empty state
        snapshot_claim_range(spark, dst, wid, key, rlo, rhi)
    else:
        # an UNKEYED replicate into a destination other writers have
        # claimed ranges on would merge/delete across every owner's
        # interval — the exact conflict the ownership contract exists
        # to prevent (round-12 self-review). Refuse loudly.
        dfs, _, djvm = _fs_path(spark, dst)
        dvs = _list_versions(dfs, djvm, dst)
        if dvs:
            dm = _read_manifest(dfs, djvm, dst, dvs[-1])
            if dm.get("owners"):
                raise ValueError(
                    f"{dst} has registered range owners "
                    f"{sorted(dm['owners'])} — replicate into it with "
                    "key_range=(lo, hi) under your own claim"
                )
    last = snapshot_last_txn(spark, dst, wid)
    if last is None:
        # bootstrap from the earliest RETAINED version (vacuum may
        # have expired the true v0 — any retained version's read is
        # that version's full state), inheriting src's partition spec
        # and stats discipline
        v0 = src_versions[0]
        m0 = _read_manifest(fs, jvm, src, v0)
        _, st0 = _resolve(fs, jvm, src, m0)
        stats_cols = sorted(
            {c for st in st0.values() for c in st if not c.startswith("__")}
        ) or None
        seed = _in_range(snapshot_read(spark, src, v0))
        if key_range is not None:
            # fan-in writers fold their range into the shared
            # destination by MERGE, never overwrite (which would wipe
            # the other owners' rows); the claim above guarantees
            # these keys belong to nobody else. Pure-insert into the
            # empty/others' table: O(seed) work.
            snapshot_merge(seed, dst, key=key, txn=(wid, 2 * v0 + 1))
        else:
            snapshot_commit(
                seed,
                dst,
                mode="overwrite",
                partition_by=m0.get("partition_by") or None,
                stats_cols=stats_cols,
                txn=(wid, 2 * v0 + 1),
            )
        last = 2 * v0 + 1
    # odd watermark 2v+1: v fully applied, continue at v+1;
    # even watermark 2v: v's delete half still owed, re-enter at v
    first_todo = (last + 1) // 2
    todo = [v for v in src_versions if v >= first_todo]
    applied = (last - 1) // 2
    dst_fs, _, dst_jvm = _fs_path(spark, dst)
    for v in todo:
        if v - 1 not in src_versions:
            raise FileNotFoundError(
                f"replicating {src} -> {dst}: version {v - 1} needed to diff "
                f"into {v} has been vacuumed away — re-bootstrap a fresh dst"
            )
        # SCHEMA EVOLUTION through replication (round 11): a source
        # version whose recorded schema gained columns evolves dst
        # FIRST via a zero-row append carrying the new schema (the
        # additive merge in snapshot_commit does the rest), so the
        # version's upserts — whose feed values carry the new columns
        # — align instead of raising. Guarded by a field diff, so
        # replays are no-ops; dst tables without schema tracking skip
        # (their merges never aligned anyway).
        sm = _manifest_schema(_read_manifest(fs, jvm, src, v))
        if sm is not None:
            dvs = _list_versions(dst_fs, dst_jvm, dst)
            dm = _read_manifest(dst_fs, dst_jvm, dst, dvs[-1])
            if dm.get("schema") is not None:
                known = {f["name"] for f in dm["schema"]["fields"]}
                if any(f.name not in known for f in sm.fields):
                    snapshot_commit(
                        spark.createDataFrame([], sm),
                        dst,
                        mode="append",
                        partition_by=dm.get("partition_by") or None,
                    )
        feed = (
            snapshot_changes(
                spark, src, v - 1, v, keys=[key], compare_cols=compare_cols,
                include_values=True,
            )
            # NULL-key rows are outside the keyed-dataset contract
            # (snapshot_diff's join can never match them, so they'd
            # surface as phantom inserted+deleted pairs with NULL
            # values every version and churn junk into dst —
            # round-11 review). Bootstrap copies them verbatim;
            # their later changes do not replicate — give rows real
            # keys if they must track.
            .filter(F.col(key).isNotNull())
        )
        # fan-in: only this writer's owned interval may touch dst —
        # rows outside it belong to (and are replicated by) other
        # writers, or to nobody
        feed = _in_range(feed).localCheckpoint()  # bounded by the delta; consumed 3x below
        data_cols = [
            c for c in feed.columns if c not in ("old_hash", "new_hash", "change")
        ]
        ups = feed.filter(F.col("change") != "deleted").select(*data_cols)
        dels = feed.filter(F.col("change") == "deleted").select(key)
        has_ups = ups.first() is not None
        has_dels = dels.first() is not None
        if has_ups:
            snapshot_merge(
                ups, dst, key=key,
                txn=(wid, 2 * v if has_dels else 2 * v + 1),
            )
        if has_dels or not has_ups:
            # the version's CLOSING stamp: a keyed delete (possibly
            # with an empty key frame — a metadata-only audit commit
            # that is partition-spec-safe) carrying seq 2v+1
            snapshot_delete(spark, dst, keys=(key, dels), txn=(wid, 2 * v + 1))
        applied = v
    return applied


def snapshot_claim_range(
    spark: SparkSession,
    path: str,
    writer_id: str,
    key: str,
    lo,
    hi,
) -> int:
    """Register (or re-validate) writer ``writer_id``'s EXCLUSIVE
    ownership of the half-open key interval [``lo``, ``hi``) on table
    ``path`` — the keyed-partition ownership contract that makes
    multi-writer replication fan-in conflict-free (round 12). Either
    bound may be None (unbounded). Returns the table's current (or
    newly committed) version.

    Rules, all enforced HERE so every fan-in writer hits one gate:
    - all claims on a table must use the same key column (interval
      math across different columns is meaningless) — mismatch raises;
    - a claim overlapping any OTHER writer's interval raises — the
      conflict-surfacing path (queue/retry is the caller's policy);
    - the same writer re-claiming its IDENTICAL interval is a no-op
      (no commit) — this doubles as the per-apply hijack check: a
      claim that changed out from under a writer raises here;
    - the same writer claiming a DIFFERENT interval raises —
      ownership moves are manual operations, not silent drift.

    The registration is a metadata-only commit (op 'claim') that
    carries the parent's inventory/DV/blooms/schema verbatim — O(1),
    audit-visible in snapshot_history. The owners map then rides
    every later commit exactly like the idempotent-writer txn map
    (_set_txn carries both). Two simultaneous first claims race on
    the atomic manifest publish: the loser re-reads, re-validates
    against the winner's now-registered interval, and either no-ops
    (identical), raises (overlap), or retries its own publish."""

    # claim values live in JSON manifests: plain scalars only, and the
    # no-op check is an equality on the round-tripped dict
    if lo is not None and hi is not None and not lo < hi:
        raise ValueError(
            f"claim interval [{lo}, {hi}) is empty or inverted — a writer "
            "owning nothing can replicate nothing"
        )
    claim = {"key": key, "lo": lo, "hi": hi}
    fs, _, jvm = _fs_path(spark, path)
    for _ in range(5):
        versions = _list_versions(fs, jvm, path)
        if not versions:
            raise FileNotFoundError(f"{path} has no committed versions to claim on")
        parent = versions[-1]
        m = _read_manifest(fs, jvm, path, parent)
        owners = dict(m.get("owners") or {})
        mine = owners.get(writer_id)
        if mine == claim:
            return parent  # already registered, unchanged — pure read
        if mine is not None:
            raise ValueError(
                f"writer {writer_id!r} already owns {mine} on {path} — "
                f"claiming {claim} would move ownership; call "
                "snapshot_release_range first, then claim the new interval"
            )
        for other_wid, oc in owners.items():
            if oc["key"] != key:
                raise ValueError(
                    f"table {path} has claims keyed on {oc['key']!r} "
                    f"(writer {other_wid!r}); all claims must share one "
                    "key column"
                )
            # [lo1,hi1) and [lo2,hi2) overlap iff lo1 < hi2 and
            # lo2 < hi1, with None = unbounded on that side
            lo1, hi1 = claim["lo"], claim["hi"]
            lo2, hi2 = oc["lo"], oc["hi"]
            if (lo1 is None or hi2 is None or lo1 < hi2) and (
                lo2 is None or hi1 is None or lo2 < hi1
            ):
                raise ValueError(
                    f"claim [{lo1}, {hi1}) by {writer_id!r} overlaps "
                    f"[{lo2}, {hi2}) owned by {other_wid!r} on {path}"
                )
        owners[writer_id] = claim
        if "shards" in m:
            sec = {"n_files": m["n_files"], "shards": m["shards"]}
        else:
            sec = {
                "n_files": len(m["files"]),
                "files": m["files"],
                "stats": m.get("stats", {}),
            }
        manifest = {
            "version": parent + 1,
            "op": "claim",
            "parent": parent,
            **sec,
            "partition_by": m.get("partition_by") or [],
            "partition_types": m.get("partition_types") or {},
            "owners": owners,
        }
        if m.get("schema") is not None:
            manifest["schema"] = m["schema"]
        if "dv" in m:
            manifest["dv"] = m["dv"]
        if m.get("bloom"):
            manifest["bloom"] = m["bloom"]
        _set_txn(manifest, m, None)
        try:
            _publish(fs, jvm, path, parent + 1, manifest)
            return parent + 1
        except ConcurrentCommitError:
            continue  # re-read, re-validate against the winner
    raise ConcurrentCommitError(
        f"claim on {path} lost {5} consecutive publish races — retry"
    )


def snapshot_release_range(spark: SparkSession, path: str, writer_id: str) -> int:
    """Drop writer ``writer_id``'s registered key-interval claim on
    table ``path`` (round 13, advice): claim_range's ownership-move
    error says 'release/re-key explicitly', and without this API a
    retired or re-ranged writer permanently blocked its interval (and
    blocked all unkeyed replicates into the table), because owners
    ride every commit via _set_txn forever.

    Idempotent: releasing a writer with no registered claim is a pure
    read returning the current version — so a release/crash/re-release
    service loop converges. The drop itself is a metadata-only commit
    (op 'release') carrying the parent's inventory/DV/blooms/schema
    verbatim, racing through the same atomic manifest publish as
    claims; after it lands the writer may claim a NEW interval (the
    ownership move the claim-side error message promises)."""
    fs, _, jvm = _fs_path(spark, path)
    for _ in range(5):
        versions = _list_versions(fs, jvm, path)
        if not versions:
            raise FileNotFoundError(f"{path} has no committed versions")
        parent = versions[-1]
        m = _read_manifest(fs, jvm, path, parent)
        owners = dict(m.get("owners") or {})
        if writer_id not in owners:
            return parent  # nothing registered — pure read, idempotent
        del owners[writer_id]
        if "shards" in m:
            sec = {"n_files": m["n_files"], "shards": m["shards"]}
        else:
            sec = {
                "n_files": len(m["files"]),
                "files": m["files"],
                "stats": m.get("stats", {}),
            }
        manifest = {
            "version": parent + 1,
            "op": "release",
            "parent": parent,
            **sec,
            "partition_by": m.get("partition_by") or [],
            "partition_types": m.get("partition_types") or {},
            "owners": owners,
        }
        if m.get("schema") is not None:
            manifest["schema"] = m["schema"]
        if "dv" in m:
            manifest["dv"] = m["dv"]
        if m.get("bloom"):
            manifest["bloom"] = m["bloom"]
        _set_txn(manifest, m, None)
        try:
            _publish(fs, jvm, path, parent + 1, manifest)
            return parent + 1
        except ConcurrentCommitError:
            continue  # re-read, re-validate against the winner
    raise ConcurrentCommitError(
        f"release on {path} lost {5} consecutive publish races — retry"
    )


def snapshot_tail(
    spark: SparkSession,
    src: str,
    dst: str,
    key: str,
    writer_id: str | None = None,
    compare_cols: list[str] | None = None,
    key_range: tuple | None = None,
    poll_sec: float = 5.0,
    backoff: float = 2.0,
    max_poll_sec: float = 60.0,
    stop_after_idle: int | None = 3,
    max_polls: int | None = None,
    sleep=None,
) -> int:
    """The SERVICE form of ``snapshot_replicate`` (round 12): poll
    ``src`` on a schedule and keep ``dst`` converged to its head,
    backing off exponentially while the source is quiet and snapping
    back to ``poll_sec`` the moment a poll makes progress. Returns
    the last source version ``dst`` reflects.

    This wrapper adds NO protocol: crash-safety is entirely the
    sub-sequenced watermark's (kill the process mid-version, restart
    the tailer, and it resumes inside that version — the replicate
    contract). What it adds is the deployment loop: scheduling,
    backoff, bounded shutdown (``stop_after_idle`` consecutive
    empty polls, and/or ``max_polls``), and lost-race handling —
    a ConcurrentCommitError from a concurrent committer is treated
    as a contended (not idle) poll and simply re-polled, because
    replicate re-derives everything from the two tables' durable
    state on every call.

    ``sleep`` is injectable for deterministic tests (and for hosting
    the loop inside a scheduler that wants to own the waiting); the
    default is time.sleep. Lag is bounded by the poll cadence — at
    100 TB the per-poll work stays O(changed files), so the cadence
    is a freshness/cost dial, not a scale one."""
    import time as _time

    do_sleep = sleep if sleep is not None else _time.sleep
    applied: int | None = None
    idle = 0
    polls = 0
    delay = float(poll_sec)
    last_err: Exception | None = None
    while True:
        polls += 1
        progressed = False
        try:
            new = snapshot_replicate(
                spark,
                src,
                dst,
                key,
                writer_id=writer_id,
                compare_cols=compare_cols,
                key_range=key_range,
            )
            progressed = applied is None or new > applied
            applied = new
            last_err = None
        except ConcurrentCommitError as e:
            # someone else is committing — contended, not idle:
            # re-poll at base cadence (replicate re-derives fresh)
            progressed = True
            last_err = e
        if progressed:
            idle, delay = 0, float(poll_sec)
        else:
            idle += 1
            delay = min(delay * float(backoff), float(max_poll_sec))
        if stop_after_idle is not None and idle >= stop_after_idle:
            break
        if max_polls is not None and polls >= max_polls:
            break
        do_sleep(delay)
    if applied is None:
        raise last_err if last_err is not None else RuntimeError(
            f"tail {src} -> {dst} made no successful poll"
        )
    return applied


def snapshot_service(
    spark: SparkSession,
    src: str,
    dst: str,
    key: str,
    writer_id: str | None = None,
    compare_cols: list[str] | None = None,
    key_range: tuple | None = None,
    poll_sec: float = 5.0,
    backoff: float = 2.0,
    max_poll_sec: float = 60.0,
    stop_after_idle: int | None = 3,
    max_polls: int | None = None,
    sleep=None,
    maintain_every: int = 1,
    small_bytes: int = 32 << 20,
    min_small_files: int = 8,
    target_rows_per_file: int | None = None,
    zorder_by: tuple[str, ...] | None = None,
    keep_last: int | None = None,
    older_than: float | None = None,
) -> dict:
    """The COMBINED deployment loop (round 13, verdict ask): one
    scheduled pass that keeps ``dst`` converged to ``src``'s head
    (the ``snapshot_tail`` half) AND healthy (the ``snapshot_maintain``
    half — compact past the small-file threshold, then vacuum under
    the retention policy) on one shared cadence, so a deployment runs
    ONE service instead of wiring two schedulers whose interleaving it
    must then reason about. Both halves are round-12 primitives; the
    loop adds scheduling, not protocol — their commit race is already
    pinned (a lost race from either half surfaces ConcurrentCommitError
    and the next cycle re-derives from durable state).

    Cadence: every cycle replicates; every ``maintain_every``-th cycle
    also maintains (freshness usually wants a tighter loop than
    compaction — N>1 makes maintenance a cheap harmonic of the poll).
    QUIET polls stay quiet end-to-end: replicate no-ops by watermark,
    maintain below-threshold costs one manifest read — neither commits
    a version, so the service never creates the history pressure its
    vacuum half exists to relieve. Backoff mirrors snapshot_tail:
    replication progress or a compaction snaps the delay back to
    ``poll_sec``; consecutive do-nothing cycles back off exponentially
    and (optionally) stop after ``stop_after_idle``.

    Returns ``{"applied": last_src_version, "polls": n,
    "maintained": [per-maintenance-pass dicts], "cycle_secs":
    [per-cycle (apply_sec, maintain_sec|None)]}`` — the duration trail
    is the service's backpressure signal: a deployment reading
    apply_sec grow toward poll_sec sees convergence lag coming before
    it becomes an incident."""
    import time as _time

    if maintain_every < 1:
        raise ValueError(f"maintain_every must be >= 1, got {maintain_every}")
    do_sleep = sleep if sleep is not None else _time.sleep
    applied: int | None = None
    idle = 0
    polls = 0
    delay = float(poll_sec)
    last_err: Exception | None = None
    maintained: list[dict] = []
    cycle_secs: list[tuple[float, float | None]] = []
    while True:
        polls += 1
        progressed = False
        t0 = _time.perf_counter()
        try:
            new = snapshot_replicate(
                spark,
                src,
                dst,
                key,
                writer_id=writer_id,
                compare_cols=compare_cols,
                key_range=key_range,
            )
            progressed = applied is None or new > applied
            applied = new
            last_err = None
        except ConcurrentCommitError as e:
            progressed = True  # contended, not idle — re-poll fresh
            last_err = e
        apply_sec = round(_time.perf_counter() - t0, 3)
        maintain_sec: float | None = None
        # maintenance only runs once replication has applied at least
        # one version (round-14 advice): if the very FIRST poll loses
        # its commit race, dst may not exist yet — snapshot_maintain
        # would raise FileNotFoundError and crash the whole service
        # loop instead of retrying next cycle. Before the first
        # successful apply there is nothing to compact or vacuum
        # anyway, so the skip costs nothing.
        if polls % maintain_every == 0 and applied is not None:
            t0 = _time.perf_counter()
            try:
                mres = snapshot_maintain(
                    spark,
                    dst,
                    small_bytes=small_bytes,
                    min_small_files=min_small_files,
                    target_rows_per_file=target_rows_per_file,
                    zorder_by=zorder_by,
                    keep_last=keep_last,
                    older_than=older_than,
                )
                maintained.append(mres)
                if mres["compacted"] is not None:
                    progressed = True  # table changed — stay hot
            except ConcurrentCommitError as e:
                progressed = True
                last_err = e
            maintain_sec = round(_time.perf_counter() - t0, 3)
        cycle_secs.append((apply_sec, maintain_sec))
        if progressed:
            idle, delay = 0, float(poll_sec)
        else:
            idle += 1
            delay = min(delay * float(backoff), float(max_poll_sec))
        if stop_after_idle is not None and idle >= stop_after_idle:
            break
        if max_polls is not None and polls >= max_polls:
            break
        do_sleep(delay)
    if applied is None:
        raise last_err if last_err is not None else RuntimeError(
            f"service {src} -> {dst} made no successful poll"
        )
    return {
        "applied": applied,
        "polls": polls,
        "maintained": maintained,
        "cycle_secs": cycle_secs,
    }
