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
DV-free table pays nothing. Rewrites MATERIALIZE deletes: merge
applies the DV to the files it rewrites and drops those files' DV
coverage, so deleted rows can never resurrect through a rewrite that
changes row positions.

Round 10 also closes the previously-declared manifest scale gap:
versions past _SHARD_FILES entries store their inventory in immutable
SHARD files with per-column bounds in the root (the Iceberg
manifest-list shape) — appends reference the parent's shards by name
at O(new files) metadata cost, merge rewrites only the shards it
actually drops files from, DV deletes share every shard verbatim,
and pruned reads skip whole shards by bounds before loading one.

The honest scope line: stats are gathered by a post-write
single-column aggregate over the fresh files (a production format
lifts them from the task-level parquet footers the write already
produced — same numbers, zero extra read), merge is upsert-only
(deletes go through
``snapshot_delete``), and DV application is a join in the plan rather
than a scan-integrated position mask (an engine-owned format pushes
the mask into the reader; the join spelling is what composes on stock
Spark, AQE broadcasts the DV while it is small). There is no
retention sweep: every version stays readable, and a lost race or a
crashed committer leaves its data dir behind as unreferenced garbage.
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "ConcurrentCommitError",
    "snapshot_changes",
    "snapshot_commit",
    "snapshot_delete",
    "snapshot_merge",
    "snapshot_read",
    "snapshot_restore",
    "snapshot_stream_ingest",
]

_MANIFEST_RE = re.compile(r"^v(\d{8})\.json$")
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


# ---------------------------------------------------------------------------
# manifest sharding (round 10): a version whose file count exceeds
# _SHARD_FILES stores its file list + stats in IMMUTABLE shard files
# (`_manifests/vN-shard-<uuid>.json`), the root manifest holding only
# refs {path, n_files, bounds}. Two scale properties the single
# inline manifest lacks, both the Iceberg manifest-list design:
#  - commits REUSE parent shards by ref: an append's metadata cost is
#    O(new files), merge rewrites only the shards whose files it
#    actually drops — never the whole list;
#  - pruned reads skip whole shards by the refs' per-column [lo, hi]
#    bounds before loading one shard byte.
# Shards are written BEFORE the root-manifest claim, so a lost race
# orphans shard files exactly like data dirs.


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
    return {"path": name, "n_files": len(files), "bounds": _shard_bounds(files, stats)}


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
    txn: tuple[str, int] | None = None,
) -> int:
    """Write ``df`` as the table's next version; returns the version.

    mode='append' extends the parent version's file list; 'overwrite'
    starts a fresh list (old versions stay readable — nothing is
    deleted). Raises ConcurrentCommitError if another writer published
    the same version first: data files are already written (orphaned,
    harmless), so callers that expect contention re-derive against the
    new latest before retrying, which is the table-format contract too.

    ``stats_cols`` records per-file [min, max] for those columns in
    the manifest (the Iceberg pruning shape): one column-pruned
    aggregate over the fresh files, grouped by input_file_name — O(1)
    rows per file to the driver. Appends merge the parent's stats, so
    per-commit choices may differ; readers treat missing stats as
    "keep the file".

    ``txn=(writer_id, seq)`` records an idempotent-writer watermark
    in the manifest (Delta's setTransaction shape): the latest
    manifest's ``txn`` map answers "what is the highest seq writer X
    has committed" in O(1), which is what exactly-once streaming
    ingest checks before committing a possibly-redelivered batch.
    Every commit type carries the parent's map forward, so the
    watermark survives interleaved merges/deletes/restores."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    spark = df.sparkSession
    fs, _, jvm = _fs_path(spark, path)
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
            # data is written.
            return parent
    pm = prev if eff_mode == "append" else None
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
    files, stats = _write_data(df, path, version, stats_cols)
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
    }
    if schema_entry is not None:
        manifest["schema"] = schema_entry
    if pm is not None and "dv" in pm:
        # an append extends the parent's file list, so the
        # parent's deletion vector must ride along — dropping it
        # here would resurrect every masked row (fresh files can't
        # collide: DV keys name data/vN-uuid dirs, never reused)
        manifest["dv"] = pm["dv"]
    _set_txn(manifest, prev, txn)
    _publish(fs, jvm, path, version, manifest)
    return version


def _set_txn(manifest: dict, pm: dict | None, txn: tuple[str, int] | None) -> None:
    """Carry the parent's idempotent-writer watermarks and fold in
    this commit's own (writer_id, seq), keeping the larger seq on a
    same-writer repeat. Also stamps ``committed_at`` MAX-ADJUSTED
    against the parent's (the Delta/Iceberg move): a skewed or
    stepped-back clock must never produce a child stamped before its
    parent, or a timestamp lookup over the manifests would resolve to
    a snapshot containing LATER data (round-10 max review)."""
    import time

    txns = dict((pm or {}).get("txn") or {})
    if txn is not None:
        wid, seq = txn
        txns[wid] = max(int(seq), int(txns.get(wid, -1)))
    if txns:
        manifest["txn"] = txns
    parent_at = (pm or {}).get("committed_at")
    now = time.time()
    manifest["committed_at"] = (
        now if parent_at is None else max(now, float(parent_at) + 1e-6)
    )


def _write_data(
    df: DataFrame, path: str, version: int, stats_cols: list[str] | None
) -> tuple[list[str], dict]:
    """Write ``df`` into a fresh immutable data dir for ``version``;
    returns (relative file list, per-file stats for ``stats_cols``)."""
    spark = df.sparkSession
    fs, _, jvm = _fs_path(spark, path)
    reldir = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
    datadir = posixpath.join(path, reldir)
    df.write.parquet(datadir)
    droot = jvm.org.apache.hadoop.fs.Path(datadir)
    files = [
        posixpath.join(reldir, st.getPath().getName())
        for st in fs.listStatus(droot)
        if st.getPath().getName().endswith(".parquet")
    ]
    stats: dict[str, dict] = {}
    if stats_cols:
        from pyspark.sql import functions as F

        prefix = fs.getFileStatus(droot).getPath().toUri().getPath()
        aggs = []
        for c in stats_cols:
            aggs += [F.min(c).alias(f"__lo_{c}"), F.max(c).alias(f"__hi_{c}")]
        per_file = (
            spark.read.parquet(datadir)
            .groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )
        for r in per_file:
            rel = posixpath.join(reldir, _rel_suffix(r["__f"], prefix))
            stats[rel] = {
                c: [_stat_val(r[f"__lo_{c}"]), _stat_val(r[f"__hi_{c}"])]
                for c in stats_cols
            }
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
    # table formats add. A loser's temp is removed; its data dir stays
    # behind as unreferenced garbage.
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


def snapshot_merge(
    source: DataFrame,
    path: str,
    key: str,
    stats_cols: list[str] | None = None,
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
    null-fill, unknown columns raise, and the merge key must always be
    present (never null-filled). ``stats_cols`` records stats for the
    fresh files exactly as in snapshot_commit. Concurrency: the same
    atomic manifest claim as snapshot_commit — a lost race raises
    ConcurrentCommitError and the caller re-derives against the new
    latest (the rewrite is against a fixed parent version, so retrying
    without re-deriving could resurrect rows a concurrent commit
    replaced).

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
        # the KEY may never be null-filled: a source missing its key
        # would silently upsert NULL-key junk (round-11 second review
        # — reproduced)
        if key not in have:
            raise ValueError(
                f"merge source is missing required column {key!r} (the merge key)"
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
        st = stats.get(f, {}).get(key)
        if not st or st[0] is None or st[1] is None:
            return True  # no usable stats: conservatively a candidate
        try:
            return not (st[1] < lo or st[0] > hi)
        except TypeError:
            return True

    cand = [f for f in loaded_files if _cand(f)]
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
    new_files, new_stats = _write_data(fresh_df, path, version, stats_cols)

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
    _set_txn(manifest, m, None)
    _publish(fs, jvm, path, version, manifest)
    return version


def snapshot_delete(spark: SparkSession, path: str, where: tuple) -> int:
    """Row-level DELETE as a merge-on-read commit: rows matching
    ``where=(col, op, value)`` disappear from the new version WITHOUT
    rewriting any data file — their (file, row position) coordinates
    are appended to the version's positional deletion vector, a tiny
    parquet readers anti-join at plan time. Returns the new version.
    This is the Iceberg v2 / Delta deletion-vector shape: at 100 TB a
    copy-on-write delete of 0.1% of rows scattered across every file
    rewrites the whole table; the DV commit costs one pruned scan of
    candidate files plus a write proportional to the DELETED rows.

    Mechanics: manifest stats prune candidate files (the
    snapshot_read pruner); a DV-AWARE read of the candidates
    (already-deleted rows must not re-match) evaluates the predicate
    and emits (file key, row position); the new version's DV = parent
    DV ∪ new positions, written to a fresh immutable dir under data/
    and published in the manifest as
    ``dv: {dir, files: {relpath: n_deleted}}``. Data files and stats
    carry over untouched. Re-deleting the same rows is a no-op by the
    union-distinct; a delete matching nothing still commits a version
    (an audit-visible no-op, the table-format convention). Deletes
    MATERIALIZE at the next rewrite of a file (merge applies the DV
    and drops that file's coverage).

    Time travel composes: older manifests carry the older (or no) DV,
    so ``snapshot_read(version=...)`` before the delete still sees
    the rows. Concurrency: the same atomic manifest claim as every
    commit — a lost race raises ConcurrentCommitError, and the caller
    re-derives against the new latest (a predicate delete's target set
    is defined by the predicate, so re-evaluating it against the
    winner's state is the serializable outcome). A DV dir written for
    a version that never publishes is reclaimed on the way out."""
    from pyspark.sql import functions as F

    fs, _, jvm = _fs_path(spark, path)
    versions = _list_versions(fs, jvm, path)
    if not versions:
        raise FileNotFoundError(f"{path} has no committed versions to delete from")
    parent = versions[-1]
    version = parent + 1
    m = _read_manifest(fs, jvm, path, parent)
    # shard-level pruning feeds the candidate search: only shards the
    # probe's bounds cannot prove empty are even loaded
    cand_files, cand_stats = _resolve(fs, jvm, path, m, where=where)
    cand = _prune_files(cand_files, where, cand_stats)
    dvdir, dvmap = _dv_info(m)
    new_dv = {"dir": dvdir, "files": dvmap} if dvdir else None
    reldir = None  # this commit's DV dir, once written
    if cand:
        new_pos = (
            _read_data(spark, path, m, cand, keep_meta=True)
            .filter(_where_cond(where))
            .select("__dvf", "__pos")
        )
        if dvdir is not None:
            old_dv = spark.read.schema(_DV_SCHEMA).parquet(posixpath.join(path, dvdir)).select(
                "__dvf", "__pos"
            )
            # the old DV parquet may hold STALE keys — files whose
            # coverage a merge dropped when it materialized
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
        reldir = f"data/v{version:08d}-{uuid.uuid4().hex[:8]}"
        # the DV is tiny relative to the data it masks; don't let it
        # inherit the candidate scan's partitioning as many shards
        dv_frame.coalesce(8).write.parquet(posixpath.join(path, reldir))
    # no candidates: carry the parent's DV entry verbatim, zero I/O

    keep_dir = False
    try:
        if reldir is not None:
            # per-file coverage map: bounded by the file count, safe to collect
            # — and the keys DECODE to manifest relpaths (file_path is a
            # percent-encoded URI; the manifest stores decoded paths)
            from urllib.parse import unquote

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
            if files_map:
                new_dv = {"dir": reldir, "files": files_map}
        # the file inventory is untouched by a DV delete: inline fields
        # copy over; shard refs share verbatim (zero metadata rewrite)
        manifest = {"version": version, "op": "delete", "parent": parent, **_inventory(m)}
        if m.get("schema") is not None:
            manifest["schema"] = m["schema"]
        if new_dv:
            manifest["dv"] = new_dv
        _set_txn(manifest, m, None)
        _publish(fs, jvm, path, version, manifest)
        keep_dir = bool(new_dv) and new_dv["dir"] == reldir
    finally:
        # a failed validation, a lost claim or an empty DV leaves this
        # dir unreferenced by any published version (round-10 max
        # review); reclaim it rather than leak one per attempt
        if reldir is not None and not keep_dir:
            fs.delete(jvm.org.apache.hadoop.fs.Path(posixpath.join(path, reldir)), True)
    return version


def _inventory(m: dict) -> dict:
    """The manifest's file-inventory fields, for commits that carry a
    version's inventory unchanged (delete, restore): shard refs share
    verbatim, inline files and stats copy over."""
    if "shards" in m:
        return {"n_files": m["n_files"], "shards": m["shards"]}
    return {"n_files": len(m["files"]), "files": m["files"], "stats": m.get("stats", {})}


def snapshot_restore(spark: SparkSession, path: str, version: int) -> int:
    """Roll the table BACK to ``version``'s state as a NEW commit —
    the Iceberg rollback / Delta RESTORE shape. Returns the new
    version number (or the current latest unchanged if it already IS
    ``version``). Nothing is rewritten and history is preserved: the
    new manifest references the target version's file inventory
    (shard refs by name, inline files by relpath — all immutable)
    and deletion vector VERBATIM, so the bad commits
    being undone remain time-travelable, and the restore itself costs
    O(1) metadata regardless of table size. Raises FileNotFoundError
    if ``version`` was never committed.

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
    manifest = {
        "version": parent + 1,
        "op": "restore",
        "parent": parent,
        "restored_from": version,
        **_inventory(target),
    }
    if target.get("schema") is not None:
        manifest["schema"] = target["schema"]
    if "dv" in target:
        manifest["dv"] = target["dv"]
    _set_txn(manifest, latest, None)
    _publish(fs, jvm, path, parent + 1, manifest)
    return parent + 1


def _read_files(
    spark: SparkSession,
    path: str,
    files: list[str],
    merge_schema: bool = False,
    with_meta: bool = False,
    schema=None,
) -> DataFrame:
    """Plan exactly ``files`` in one reader call.

    ``with_meta`` appends ``__dvf`` (the file's manifest-relpath key
    derived from _metadata.file_path) and ``__pos``
    (_metadata.row_index) — the deletion-vector coordinates. The
    projection happens on the READER frame, before any union:
    _metadata is a scan-relation pseudo-column and does not survive
    unions."""
    from pyspark.sql import functions as F

    reader = spark.read
    if merge_schema:
        reader = reader.option("mergeSchema", "true")
    elif schema is not None:
        # manifest-recorded schema (round 11): plan with it directly —
        # no footer-sampling job, files predating later-added columns
        # null-fill them (schema-on-read). merge_schema callers opt
        # out: their point is discovering what the footers hold.
        reader = reader.schema(schema)
    df = reader.parquet(*[posixpath.join(path, f) for f in files])
    if not with_meta:
        return df
    return df.select(
        "*",
        F.regexp_extract(F.col("_metadata.file_path"), _DV_KEY_RE, 1).alias("__dvf"),
        F.col("_metadata.row_index").alias("__pos"),
    )


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
    merge's probe + rewrite): a rewrite that read
    files plain would resurrect deleted rows the moment it changed
    their positions. Files with DV coverage anti-join the version's
    deletion vector on (file key, row position); uncovered files read
    plain and pay nothing. ``keep_meta`` keeps the ``__dvf``/``__pos``
    coordinate columns on the result (both branches)."""
    schema = _manifest_schema(m)
    dvdir, dvmap = _dv_info(m)
    covered = [f for f in files if f in dvmap]
    if not covered:
        return _read_files(
            spark, path, files, merge_schema, with_meta=keep_meta, schema=schema
        )
    uncovered = [f for f in files if f not in dvmap]
    dv = spark.read.schema(_DV_SCHEMA).parquet(posixpath.join(path, dvdir))
    cdf = _read_files(
        spark, path, covered, merge_schema, with_meta=True, schema=schema
    ).join(dv, ["__dvf", "__pos"], "left_anti")
    if not keep_meta:
        cdf = cdf.drop("__dvf", "__pos")
    if not uncovered:
        return cdf
    udf = _read_files(
        spark, path, uncovered, merge_schema, with_meta=keep_meta, schema=schema
    )
    return cdf.unionByName(udf, allowMissingColumns=merge_schema)


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
        files = _prune_files(files, w, stats)
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
            spark, path, all_files, merge_schema, schema=_manifest_schema(m)
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


def _prune_files(files: list[str], where: tuple, stats: dict) -> list[str]:
    """The subset of ``files`` whose column ``stats`` cannot PROVE
    empty under ``where=(col, op, value)`` — shared by snapshot_read
    and snapshot_delete. Conservative in every uncertain case; callers
    must still apply the predicate in-plan."""
    col, op, val = where
    if val is None:
        raise ValueError("where value must not be None (use a filter for null semantics)")
    if op not in _PRUNE_SKIP:
        raise ValueError(f"op must be one of {sorted(_PRUNE_SKIP)}, got {op!r}")
    skip = _PRUNE_SKIP[op]

    def keep(f: str) -> bool:
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


def _last_txn(spark: SparkSession, path: str, writer_id: str) -> int | None:
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


#: attempts snapshot_stream_ingest's handler makes per batch when a
#: concurrent committer keeps winning the version claim
_INGEST_RETRIES = 5


def snapshot_stream_ingest(
    path: str,
    writer_id: str,
    stats_cols: list[str] | None = None,
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
    ConcurrentCommitError and the batch RE-CHECKS then retries (up to
    _INGEST_RETRIES attempts) — the
    recheck is what makes the retry safe, since the loser's winner
    may have been this writer's own earlier attempt completing.

    Scale: the check is one root-manifest read; the append is
    O(new files) metadata under manifest sharding. The one contract
    the caller owns: batch_id -> data must be deterministic across
    redeliveries (Spark's replayable-source guarantee), which is the
    same contract Delta's txn action assumes."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        for attempt in range(_INGEST_RETRIES):
            last = _last_txn(spark, path, writer_id)
            if last is not None and batch_id <= last:
                return  # redelivered batch: already committed
            try:
                snapshot_commit(
                    batch_df,
                    path,
                    mode="append",
                    stats_cols=stats_cols,
                    txn=(writer_id, int(batch_id)),
                )
                return
            except ConcurrentCommitError:
                if attempt == _INGEST_RETRIES - 1:
                    raise
                continue  # re-check the watermark against the new latest

    return handle


def snapshot_changes(
    spark: SparkSession,
    path: str,
    v_from: int,
    v_to: int,
    keys: list[str],
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
    - its FILE entered or left the inventory (append/merge/restore/
      overwrite): removed files' rows (under v_from's DV) form the
      old side, added files' rows (under v_to's DV — a file added and
      then delete-masked within the range is born partially masked)
      form the new side;
    - its file stayed but its deletion-vector coverage GREW (DV
      deletes; coverage never shrinks for a surviving file — rewrites
      remove the file instead): rows at v_to's newly-masked positions
      of common files join the old side, scanning only the common
      files that gained masks.
    A rewrite that merely moves rows between files (merge's
    untouched-key carry) puts identical rows on both sides,
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
            _read_files(spark, path, grown, with_meta=True, schema=_manifest_schema(m1))
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
    # compare columns exactly — the all-footer plan of the to-version
    # is needed only when BOTH sides are empty (a no-change range)
    if old_side is None and new_side is not None:
        old_side = spark.createDataFrame([], new_side.schema)
    elif new_side is None and old_side is not None:
        new_side = spark.createDataFrame([], old_side.schema)
    elif old_side is None and new_side is None:
        if not files1:
            raise FileNotFoundError(
                f"versions {v_from}/{v_to} of {path} have no data files to diff"
            )
        new_side = _read_files(spark, path, files1).limit(0)
        old_side = spark.createDataFrame([], new_side.schema)
    return snapshot_diff(old_side, new_side, keys=keys)
