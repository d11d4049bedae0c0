"""Derived state that outlives a run: ONE cache path for every layout
built from corpus tables (staged stream chunks, q62's LSH index and
stream source, q22's bucketed and DPP tables, q86's snapshot tables,
q70's PQ codebook).

``derived(name, sf_dir, tables, recipe, build)`` returns a directory
whose contents are a deterministic function of its key:

- **Key.** The layout's name, the dataset dir, a fingerprint of each
  source table and the caller's ``recipe`` (every parameter the layout
  derives from, plus a version for code changes the parameters cannot
  see). The directory is named after the key's hash, so a corpus
  refresh or recipe change builds a NEW directory and never rewrites
  one a lazy frame may still be scanning.
- **Hit.** ``_DERIVED.json`` holds the key and the size of every file
  the build wrote; the layout is served only when the key matches and
  every listed file is present at its recorded size (tmp cleanup can
  eat large data files while keeping the small manifest — that must
  rebuild, never serve a partial read).
- **Miss.** ``build(dir)`` fills a private ``<dir>.build-<pid>``, the
  manifest is written last, and a rename publishes it. A lost race
  adopts the valid winner; an invalid carcass at the final path is
  moved aside (never deleted: a reader may still hold it) and the
  path claimed; any other failure serves the private build. A build
  that raises leaves nothing behind.
- **Sweep.** After a miss, dead private builds, old asides and aged
  superseded generations of the same name are removed (see
  ``_sweep_dead_builds`` for the rule).
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import re
import shutil
import tempfile
import time

__all__ = ["derived", "table_fingerprint"]

MANIFEST = "_DERIVED.json"

#: private builds, stale asides and superseded generations younger
#: than this are never swept. Builds take seconds and frames scanning
#: an aside live minutes, so six hours is conservative.
SWEEP_AGE_SEC = 6 * 3600


def table_fingerprint(sf_dir: str, table: str) -> str:
    """Identity string for ``<sf_dir>/<table>.parquet`` (single file
    or directory-partitioned layout): per-file (root-relative path,
    size, mtime_ns), order-stable. 'missing' if the table does not
    exist.

    Size + mtime_ns, not a tag: a content-blind key kept replaying
    stream chunks staged before a corpus refresh, and an mtime-only key
    misses a rewrite that preserves mtimes (cp -p, rsync -t).
    ROOT-RELATIVE path, not basename: in a partitioned layout a file
    moved between partition subdirectories with size+mtime preserved
    changes every row's partition column."""
    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(p):
        paths = [p]
    elif os.path.isdir(p):
        paths = sorted(glob.glob(os.path.join(p, "**", "*.parquet"), recursive=True))
    else:
        paths = []
    parts = []
    for f in paths:
        st = os.stat(f)
        parts.append(f"{os.path.relpath(f, p)}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts) or "missing"


def _key_dir(name: str, sf_dir: str, tables, recipe: dict) -> tuple[dict, str]:
    """The layout's key (JSON-normalised, so it compares equal to a
    manifest's) and the directory it is published at. The uid keeps
    users on a shared tmp apart: publishing over another user's
    directory would fail under the sticky bit."""
    fps = {t: table_fingerprint(sf_dir, t) for t in tables}
    text = json.dumps(dict(name=name, sf_dir=sf_dir, tables=fps, recipe=recipe), sort_keys=True)
    uid = os.getuid() if hasattr(os, "getuid") else 0
    h = hashlib.md5(text.encode()).hexdigest()[:16]
    return json.loads(text), os.path.join(tempfile.gettempdir(), f"etfce_derived_u{uid}_{name}_{h}")


def _valid(d: str, key: dict) -> bool:
    try:
        with open(os.path.join(d, MANIFEST)) as fh:
            m = json.load(fh)
        return m["key"] == key and all(
            os.path.getsize(os.path.join(d, f)) == n for f, n in m["files"].items()
        )
    except (OSError, ValueError, KeyError, TypeError, AttributeError):
        return False


def derived(name: str, sf_dir: str, tables, recipe: dict, build) -> str:
    """The directory holding layout ``name`` of dataset ``sf_dir``,
    built by ``build(dir)`` unless a valid one for the same source
    ``tables`` fingerprints and ``recipe`` is already published."""
    key, final = _key_dir(name, sf_dir, tables, recipe)
    if _valid(final, key):
        return final
    tmp = f"{final}.build-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        build(tmp)
        files = {}
        for d, _, names in os.walk(tmp):
            for n in names:
                p = os.path.join(d, n)
                files[os.path.relpath(p, tmp)] = os.path.getsize(p)
        with open(os.path.join(tmp, MANIFEST), "w") as fh:
            json.dump({"key": key, "files": files}, fh)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    out = _publish(tmp, final, key)
    _sweep_dead_builds(final, sf_dir)
    return out


def _publish(tmp: str, final: str, key: dict) -> str:
    with contextlib.suppress(OSError):
        os.rename(tmp, final)
        return final
    if _valid(final, key):  # lost the race to a valid winner
        shutil.rmtree(tmp, ignore_errors=True)
        return final
    # the final path holds a carcass (a killed build, or tmp cleanup
    # ate files): without moving it aside every run would rebuild and
    # serve its private build forever
    with contextlib.suppress(OSError):
        os.rename(final, f"{final}.stale-{os.getpid()}-{time.time_ns()}")
        os.rename(tmp, final)
        return final
    return tmp


def _subtree_newest_mtime(p: str) -> float | None:
    """Newest mtime across ``p`` and everything under it, or None when
    the subtree vanished. A directory's own mtime reflects only its
    DIRECT children: a slow build writing deep under it keeps the deep
    files fresh while the top-level dir ages past any cutoff."""
    try:
        newest = os.stat(p).st_mtime
    except OSError:
        return None
    for dirpath, dirnames, filenames in os.walk(p):
        for n in dirnames + filenames:
            with contextlib.suppress(OSError):  # vanished mid-walk
                newest = max(newest, os.stat(os.path.join(dirpath, n)).st_mtime)
    return newest


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:
        return True  # EPERM etc.: someone owns it
    return True


def _same_dataset(p: str, sf_dir: str) -> bool:
    """Whether published generation ``p`` was built from ``sf_dir``
    (so the current key supersedes it); a generation without a
    readable manifest is a carcass and counts as superseded."""
    try:
        with open(os.path.join(p, MANIFEST)) as fh:
            return json.load(fh)["key"]["sf_dir"] == sf_dir
    except (OSError, ValueError, KeyError, TypeError):
        return True


def _sweep_dead_builds(final: str, sf_dir: str) -> None:
    """Remove the leftovers of layout ``final``'s name beside it:
    ``.build-<pid>`` private builds, ``.stale-<pid>-<ns>`` asides, and
    published generations of the same dataset other than ``final``.
    Each is removed only when BOTH hold:

    1. the NEWEST mtime anywhere in its subtree is older than
       ``SWEEP_AGE_SEC`` (a writer anywhere keeps the whole tree
       alive; on a shared filesystem another host's build looks dead
       to a local pid probe), and
    2. the owner pid in its name, if any, is not alive locally (a live
       pid always keeps its dir; a recycled pid merely delays the
       sweep, which only leaks disk, never data).

    A pure reader on another shared-fs host updates no mtimes and owns
    no local pid: it is protected only by the age cutoff, which is why
    the cutoff is hours, not minutes. Generations of other datasets
    with the same name are left alone: they are not superseded."""
    top, me = os.path.split(final)
    gen = re.compile(re.escape(me[:-16]) + r"[0-9a-f]{16}(?:\.(?:build|stale)-(\d+)(?:-\d+)?)?$")
    cutoff = time.time() - SWEEP_AGE_SEC
    for n in os.listdir(top):
        m = gen.match(n)
        if m is None or n == me:
            continue
        p = os.path.join(top, n)
        pid = m.group(1)
        if pid is None and not _same_dataset(p, sf_dir):
            continue
        newest = _subtree_newest_mtime(p)
        if newest is None or newest >= cutoff:
            continue  # vanished, or fresh somewhere in the subtree
        if pid is not None and _pid_alive(int(pid)):
            continue
        shutil.rmtree(p, ignore_errors=True)
