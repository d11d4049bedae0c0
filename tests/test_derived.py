"""sources/derived.py: the one cache path for derived layouts that
outlive a run. No Spark session: every ``build`` here writes plain
files, so the key, hit check, publish and sweep rules are pinned on
their own."""

from __future__ import annotations

import json
import os
import time

import pytest

from etfconstituentextractor_spark.sources import derived as dv


@pytest.fixture
def sf(tmp_path, monkeypatch):
    """A one-table dataset, with the process temp dir redirected to
    an empty ``tmp_path / "tmp"``."""
    d = tmp_path / "sf"
    d.mkdir()
    (d / "t.parquet").write_bytes(b"x" * 16)
    (tmp_path / "tmp").mkdir()
    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path / "tmp"))
    return str(d)


class Build:
    """Writes ``sub/data.bin`` and counts its calls."""

    def __init__(self):
        self.calls = 0

    def __call__(self, dest):
        self.calls += 1
        os.makedirs(os.path.join(dest, "sub"))
        with open(os.path.join(dest, "sub", "data.bin"), "wb") as fh:
            fh.write(b"payload")


def _top(sf):
    return sorted(os.listdir(os.path.join(os.path.dirname(sf), "tmp")))


def test_hit_does_not_build(sf):
    build = Build()
    p = dv.derived("lay", sf, ["t"], {"v": 1}, build)
    assert build.calls == 1
    assert os.path.isfile(os.path.join(p, dv.MANIFEST))
    assert dv.derived("lay", sf, ["t"], {"v": 1}, build) == p
    assert build.calls == 1
    assert _top(sf) == [os.path.basename(p)]  # published, no build left


def test_changed_key_builds_new_dir(sf):
    build = Build()
    p1 = dv.derived("lay", sf, ["t"], {"v": 1}, build)
    p2 = dv.derived("lay", sf, ["t"], {"v": 2}, build)
    assert p2 != p1 and build.calls == 2
    # a source-table rewrite is a key change too
    with open(os.path.join(sf, "t.parquet"), "ab") as fh:
        fh.write(b"y")
    p3 = dv.derived("lay", sf, ["t"], {"v": 1}, build)
    assert p3 not in (p1, p2) and build.calls == 3
    # the older generation stays for frames that may still scan it
    assert os.path.isfile(os.path.join(p1, "sub", "data.bin"))


@pytest.mark.parametrize("damage", ["delete", "truncate"])
def test_partial_loss_rebuilds_at_same_path(sf, damage):
    """Tmp cleanup can eat a large data file and keep the small
    manifest: that must rebuild, never serve a partial layout."""
    build = Build()
    p = dv.derived("lay", sf, ["t"], {"v": 1}, build)
    f = os.path.join(p, "sub", "data.bin")
    if damage == "delete":
        os.remove(f)
    else:
        open(f, "wb").close()
    assert dv.derived("lay", sf, ["t"], {"v": 1}, build) == p
    assert build.calls == 2
    with open(f, "rb") as fh:
        assert fh.read() == b"payload"


def test_failed_build_publishes_nothing(sf):
    def boom(dest):
        with open(os.path.join(dest, "half.bin"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        dv.derived("lay", sf, ["t"], {"v": 1}, boom)
    assert _top(sf) == []  # no published dir, no .build-* left


def test_partial_final_dir_is_moved_aside_and_claimed(sf):
    """A published-but-partial dir used to make the claim rename fail
    forever — every run rebuilt AND leaked a .build-<pid>. The carcass
    is moved aside and the path claimed, so the cache heals; dead-pid
    private builds are swept; asides stay on disk (a reader may still
    hold one)."""
    key, p = dv._key_dir("lay", sf, ["t"], {"v": 1})
    os.makedirs(p)
    with open(os.path.join(p, "junk.txt"), "w") as fh:
        fh.write("partial build carcass")
    # a dead-pid private build, aged past the sweep cutoff (a FRESH dir
    # is presumed in flight, possibly on another host of a shared
    # filesystem, even when the local pid probe says dead)
    dead = f"{p}.build-999999999"
    os.makedirs(dead)
    old = time.time() - dv.SWEEP_AGE_SEC - 60
    os.utime(dead, (old, old))

    build = Build()
    # healed: the FINAL path is served, not a private build
    assert dv.derived("lay", sf, ["t"], {"v": 1}, build) == p
    assert dv._valid(p, key)
    # the carcass was moved aside, not destroyed
    top = os.path.dirname(p)
    asides = [n for n in os.listdir(top) if ".stale-" in n]
    assert len(asides) == 1
    assert os.path.isfile(os.path.join(top, asides[0], "junk.txt"))
    # the dead-pid private build was swept; no fresh leak from us
    assert not os.path.exists(dead)
    assert [n for n in os.listdir(top) if ".build-" in n] == []
    # a second call reuses the healed dir (pure read)
    assert dv.derived("lay", sf, ["t"], {"v": 1}, build) == p
    assert build.calls == 1


def test_sweep_gates_on_subtree_mtime_and_pid(tmp_path):
    """Sweep requires BOTH (1) the newest mtime anywhere in the
    SUBTREE older than the cutoff — a top-level dir's mtime reflects
    only direct children, so a slow build writing under build/table/
    would otherwise age out while demonstrably alive — and (2) the
    owner pid in the name dead locally, so a process still scanning
    its own aside can never lose files mid-read (pid recycling merely
    DELAYS a sweep — a disk-only cost). Published generations follow
    the same age rule, but only when they are superseded: same
    dataset, other key."""
    base = str(tmp_path)
    stem = "etfce_derived_u0_lay_"
    final = os.path.join(base, stem + "f" * 16)
    old = time.time() - dv.SWEEP_AGE_SEC - 60

    def gen(c, suffix=""):
        return os.path.join(base, stem + c * 16 + suffix)

    fresh_dead = gen("a", ".build-999999999")  # dead pid, fresh
    aged_dead = gen("b", ".build-999999998")  # dead pid, old
    aged_live = gen("c", f".build-{os.getpid()}")  # live pid, old
    fresh_aside = gen("d", ".stale-123-1")  # aside, fresh
    aged_aside = gen("e", ".stale-999999997-1")  # aside, old+dead
    final_gen = final  # the generation just published
    # dead pid + old TOP-LEVEL mtime, but a deep file is fresh
    deep_fresh = gen("1", ".build-999999996")
    superseded = gen("2")  # aged, same dataset: swept
    other_sf = gen("3")  # aged, another dataset: not superseded
    other_name = os.path.join(base, "etfce_derived_u0_lay2_" + "5" * 16)
    for p in (
        fresh_dead, aged_dead, aged_live, fresh_aside, aged_aside,
        final_gen, deep_fresh, superseded, other_sf, other_name,
    ):
        os.makedirs(p)
    for p, sf_dir in ((superseded, "/data/sf1"), (other_sf, "/data/sf2")):
        with open(os.path.join(p, dv.MANIFEST), "w") as fh:
            json.dump({"key": {"sf_dir": sf_dir}, "files": {}}, fh)
    deep = os.path.join(deep_fresh, "table", "_manifests")
    os.makedirs(deep)
    with open(os.path.join(deep, "v0.json"), "w") as fh:
        fh.write("{}")
    for p in (aged_dead, aged_live, aged_aside, deep_fresh, other_name):
        os.utime(p, (old, old))
    for p in (superseded, other_sf):
        os.utime(os.path.join(p, dv.MANIFEST), (old, old))
        os.utime(p, (old, old))
    os.utime(os.path.join(deep_fresh, "table"), (old, old))  # only the leaf is fresh

    dv._sweep_dead_builds(final, "/data/sf1")
    left = sorted(os.listdir(base))
    assert os.path.basename(fresh_dead) in left  # other-host build: kept
    assert os.path.basename(fresh_aside) in left  # dangling-frame rule
    assert os.path.basename(final_gen) in left  # never touched
    assert os.path.basename(deep_fresh) in left  # subtree liveness, not top-level
    assert os.path.basename(aged_live) in left  # live owner: never swept
    assert os.path.basename(aged_dead) not in left  # old AND orphaned
    assert os.path.basename(aged_aside) not in left
    assert os.path.basename(superseded) not in left
    assert os.path.basename(other_sf) in left
    assert os.path.basename(other_name) in left  # another layout's name

