"""Staged replay-input tripwires (round-4 postmortem).

Round 4's four red driver rows all traced to ONE cause: the streaming
replay staging cache reused chunk files staged before a corpus
refresh, because the reuse marker's signature was content-blind
(``tag|n_chunks|sf_dir``). The engine code was correct; the fixture
was stale. These tests make the next corpus refresh a non-event:

1. the staged layout's key must include corpus identity, and a stale
   key must force a re-stage (cache-invalidation contract);
2. every staged layout's event-time span must MATCH the corpus span
   (> 1 day, year >= 2020 — the round-3 stale layouts spanned 21
   minutes of 1970), and the q58 doubled layout must hold exactly
   2x the corpus rows (content contract — catches any staleness mode
   the marker can't, e.g. a hand-edited chunk file).
"""

from __future__ import annotations

import datetime
import json
import os

import duckdb

from etfconstituentextractor_spark.sources.derived import MANIFEST, table_fingerprint
from etfconstituentextractor_spark.sources.tables import load
from etfconstituentextractor_spark.streaming.replay import (
    partitions_for,
    stage_chunks,
    stream_dir,
    work_dir,
)


def _staged_stats(chunk_dir: str):
    """min(ts), max(ts), row count over the staged chunk files."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT min(ts), max(ts), count(*) "
            f"FROM read_parquet('{chunk_dir}/chunk_*.parquet')"
        ).fetchone()
    finally:
        con.close()


def _corpus_stats(sf_dir: str):
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT min(ts)::TIMESTAMP, max(ts)::TIMESTAMP, count(*) "
            f"FROM read_parquet('{sf_dir}/events.parquet')"
        ).fetchone()
    finally:
        con.close()


def test_fingerprint_sees_partition_moves(tmp_path):
    """A file moved BETWEEN partition subdirectories with size+mtime
    preserved (rsync -a reshuffle) changes every row's partition
    column — the fingerprint must change (round-8 advice: basename
    keying was blind to this)."""
    import shutil

    root = tmp_path / "t.parquet"
    (root / "lang=en").mkdir(parents=True)
    (root / "lang=de").mkdir()
    f = root / "lang=en" / "part-0.parquet"
    f.write_bytes(b"x" * 64)
    before = table_fingerprint(str(tmp_path), "t")
    st = f.stat()
    dst = root / "lang=de" / "part-0.parquet"
    shutil.move(str(f), str(dst))
    os.utime(dst, ns=(st.st_atime_ns, st.st_mtime_ns))  # mtime preserved
    after = table_fingerprint(str(tmp_path), "t")
    assert before != after


def test_reuse_marker_invalidates_on_corpus_change(spark, sf_dir):
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    manifest = os.path.join(chunks, MANIFEST)
    with open(manifest) as fh:
        doc = json.load(fh)
    # the key must carry corpus identity, not just the recipe
    assert doc["key"]["tables"]["events"] == table_fingerprint(sf_dir, "events")
    assert table_fingerprint(sf_dir, "events") != "missing"

    # a reuse hit must NOT rebuild (same inode set)
    inodes_before = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    again = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    assert again == chunks
    inodes_reuse = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    assert inodes_reuse == inodes_before

    # simulate the round-4 failure: a manifest written by an older code
    # version (content-blind key) guarding chunks from an older corpus
    with open(manifest, "w") as fh:
        json.dump(dict(doc, key=dict(doc["key"], tables={})), fh)
    rebuilt = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    assert rebuilt == chunks
    with open(manifest) as fh:
        assert json.load(fh)["key"] == doc["key"]  # fresh, fingerprint-bearing key
    inodes_after = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    # the whole layout was re-staged (private build + atomic rename)
    assert all(
        inodes_after[f] != inodes_before[f]
        for f in inodes_after
        if f.endswith(".parquet")
    )


def test_staged_plain_layout_span_matches_corpus(spark, sf_dir):
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2)
    s_min, s_max, s_n = _staged_stats(chunks)
    c_min, c_max, c_n = _corpus_stats(sf_dir)
    assert (s_min, s_max, s_n) == (c_min, c_max, c_n)
    # the absolute guards the verdicts asked for: a 1000x-compressed
    # 1970-epoch replay (round 3's failure shape) violates both
    assert s_min.year >= 2020
    assert s_max - s_min > datetime.timedelta(days=1)


def test_staged_doubled_layout_is_exactly_twice_corpus(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    chunks = stage_chunks(spark, sf_dir, tag="q58_doubled", source=doubled)
    s_min, s_max, s_n = _staged_stats(chunks)
    c_min, c_max, c_n = _corpus_stats(sf_dir)
    assert s_n == 2 * c_n
    assert (s_min, s_max) == (c_min, c_max)


def test_extra_chunk_layout_spans_corpus_plus_extra(spark, sf_dir):
    """The hardlinked extra-chunk path (q57/q59's recipe) must carry
    the CURRENT corpus chunks — q57/q59 were the round-4 victims."""
    ev = load(spark, sf_dir, "events")
    extra = ev.orderBy("event_id").limit(1).selectExpr(
        "CAST(-1 AS BIGINT) AS event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        "props",
    )
    chunks = stage_chunks(
        spark, sf_dir, tag="tripwire_extra", n_chunks=2, extra_last_chunk=extra
    )
    assert chunks == work_dir(sf_dir, "tripwire_extra")
    s_min, s_max, s_n = _staged_stats(chunks)
    c_min, c_max, c_n = _corpus_stats(sf_dir)
    assert s_n == c_n + 1
    assert (s_min, s_max) == (c_min, c_max)
    assert s_max - s_min > datetime.timedelta(days=1)


def test_state_partitions_rule():
    """One state partition per Arrow batch of micro-batch rows,
    never fewer than one, never more than the cores."""
    batch, cores = 10_000, 4
    assert partitions_for(0, batch, cores) == 1
    assert partitions_for(1, batch, cores) == 1
    assert partitions_for(batch, batch, cores) == 1
    assert partitions_for(batch + 1, batch, cores) == 2
    assert partitions_for(cores * batch, batch, cores) == cores
    assert partitions_for(cores * batch + 1, batch, cores) == cores
    # a batch size <= 0 is Spark's "no limit": every micro-batch fits one
    assert partitions_for(cores * batch, 0, cores) == 1


def test_corpus_text_is_free_of_bpe_separator(sf_dir):
    """q81's BPE oracle folds over a chr(31)-joined symbol string; a
    corpus refresh that introduced that byte into document text would
    make DuckDB mis-split symbols while Spark (array-based) would not
    — a silent hash divergence. Guard the assumption per corpus state,
    alongside this module's other refresh tripwires."""
    import duckdb

    n = duckdb.sql(
        f"SELECT COUNT(*) FROM read_parquet('{sf_dir}/documents.parquet') "
        "WHERE contains(text, chr(31))"
    ).fetchone()[0]
    assert n == 0


def test_committed_bpe_merges_stay_sql_safe():
    """The committed merge list is inlined into oracle SQL as quoted
    literals; symbols must stay free of the separator and of quote
    characters the two engines escape differently."""
    from etfconstituentextractor_spark.plans.llm_text import _BPE_MERGES

    for a, b in _BPE_MERGES:
        for sym in (a, b):
            assert "\x1f" not in sym and "'" not in sym and "\\" not in sym


def test_stream_dirs_are_process_private(tmp_path):
    """A stream's checkpoint, sink and extra-chunk dirs belong to the
    process that runs it, because every run wipes them before it
    starts: another process resolves different dirs for the same
    arguments (so it cannot wipe this one's checkpoint mid-stream),
    and two datasets with the same basename never share a dir."""
    import subprocess
    import sys
    from pathlib import Path

    sf_a, sf_b = str(tmp_path / "a" / "sf0.01"), str(tmp_path / "b" / "sf0.01")
    mine = [work_dir(sf_a, "extra"), stream_dir(sf_a, "ckpt_q")]
    assert mine == [work_dir(sf_a, "extra"), stream_dir(sf_a, "ckpt_q")]  # stable
    child = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys\n"
            "from etfconstituentextractor_spark.streaming.replay import stream_dir, work_dir\n"
            "print(work_dir(sys.argv[1], 'extra'))\n"
            "print(stream_dir(sys.argv[1], 'ckpt_q'))",
            sf_a,
        ],
        cwd=Path(__file__).resolve().parents[1],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split("\n")[:2]
    assert child[0] != mine[0] and child[1] != mine[1], (child, mine)
    assert work_dir(sf_b, "extra") != mine[0]
    assert stream_dir(sf_b, "ckpt_q") != mine[1]


def test_scratch_dir_registers_each_path_once(tmp_path, monkeypatch):
    """Streams resolve their dirs through ``scratch_dir`` on every
    start, so a long-lived process must not gain one atexit handler
    per resolution: a path registers its removal once, and each
    ``unique=True`` dir is a new path that registers once."""
    import atexit

    from etfconstituentextractor_spark.sources.tables import scratch_dir

    registered = []
    monkeypatch.setattr(atexit, "register", lambda *a, **k: registered.append(a))
    sf = str(tmp_path / "sf0.01")
    d = scratch_dir("etfce_once", sf)
    assert scratch_dir("etfce_once", sf) == d
    assert len(registered) == 1, registered
    u1 = scratch_dir("etfce_once", sf, unique=True)
    assert scratch_dir("etfce_once", sf, unique=True) != u1
    assert len(registered) == 3, registered
