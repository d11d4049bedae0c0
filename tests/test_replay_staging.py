"""Staged replay-input tripwires (round-4 postmortem).

Round 4's four red driver rows all traced to ONE cause: the streaming
replay staging cache reused chunk files staged before a corpus
refresh, because the ``_STAGED_OK`` marker signature was content-blind
(``tag|n_chunks|sf_dir``). The engine code was correct; the fixture
was stale. These tests make the next corpus refresh a non-event:

1. the marker signature must include corpus identity, and a stale
   marker must force a re-stage (cache-invalidation contract);
2. every staged layout's event-time span must MATCH the corpus span
   (> 1 day, year >= 2020 — the round-3 stale layouts spanned 21
   minutes of 1970), and the q58 doubled layout must hold exactly
   2x the corpus rows (content contract — catches any staleness mode
   the marker can't, e.g. a hand-edited chunk file).
"""

from __future__ import annotations

import datetime
import os

import duckdb

from etfconstituentextractor_spark.sources.tables import load
from etfconstituentextractor_spark.streaming.replay import (
    _corpus_fingerprint,
    partitions_for,
    stage_chunks,
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

    from etfconstituentextractor_spark.sources.fingerprint import table_fingerprint

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
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    marker = os.path.join(chunks, "_STAGED_OK")
    sig = open(marker).read()
    # the signature must carry corpus identity, not just the recipe
    assert _corpus_fingerprint(sf_dir) in sig
    assert _corpus_fingerprint(sf_dir) != "missing"

    # a reuse hit must NOT rebuild (same inode set)
    inodes_before = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    again = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    assert again == chunks
    inodes_reuse = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    assert inodes_reuse == inodes_before

    # simulate the round-4 failure: a marker written by an older code
    # version (content-blind sig) guarding chunks from an older corpus
    with open(marker, "w") as fh:
        fh.write(f"plain2|2|{sf_dir}")
    rebuilt = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
    assert rebuilt == chunks
    assert open(marker).read() == sig  # fresh, fingerprint-bearing sig
    inodes_after = {
        f: os.stat(os.path.join(chunks, f)).st_ino for f in sorted(os.listdir(chunks))
    }
    # the whole layout was re-staged (scratch-build + atomic rename)
    assert all(
        inodes_after[f] != inodes_before[f]
        for f in inodes_after
        if f.endswith(".parquet")
    )


def test_staged_plain_layout_span_matches_corpus(spark, sf_dir):
    chunks = stage_chunks(spark, sf_dir, tag="plain2", n_chunks=2, reuse=True)
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
    chunks = stage_chunks(spark, sf_dir, tag="q58_doubled", source=doubled, reuse=True)
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
