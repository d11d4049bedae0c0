"""Versioned snapshot tables (sources/snapshot_table.py): commit
protocol, snapshot isolation, time travel, merge, deletion vectors,
manifest sharding, exactly-once ingest, restore and the change feed. Tests inspect a table's history through ``snapshot_read`` or its
``_manifests/vNNNNNNNN.json`` files."""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.sources.snapshot_table import (
    ConcurrentCommitError,
    snapshot_commit,
    snapshot_read,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id bigint, v string")


def _manifest(t, version):
    with open(os.path.join(t, "_manifests", f"v{version:08d}.json")) as fh:
        return json.load(fh)


def _manifests(t):
    """Every committed root manifest of table ``t``, oldest first."""
    names = os.listdir(os.path.join(t, "_manifests"))
    return [
        _manifest(t, int(n[1:9])) for n in sorted(names) if re.fullmatch(r"v\d{8}\.json", n)
    ]


def _watermark(t, writer_id):
    """The latest manifest's idempotent-writer watermark for
    ``writer_id`` (None if it never committed)."""
    return (_manifests(t)[-1].get("txn") or {}).get(writer_id)


def _unreferenced_data_dirs(t):
    """Top-level ``data/`` dirs no manifest references through its
    inline files or deletion vector (tables here are never sharded)."""
    live = set()
    for m in _manifests(t):
        live.update("/".join(f.split("/")[:2]) for f in m["files"])
        if m.get("dv"):
            live.add(m["dv"]["dir"])
    return {f"data/{d}" for d in os.listdir(os.path.join(t, "data"))} - live


def test_versions_are_immutable_and_time_travelable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    v0 = snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    v1 = snapshot_commit(_df(spark, [(3, "c")]), t, mode="append")
    v2 = snapshot_commit(_df(spark, [(9, "z")]), t, mode="overwrite")
    assert (v0, v1, v2) == (0, 1, 2)

    def ids(version=None):
        return sorted(r.id for r in snapshot_read(spark, t, version).collect())

    assert ids(0) == [1, 2]  # still readable after two later commits
    assert ids(1) == [1, 2, 3]  # append extended the parent
    assert ids(2) == [9]  # overwrite started fresh
    assert ids() == [9]  # latest == v2

    meta = _manifests(t)
    assert [m["version"] for m in meta] == [0, 1, 2]
    assert [m["op"] for m in meta] == ["overwrite", "append", "overwrite"]
    assert meta[1]["parent"] == 0

    # an empty append still commits a version, and reads are unchanged
    assert snapshot_commit(_df(spark, []), t, mode="append") == 3
    assert ids() == [9]


def test_first_append_is_a_plain_write_and_missing_version_raises(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a")]), t, mode="append")
    assert _manifests(t)[0]["op"] == "overwrite"
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, t, version=7)
    with pytest.raises(FileNotFoundError):
        snapshot_read(spark, str(tmp_path / "nope"))
    with pytest.raises(ValueError):
        snapshot_commit(_df(spark, [(1, "a")]), t, mode="merge")


def test_concurrent_commit_loser_raises_and_table_stays_consistent(spark, tmp_path):
    """Simulate the race: a second committer publishes version 1 while
    the first is mid-commit (data written, manifest not yet renamed).
    The protocol's loser must raise, and the winner's version must be
    what readers see."""
    import etfconstituentextractor_spark.sources.snapshot_table as st

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a")]), t)

    real_read = st._read_manifest
    raced = {"done": False}

    def racing_read_into(table_path):
        def racing_read(fs, jvm, table, version):
            m = real_read(fs, jvm, table, version)
            # the loser reads its parent manifest AFTER picking its
            # version number and BEFORE publishing — exactly the race
            # window; sneak in the competing commit ONCE here
            if not raced["done"]:
                raced["done"] = True
                snapshot_commit(_df(spark, [(7, "w")]), table_path, mode="append")
            return m

        return racing_read

    st._read_manifest = racing_read_into(t)
    try:
        with pytest.raises(ConcurrentCommitError):
            snapshot_commit(_df(spark, [(2, "l")]), t, mode="append")
    finally:
        st._read_manifest = real_read

    # the winner's commit is version 1; the loser left no manifest
    assert [m["version"] for m in _manifests(t)] == [0, 1]
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [1, 7]

    # a DV delete that loses the claim raises too, and reclaims the DV
    # dir it wrote for the version it never published
    d = str(tmp_path / "dtbl")
    snapshot_commit(_df(spark, [(i, f"v{i}") for i in range(6)]), d, stats_cols=["id"])
    raced["done"] = False
    st._read_manifest = racing_read_into(d)
    try:
        with pytest.raises(ConcurrentCommitError):
            st.snapshot_delete(spark, d, where=("id", "<", 3))
    finally:
        st._read_manifest = real_read
    assert [m["version"] for m in _manifests(d)] == [0, 1]
    assert sorted(r.id for r in snapshot_read(spark, d).collect()) == [0, 1, 2, 3, 4, 5, 7]
    assert _unreferenced_data_dirs(d) == set(), "the lost delete leaked its DV dir"


def test_reader_ignores_uncommitted_writer_garbage(spark, tmp_path):
    """A crashed committer's orphaned data dir must be invisible: the
    manifest, not the directory listing, is the table."""
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a")]), t)
    # orphan: data written, no manifest published (simulated crash)
    _df(spark, [(666, "orphan")]).write.parquet(os.path.join(t, "data/v00000001-dead"))
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [1]


def test_cdc_between_snapshot_versions(spark, tmp_path):
    """The composition the module docstring points at: row-level
    change capture between two VERSIONS of a snapshot table is just
    operators/snapshot_diff.py over two snapshot_read frames."""
    from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a"), (2, "b"), (3, "c")]), t)
    snapshot_commit(_df(spark, [(1, "a"), (2, "B"), (4, "d")]), t, mode="overwrite")
    diff = snapshot_diff(
        snapshot_read(spark, t, 0),
        snapshot_read(spark, t, 1),
        keys=["id"],
        compare_cols=["v"],
    )
    got = {r.id: r.change for r in diff.collect()}
    assert got == {2: "updated", 3: "deleted", 4: "inserted"}


def test_schema_evolution_across_appends(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a")]), t)
    wide = spark.createDataFrame([(2, "b", 9.5)], "id bigint, v string, score double")
    snapshot_commit(wide, t, mode="append")
    merged = snapshot_read(spark, t, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].score is None and rows[2].score == 9.5


def test_stats_pruning_plans_fewer_files(spark, tmp_path):
    """Column-stats pruning (round-9): a commit with stats_cols
    records per-file [min,max] in the manifest, and snapshot_read's
    `where` plans ONLY the files whose range can satisfy the
    predicate — verified via df.inputFiles() — while returning
    exactly the rows a full-scan filter would."""
    t = str(tmp_path / "tbl")
    df = (
        spark.range(0, 1000)
        .select(F.col("id"), (F.col("id") % 7).alias("v"))
        .repartitionByRange(8, "id")  # disjoint id ranges per file
    )
    snapshot_commit(df, t, mode="overwrite", stats_cols=["id"])

    full = snapshot_read(spark, t)
    assert len(full.inputFiles()) == 8

    pr = snapshot_read(spark, t, where=("id", ">=", 900))
    assert len(pr.inputFiles()) < 8
    assert sorted(r.id for r in pr.collect()) == list(range(900, 1000))

    eq = snapshot_read(spark, t, where=("id", "=", 123))
    assert len(eq.inputFiles()) == 1
    assert [r.id for r in eq.collect()] == [123]

    # everything pruned: empty frame, correct schema, zero files read
    none = snapshot_read(spark, t, where=("id", ">", 10_000))
    assert none.count() == 0
    assert none.columns == full.columns

    # a conjunction of where-tuples prunes by EVERY predicate: one
    # file per (a, b) quadrant, so each predicate alone plans two
    # files and both together plan one
    q = str(tmp_path / "quadrants")
    grid = spark.range(4096).selectExpr(
        "id",
        "CAST(pmod(hash(id), 1024) AS BIGINT) AS a",
        "CAST(pmod(hash(id * 7 + 3), 1024) AS BIGINT) AS b",
    )
    for i, cond in enumerate(("a < 512 AND b < 512", "a < 512 AND b >= 512",
                              "a >= 512 AND b < 512", "a >= 512 AND b >= 512")):
        snapshot_commit(grid.filter(cond).coalesce(1), q,
                        mode="append" if i else "overwrite", stats_cols=["a", "b"])
    one = snapshot_read(spark, q, where=("a", "<", 64))
    both = snapshot_read(spark, q, where=[("a", "<", 64), ("b", "<", 64)])
    assert len(one.inputFiles()) == 2 and len(both.inputFiles()) == 1
    assert both.count() == snapshot_read(spark, q).filter("a < 64 AND b < 64").count()


def test_stats_pruning_is_conservative_without_stats(spark, tmp_path):
    """Files from commits WITHOUT stats (or columns never covered)
    are kept and filtered in-plan — pruning can never change results,
    appends merge parent stats, and a mistyped probe value degrades
    to keep-everything rather than wrong answers."""
    t = str(tmp_path / "tbl")
    lo = spark.range(0, 100).select(F.col("id")).coalesce(1)
    hi = spark.range(100, 200).select(F.col("id")).coalesce(1)
    snapshot_commit(lo, t, mode="overwrite")                      # no stats
    snapshot_commit(hi, t, mode="append", stats_cols=["id"])      # stats

    pr = snapshot_read(spark, t, where=("id", "<", 50))
    # the stats-covered hi file is provably empty for id<50 and is
    # pruned; the stat-less lo file must survive
    assert len(pr.inputFiles()) == 1
    assert sorted(r.id for r in pr.collect()) == list(range(0, 50))

    # uncovered column: no pruning, plain filter correctness
    both = snapshot_read(spark, t, where=("id", ">=", 150))
    assert sorted(r.id for r in both.collect()) == list(range(150, 200))

    # domain-mismatched probe value: conservative keep + Spark's own
    # cast semantics decide the filter
    odd = snapshot_read(spark, t, where=("id", ">=", "150"))
    assert sorted(int(r.id) for r in odd.collect()) == list(range(150, 200))


def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write MERGE (round-9): rows replace by key, inserts
    land, and — the contract worth the name — files whose key range
    the stats prove untouched carry over BY RELPATH, never rewritten;
    the exact membership probe also spares a stats-candidate file
    whose rows don't actually hit a source key."""

    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    base = (
        spark.range(0, 800)
        .select(F.col("id"), (F.col("id") % 5).cast("string").alias("v"))
        .repartitionByRange(8, "id")  # disjoint id ranges per file
    )
    snapshot_commit(base, t, mode="overwrite", stats_cols=["id"])
    m0 = json.load(open(f"{t}/_manifests/v00000000.json"))
    assert len(m0["files"]) == 8

    # updates hit ids 700..749 (one range file) + insert 900..909
    src = spark.range(700, 750).union(spark.range(900, 910)).select(
        F.col("id"), F.lit("NEW").alias("v")
    )
    v1 = snapshot_merge(src, t, key="id", stats_cols=["id"])
    m1 = json.load(open(f"{t}/_manifests/v{v1:08d}.json"))

    carried = set(m0["files"]) & set(m1["files"])
    rewritten = set(m0["files"]) - set(m1["files"])
    assert len(rewritten) == 1, rewritten  # only the 700-799 range file
    assert len(carried) == 7
    # carried files keep their stats entries
    for f in carried:
        assert m1["stats"][f] == m0["stats"][f]

    got = {r.id: r.v for r in snapshot_read(spark, t, v1).collect()}
    want = {i: str(i % 5) for i in range(0, 800)}
    want.update({i: "NEW" for i in range(700, 750)})
    want.update({i: "NEW" for i in range(900, 910)})
    assert got == want
    # v0 still time-travels to the pre-merge state
    assert {r.id: r.v for r in snapshot_read(spark, t, 0).collect()} == {
        i: str(i % 5) for i in range(0, 800)
    }


def test_merge_exact_probe_spares_range_straddlers(spark, tmp_path):
    """A file whose [min,max] straddles the source keys but contains
    NONE of them must survive unrewritten — the exact key probe, not
    just the stats range, decides the rewrite set."""

    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    evens = spark.range(0, 100).select((F.col("id") * 2).alias("id")).coalesce(1)
    snapshot_commit(evens, t, mode="overwrite", stats_cols=["id"])
    m0 = json.load(open(f"{t}/_manifests/v00000000.json"))

    odds = spark.range(0, 10).select((F.col("id") * 2 + 1).alias("id"))
    v1 = snapshot_merge(odds, t, key="id", stats_cols=["id"])
    m1 = json.load(open(f"{t}/_manifests/v{v1:08d}.json"))
    # the evens file range [0,198] straddles the odd keys but holds
    # none: carried over, only the insert file is new
    assert set(m0["files"]) <= set(m1["files"])
    assert sorted(r.id for r in snapshot_read(spark, t, v1).collect()) == sorted(
        list(range(0, 200, 2)) + list(range(1, 20, 2))
    )


def test_merge_matches_full_recompute_property(spark, tmp_path):
    """MERGE == the relational spelling (target anti-join source keys,
    union source), across a few deterministic shapes incl. duplicate
    target keys (all replaced) and a full-overlap source."""
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    tgt = spark.createDataFrame(
        [(i % 40, f"t{i}") for i in range(80)], "id bigint, v string"
    ).repartition(4)
    snapshot_commit(tgt, t, mode="overwrite", stats_cols=["id"])
    src = spark.createDataFrame(
        [(i, f"s{i}") for i in range(20, 60)], "id bigint, v string"
    )
    v1 = snapshot_merge(src, t, key="id", stats_cols=["id"])
    got = sorted(map(tuple, snapshot_read(spark, t, v1).collect()))
    want = sorted(
        map(
            tuple,
            tgt.join(src.select("id"), "id", "left_anti").unionByName(src).collect(),
        )
    )
    assert got == want


def test_prune_equals_full_filter_property(spark, tmp_path):
    """Hypothesis-style sweep (deterministic grid — the operators are
    deterministic, so a grid beats sampling): for every op and a
    spread of probe values, the stats-pruned read returns EXACTLY the
    rows of the full-scan filter — on ranged files, hash-mixed files,
    values off both ends, and between-file gaps."""
    t = str(tmp_path / "tbl")
    ranged = (
        spark.range(0, 500)
        .select("id", (F.col("id") * 7 % 100).alias("w"))
        .repartitionByRange(5, "id")
    )
    snapshot_commit(ranged, t, mode="overwrite", stats_cols=["id", "w"])
    # hash-mixed append: every file spans ~the full range (stats wide)
    snapshot_commit(
        spark.range(500, 700).select("id", (F.col("id") * 7 % 100).alias("w")),
        t,
        mode="append",
        stats_cols=["id"],  # note: no 'w' stats on this commit
    )
    full = snapshot_read(spark, t)
    for col in ("id", "w"):
        for op in ("=", ">=", ">", "<=", "<"):
            for val in (-5, 0, 123, 499, 500, 699, 10_000):
                pr = snapshot_read(spark, t, where=(col, op, val))
                ops = {"=": "==", ">=": ">=", ">": ">", "<=": "<=", "<": "<"}
                want = sorted(
                    map(tuple, full.filter(f"{col} {ops[op]} {val}").collect())
                )
                got = sorted(map(tuple, pr.collect()))
                assert got == want, (col, op, val, len(got), len(want))


def test_non_primitive_stats_record_none_not_strings(spark, tmp_path):
    """Round-9 review regression: stats over a DECIMAL column must
    record as unusable (None) rather than stringified bounds — a
    lexical '50.00' < '9.50' comparison pruned files whose rows the
    numeric in-plan filter matches."""

    t = str(tmp_path / "tbl")
    df = spark.range(0, 100).select(
        "id", (F.col("id").cast("decimal(10,2)")).alias("amt")
    ).coalesce(1)
    snapshot_commit(df, t, mode="overwrite", stats_cols=["amt"])
    m = json.load(open(f"{t}/_manifests/v00000000.json"))
    (only_file,) = m["files"]
    assert m["stats"][only_file]["amt"] == [None, None]
    # conservative keep + correct in-plan filter
    got = sorted(
        int(r.id) for r in snapshot_read(spark, t, where=("amt", ">=", "50.00")).collect()
    )
    assert got == list(range(50, 100))


# ---------------------------------------------------------------------------
# round 10: merge-on-read positional deletion vectors


def _dv_of(t, version):

    return json.load(open(f"{t}/_manifests/v{version:08d}.json")).get("dv")


def test_delete_is_merge_on_read_and_time_travels(spark, tmp_path):
    """snapshot_delete must remove rows WITHOUT rewriting data files
    (the manifest's file list is unchanged — the whole point of the
    DV shape), older versions must still see the rows, and the op
    must be audit-visible."""

    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_delete

    t = str(tmp_path / "tbl")
    df = spark.range(100).selectExpr("id", "CAST(id % 7 AS STRING) AS v")
    v0 = snapshot_commit(df, t, mode="overwrite", stats_cols=["id"])
    m0 = json.load(open(f"{t}/_manifests/v{v0:08d}.json"))

    v1 = snapshot_delete(spark, t, where=("id", "<", 10))
    m1 = json.load(open(f"{t}/_manifests/v{v1:08d}.json"))
    assert m1["files"] == m0["files"], "a DV delete must not rewrite data files"
    assert m1["op"] == "delete"
    assert sum(m1["dv"]["files"].values()) == 10

    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == list(range(10, 100))
    # time travel: the pre-delete version still has every row
    assert snapshot_read(spark, t, v0).count() == 100
    # pruned read composes with the DV
    pr = sorted(
        r.id for r in snapshot_read(spark, t, where=("id", "<", 20)).collect()
    )
    assert pr == list(range(10, 20))


def test_delete_accumulates_and_is_idempotent(spark, tmp_path):
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(50).selectExpr("id", "'x' AS v"), t, mode="overwrite",
        stats_cols=["id"],
    )
    snapshot_delete(spark, t, where=("id", "<", 5))
    v2 = snapshot_delete(spark, t, where=("id", ">=", 45))
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(5, 45))
    assert sum(_dv_of(t, v2)["files"].values()) == 10
    # re-deleting already-deleted rows changes nothing (union-distinct)
    v3 = snapshot_delete(spark, t, where=("id", "<", 5))
    assert sum(_dv_of(t, v3)["files"].values()) == 10
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(5, 45))
    assert _dv_of(t, v3)["files"] == _dv_of(t, v2)["files"]
    # a delete whose probe the stats prune to ZERO candidates still
    # commits, carrying the parent's DV entry verbatim (no DV rewrite)
    v4 = snapshot_delete(spark, t, where=("id", "=", 1000))
    assert _dv_of(t, v4) == _dv_of(t, v3)


def test_append_after_delete_carries_dv(spark, tmp_path):
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_delete

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(20).selectExpr("id", "'a' AS v"), t, mode="overwrite",
        stats_cols=["id"],
    )
    snapshot_delete(spark, t, where=("id", "<", 10))
    snapshot_commit(
        spark.range(100, 105).selectExpr("id", "'b' AS v"), t, mode="append",
        stats_cols=["id"],
    )
    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == list(range(10, 20)) + list(range(100, 105)), (
        "append must carry the parent's deletion vector"
    )


def test_merge_materializes_deletes_and_drops_coverage(spark, tmp_path):
    """A merge that rewrites a DV-covered file must apply the DV
    (deleted rows cannot resurrect through the rewrite) and drop that
    file's coverage; untouched coverage carries."""
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_delete,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    # two files via repartitionByRange on id: [0..49], [50..99]
    df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS v")
    snapshot_commit(
        df.repartitionByRange(2, "id"), t, mode="overwrite", stats_cols=["id"]
    )
    snapshot_delete(spark, t, where=("id", "<", 5))       # masks file A rows
    snapshot_delete(spark, t, where=("id", ">=", 95))     # masks file B rows
    # merge touches only file A's range (keys 10..12); file B carries
    src = spark.createDataFrame(
        [(i, f"new{i}") for i in (10, 11, 12)], "id bigint, v string"
    )
    vm = snapshot_merge(src, t, key="id", stats_cols=["id"])
    got = {(r.id, r.v) for r in snapshot_read(spark, t, vm).collect()}
    want = {(i, f"new{i}") for i in (10, 11, 12)} | {
        (i, str(i)) for i in range(5, 95) if i not in (10, 11, 12)
    }
    assert got == want
    dv = _dv_of(t, vm)
    assert dv is not None and sum(dv["files"].values()) == 5, (
        "file B's coverage must carry; file A's must be dropped (materialized)"
    )


def test_merge_on_deleted_key_inserts_not_resurrects(spark, tmp_path):
    """A source key whose only target rows are DV-deleted: the merge
    inserts the source row; the deleted payload must not come back."""
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_delete,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(10).selectExpr("id", "concat('old', id) AS v"), t,
        mode="overwrite", stats_cols=["id"],
    )
    snapshot_delete(spark, t, where=("id", "=", 3))
    vm = snapshot_merge(
        spark.createDataFrame([(3, "fresh")], "id bigint, v string"), t,
        key="id", stats_cols=["id"],
    )
    got = {(r.id, r.v) for r in snapshot_read(spark, t, vm).collect()}
    assert (3, "fresh") in got and (3, "old3") not in got
    assert len(got) == 10


# ---------------------------------------------------------------------------
# round 10: manifest sharding (Iceberg manifest-list shape)


@pytest.fixture()
def small_shards(monkeypatch):
    from etfconstituentextractor_spark.sources import snapshot_table as st

    monkeypatch.setattr(st, "_SHARD_FILES", 2)
    return st


def _root(t, version):

    return json.load(open(f"{t}/_manifests/v{version:08d}.json"))


def test_sharded_commit_roundtrip_and_append_shares_shards(
    spark, tmp_path, small_shards
):
    """Past the threshold the manifest stores shard refs, reads
    resolve them transparently, and an APPEND's metadata cost is
    O(new files): the parent's shard files are referenced by name,
    never rewritten."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(100).selectExpr("id", "'a' AS v").repartition(4), t,
        mode="overwrite", stats_cols=["id"],
    )
    m0 = _root(t, 0)
    assert "files" not in m0 and len(m0["shards"]) == 2 and m0["n_files"] == 4
    assert snapshot_read(spark, t).count() == 100

    snapshot_commit(
        spark.range(100, 150).selectExpr("id", "'b' AS v").repartition(3), t,
        mode="append", stats_cols=["id"],
    )
    m1 = _root(t, 1)
    parent_shards = {s["path"] for s in m0["shards"]}
    child_shards = {s["path"] for s in m1["shards"]}
    assert parent_shards <= child_shards, "append must share parent shards by ref"
    assert m1["n_files"] == 7
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(150))
    # time travel still resolves the old root's shards
    assert snapshot_read(spark, t, 0).count() == 100

    # a DV delete must not touch the inventory: same shard refs verbatim
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_delete

    v2 = snapshot_delete(spark, t, where=("id", "<", 10))
    assert [s["path"] for s in _root(t, v2)["shards"]] == [s["path"] for s in m1["shards"]]
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(10, 150))


def test_sharded_pruned_read_skips_loading_shards(spark, tmp_path, small_shards):
    """A pruned read must skip whole shards by the root's bounds
    BEFORE loading them — count actual shard loads via a wrapper."""
    t = str(tmp_path / "tbl")
    # three appends with disjoint id ranges -> per-range shards with
    # disjoint bounds
    snapshot_commit(
        spark.range(100).selectExpr("id", "'x' AS v").repartition(2), t,
        mode="overwrite", stats_cols=["id"],
    )
    for lo in (100, 200):
        snapshot_commit(
            spark.range(lo, lo + 100).selectExpr("id", "'x' AS v").repartition(2),
            t, mode="append", stats_cols=["id"],
        )
    m = _root(t, 2)
    assert len(m["shards"]) == 3

    st = small_shards
    loads = []
    orig = st._load_shard

    def counting(fs, jvm, table, name):
        loads.append(name)
        return orig(fs, jvm, table, name)

    st._load_shard = counting
    try:
        pr = snapshot_read(spark, t, where=("id", ">=", 250))
        n_loaded_pruned = len(loads)
        got = sorted(r.id for r in pr.collect())
    finally:
        st._load_shard = orig
    assert got == list(range(250, 300))
    assert n_loaded_pruned == 1, f"bounds should skip 2 of 3 shards, loaded {loads}"


def test_sharded_merge_rewrites_only_touched_shards(spark, tmp_path, small_shards):
    """Merge must share range-disjoint shards by ref WITHOUT loading
    them, rewrite only shards that lose files, and stay value-correct."""
    t = str(tmp_path / "tbl")
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    snapshot_commit(
        spark.range(100).selectExpr("id", "CAST(id AS STRING) AS v").repartition(2),
        t, mode="overwrite", stats_cols=["id"],
    )
    for lo in (100, 200):
        snapshot_commit(
            spark.range(lo, lo + 100).selectExpr("id", "CAST(id AS STRING) AS v").repartition(2),
            t, mode="append", stats_cols=["id"],
        )
    m2 = _root(t, 2)
    st = small_shards
    loads = []
    orig = st._load_shard

    def counting(fs, jvm, table, name):
        loads.append(name)
        return orig(fs, jvm, table, name)

    st._load_shard = counting
    try:
        src = spark.createDataFrame(
            [(250, "new250"), (260, "new260"), (999, "fresh")], "id bigint, v string"
        )
        vm = snapshot_merge(src, t, key="id", stats_cols=["id"])
    finally:
        st._load_shard = orig
    # only the 200-299 shard was in the source's key range
    assert len(set(loads)) == 1, f"range-disjoint shards must not load: {loads}"
    m3 = _root(t, vm)
    kept = {s["path"] for s in m2["shards"]} & {s["path"] for s in m3["shards"]}
    assert len(kept) == 2, "the two untouched shards must carry by ref"
    got = {(r.id, r.v) for r in snapshot_read(spark, t, vm).collect()}
    assert (250, "new250") in got and (260, "new260") in got and (999, "fresh") in got
    assert (250, "250") not in got
    assert len(got) == 301


# ---------------------------------------------------------------------------
# round 10: exactly-once streaming ingest (txn watermarks)


def test_stream_ingest_handler_is_idempotent_per_batch(spark, tmp_path):
    """foreachBatch redelivery (same batch_id) must no-op: the dedup
    token lives in the table's own committed metadata, and it must
    survive interleaved commits of every other op type."""
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_delete,
        snapshot_merge,
        snapshot_stream_ingest,
    )

    t = str(tmp_path / "tbl")
    h = snapshot_stream_ingest(t, "writerA", stats_cols=["id"])
    b0 = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "id bigint, v string")
    b1 = spark.createDataFrame([(i, f"v{i}") for i in range(5, 10)], "id bigint, v string")
    h(b0, 0)
    h(b1, 1)
    assert _watermark(t, "writerA") == 1
    # redeliver both (crash-restart replays the tail; a lost
    # checkpoint replays everything)
    h(b1, 1)
    h(b0, 0)
    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == list(range(10)), "redelivered batches must not duplicate"

    # the watermark survives a merge, a delete, and an overwrite
    snapshot_merge(
        spark.createDataFrame([(3, "upd")], "id bigint, v string"), t, key="id"
    )
    snapshot_delete(spark, t, where=("id", "=", 7))
    snapshot_commit(
        spark.createDataFrame([(100, "ow")], "id bigint, v string"), t, mode="overwrite"
    )
    assert _watermark(t, "writerA") == 1
    h(b0, 0)  # still a replay: must skip
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [100]
    # a genuinely NEW batch commits
    h(spark.createDataFrame([(200, "nb")], "id bigint, v string"), 2)
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [100, 200]
    # independent writers keep independent watermarks
    h2 = snapshot_stream_ingest(t, "writerB")
    h2(spark.createDataFrame([(300, "wb")], "id bigint, v string"), 0)
    assert _watermark(t, "writerB") == 0
    assert _watermark(t, "writerA") == 2


def test_stream_ingest_retries_through_commit_race(spark, tmp_path, monkeypatch):
    """A ConcurrentCommitError mid-batch must re-check the watermark
    and retry, not fail the stream or double-commit."""
    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.createDataFrame([(0, "seed")], "id bigint, v string"), t
    )
    real = st.snapshot_commit
    state = {"raised": False, "calls": 0}

    def flaky(df, path, **kw):
        state["calls"] += 1
        if not state["raised"]:
            state["raised"] = True
            # the racer: another writer takes the version we wanted
            real(
                df.sparkSession.createDataFrame([(99, "racer")], "id bigint, v string"),
                path,
                mode="append",
            )
            raise st.ConcurrentCommitError("lost the claim")
        return real(df, path, **kw)

    monkeypatch.setattr(st, "snapshot_commit", flaky)
    h = st.snapshot_stream_ingest(t, "w")
    h(spark.createDataFrame([(1, "batch")], "id bigint, v string"), 0)
    assert state["calls"] == 2
    got = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got == [0, 1, 99]
    assert _watermark(t, "w") == 0


def test_stream_ingest_real_stream_survives_checkpoint_loss(spark, tmp_path):
    """Drain a real file stream through the handler, let more files
    arrive and drain again from the kept checkpoint; then DELETE the
    checkpoint and drain the same source again under the same
    writer_id — full redelivery from batch 0 must leave the table
    byte-identical. This is the exactly-once claim BEYOND Spark's
    own checkpoint guarantee."""
    import glob
    import shutil

    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_stream_ingest,
    )

    src = str(tmp_path / "src")
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def stage(i):
        spark.range(i * 10, i * 10 + 10).selectExpr(
            "id", "CAST(id AS STRING) AS v"
        ).coalesce(1).write.parquet(f"{src}/part{i}")
        (p,) = glob.glob(f"{src}/part{i}/part-*.parquet")
        dst = f"{src}/chunk_{i}.parquet"
        shutil.move(p, dst)
        os.utime(dst, (1_600_000_000 + 10 * i,) * 2)

    def drain():
        q = (
            spark.readStream.schema("id bigint, v string")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(snapshot_stream_ingest(t, "ing", stats_cols=["id"]))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i in range(2):
        stage(i)
    drain()
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(20))
    stage(2)  # a later arrival: the kept checkpoint resumes past it
    drain()
    got1 = sorted(r.id for r in snapshot_read(spark, t).collect())
    assert got1 == list(range(30))
    n_versions = len(_manifests(t))

    shutil.rmtree(ckpt)  # lose the checkpoint: full redelivery
    drain()
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == got1
    assert len(_manifests(t)) == n_versions, (
        "redelivered batches must not create new versions"
    )


# ---------------------------------------------------------------------------
# round 10: model-based lifecycle property test


def test_lifecycle_matches_python_model(spark, tmp_path):
    """Model-based check over the WHOLE lifecycle: a seeded random
    sequence of append/overwrite/merge/delete/ingest/restore ops runs
    against both the real table and a pure-Python {id: v} model; after
    every op the latest snapshot must equal the model exactly. This is
    the test shape that catches cross-feature interactions no
    single-feature test enumerates (DV x merge, merge x shards,
    txn x overwrite, ...). Sharding is forced small so shard code
    paths run."""
    import random

    from etfconstituentextractor_spark.sources import snapshot_table as st

    rng = random.Random(1009)
    old_shard = st._SHARD_FILES
    st._SHARD_FILES = 3
    t = str(tmp_path / "tbl")
    model: dict[int, str] = {}
    ingest_seq = 0

    def frame(rows):
        return spark.createDataFrame(rows, "id bigint, v string")

    def check(tag):
        got = {(r.id, r.v) for r in st.snapshot_read(spark, t).collect()}
        assert got == set(model.items()), (
            f"after {tag}: table != model "
            f"(extra={got - set(model.items())}, missing={set(model.items()) - got})"
        )

    try:
        seed_rows = [(i, f"v{i}") for i in range(20)]
        st.snapshot_commit(frame(seed_rows).repartition(3), t, mode="overwrite",
                           stats_cols=["id"])
        model.update(dict(seed_rows))
        check("seed")
        # per-version model snapshots so a random RESTORE can assert
        # the rolled-back state exactly (round-11 op)
        history: dict[int, dict[int, str]] = {0: dict(model)}

        next_id = 1000
        for step in range(18):
            op = rng.choice(
                ["append", "merge", "delete", "ingest", "overwrite", "restore"]
            )
            if op == "append":
                rows = [(next_id + i, f"a{step}_{i}") for i in range(rng.randint(1, 6))]
                next_id += 10
                st.snapshot_commit(frame(rows).repartition(2), t, mode="append",
                                   stats_cols=["id"])
                model.update(dict(rows))
            elif op == "overwrite" and step % 7 == 3:  # rare, resets history
                rows = [(next_id + i, f"o{step}_{i}") for i in range(5)]
                next_id += 10
                st.snapshot_commit(frame(rows).repartition(2), t, mode="overwrite",
                                   stats_cols=["id"])
                model.clear()
                model.update(dict(rows))
            elif op == "merge" and model:
                upd = rng.sample(sorted(model), min(3, len(model)))
                rows = [(k, f"m{step}_{k}") for k in upd] + [
                    (next_id, f"mi{step}")
                ]
                next_id += 10
                st.snapshot_merge(frame(rows), t, key="id", stats_cols=["id"])
                model.update(dict(rows))
            elif op == "delete" and model:
                ks = sorted(model)
                cut = ks[rng.randrange(len(ks))]
                side = rng.choice(["<", ">=", "="])
                st.snapshot_delete(spark, t, where=("id", side, cut))
                for k in ks:
                    if (side == "<" and k < cut) or (side == ">=" and k >= cut) or (
                        side == "=" and k == cut
                    ):
                        del model[k]
                if not model:
                    # an all-rows delete leaves an empty readable table;
                    # re-seed so later ops have something to chew on
                    rows = [(next_id + i, f"r{step}_{i}") for i in range(4)]
                    next_id += 10
                    st.snapshot_commit(frame(rows), t, mode="append", stats_cols=["id"])
                    model.update(dict(rows))
            elif op == "ingest":
                rows = [(next_id + i, f"s{step}_{i}") for i in range(3)]
                next_id += 10
                h = st.snapshot_stream_ingest(t, "model-writer", stats_cols=["id"])
                h(frame(rows), ingest_seq)
                h(frame(rows), ingest_seq)  # immediate redelivery
                ingest_seq += 1
                model.update(dict(rows))
            elif op == "restore":
                targets = [mv["version"] for mv in _manifests(t) if mv["version"] in history]
                tgt = rng.choice(targets)
                st.snapshot_restore(spark, t, tgt)
                model.clear()
                model.update(history[tgt])
            latest = _manifests(t)[-1]["version"]
            history[latest] = dict(model)
            check(f"step {step} ({op})")
        # pruned reads agree with the model on a random probe
        if model:
            cut = rng.choice(sorted(model))
            got = {
                (r.id, r.v)
                for r in st.snapshot_read(spark, t, where=("id", ">=", cut)).collect()
            }
            assert got == {(k, v) for k, v in model.items() if k >= cut}
            # point probes agree too — present keys AND an absent one
            for pk in rng.sample(sorted(model), min(3, len(model))):
                pg = {(r.id, r.v)
                      for r in st.snapshot_read(spark, t, where=("id", "=", pk)).collect()}
                assert pg == {(pk, model[pk])}, pk
            assert st.snapshot_read(spark, t, where=("id", "=", 999_999)).count() == 0
        # the incremental change feed between the last two versions
        # equals the full-read diff on this random history
        from etfconstituentextractor_spark.operators.snapshot_diff import (
            snapshot_diff,
        )

        vs = [mv["version"] for mv in _manifests(t)]
        if len(vs) >= 2:
            a, b = vs[-2], vs[-1]
            fast = {
                (r.id, r.change)
                for r in st.snapshot_changes(spark, t, a, b, keys=["id"]).collect()
            }
            slow = {
                (r.id, r.change)
                for r in snapshot_diff(
                    st.snapshot_read(spark, t, a),
                    st.snapshot_read(spark, t, b),
                    keys=["id"],
                ).collect()
            }
            assert fast == slow, (a, b, fast ^ slow)
    finally:
        st._SHARD_FILES = old_shard


# ---------------------------------------------------------------------------
# round 10 review-wave regressions


def test_delete_after_partial_dv_materialization(spark, tmp_path):
    """Review repro: delete in file A, delete in file B, merge
    rewriting only A (B's coverage carries with a DV dir that still
    HOLDS A's stale positions), then delete again. The stale keys
    must be filtered out, not crash the key validation."""
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_delete,
        snapshot_merge,
    )

    t = str(tmp_path / "tbl")
    df = spark.range(100).selectExpr("id", "CAST(id AS STRING) AS v")
    snapshot_commit(df.repartitionByRange(2, "id"), t, mode="overwrite", stats_cols=["id"])
    snapshot_delete(spark, t, where=("id", "<", 5))       # file A
    snapshot_delete(spark, t, where=("id", ">=", 95))     # file B
    snapshot_merge(
        spark.createDataFrame([(10, "upd")], "id bigint, v string"), t,
        key="id", stats_cols=["id"],
    )
    v = snapshot_delete(spark, t, where=("id", "=", 60))  # crashed pre-fix
    got = sorted(r.id for r in snapshot_read(spark, t, v).collect())
    assert got == [i for i in range(5, 95) if i != 60]
    # and the rewritten-file rows (incl. the merge's update) are intact
    assert {r.v for r in snapshot_read(spark, t, v).filter("id = 10").collect()} == {"upd"}


def test_commit_level_txn_guard_blocks_zombie_writer(spark, tmp_path):
    """Review finding: the watermark check must live INSIDE
    snapshot_commit — a zombie writer's commit lands under a
    different version, so the atomic claim alone never collides. A
    direct commit with seq <= the recorded watermark must no-op."""
    t = str(tmp_path / "tbl")
    b = spark.createDataFrame([(1, "x")], "id bigint, v string")
    snapshot_commit(b, t, mode="append", txn=("w", 5))
    n0 = len(_manifests(t))
    # the zombie: same writer, same (or older) seq, no prior check
    got = snapshot_commit(
        spark.createDataFrame([(2, "dup")], "id bigint, v string"), t,
        mode="append", txn=("w", 5),
    )
    assert got == n0 - 1  # the existing version, not a new one
    assert len(_manifests(t)) == n0
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [1]
    assert _watermark(t, "w") == 5
    # a NEWER seq commits normally
    snapshot_commit(
        spark.createDataFrame([(3, "next")], "id bigint, v string"), t,
        mode="append", txn=("w", 6),
    )
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [1, 3]


def test_dv_key_rightmost_segment_for_nested_table_paths(spark, tmp_path):
    """Review finding: a table living UNDER a path that itself
    contains a data/vN-hex8 segment must key DVs on its OWN segment
    (leftmost-match silently broke merge's probe there)."""
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_delete,
        snapshot_merge,
    )

    t = str(tmp_path / "data" / "v00000001-abcdef12" / "tbl")
    df = spark.range(20).selectExpr("id", "CAST(id AS STRING) AS v")
    snapshot_commit(df, t, mode="overwrite", stats_cols=["id"])
    v1 = snapshot_delete(spark, t, where=("id", "<", 5))
    assert sorted(r.id for r in snapshot_read(spark, t, v1).collect()) == list(range(5, 20))
    # merge's probe must find the touched file (it matched nothing
    # pre-fix, leaving BOTH rows for the key)
    vm = snapshot_merge(
        spark.createDataFrame([(10, "upd")], "id bigint, v string"), t,
        key="id", stats_cols=["id"],
    )
    rows = snapshot_read(spark, t, vm).filter("id = 10").collect()
    assert [(r.id, r.v) for r in rows] == [(10, "upd")]


def test_streaming_appends_keep_shard_count_bounded(spark, tmp_path, monkeypatch):
    """Review finding: one tiny append per micro-batch must not grow
    the root to O(#batches) one-file shard refs — under-half-full
    shards consolidate once they pile past the merge threshold."""
    from etfconstituentextractor_spark.sources import snapshot_table as st

    monkeypatch.setattr(st, "_SHARD_FILES", 4)
    monkeypatch.setattr(st, "_SHARD_MERGE_MIN", 2)
    t = str(tmp_path / "tbl")
    n_batches = 12
    for b in range(n_batches):
        snapshot_commit(
            spark.createDataFrame([(b, f"v{b}")], "id bigint, v string").coalesce(1),
            t, mode="append", stats_cols=["id"], txn=("w", b),
        )
    m = _root(t, n_batches - 1)
    assert m["n_files"] == n_batches
    # bound: ceil(12/4) full + at most (_SHARD_MERGE_MIN + 1) small
    assert len(m["shards"]) <= 3 + 3, m["shards"]
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == list(range(n_batches))
    # earlier versions still resolve (their shards were never deleted)
    assert snapshot_read(spark, t, 5).count() == 6


# ---------------------------------------------------------------------------
# round 10: incremental change data feed


def test_snapshot_changes_equals_full_read_diff_and_scans_less(spark, tmp_path):
    """snapshot_changes must equal snapshot_diff over FULL reads for
    every version pair of a history exercising append, DV delete and
    merge — while scanning only changed files (pinned by
    comparing a one-delta step's planned files against the table)."""
    from etfconstituentextractor_spark.operators.snapshot_diff import snapshot_diff
    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    df = spark.range(200).selectExpr("id", "CAST(id AS STRING) AS v")
    st.snapshot_commit(df.repartitionByRange(4, "id"), t, mode="overwrite",
                       stats_cols=["id"])                                   # v0
    st.snapshot_commit(
        spark.range(200, 240).selectExpr("id", "CAST(id AS STRING) AS v"), t,
        mode="append", stats_cols=["id"],
    )                                                                        # v1
    st.snapshot_delete(spark, t, where=("id", "<", 10))                      # v2
    st.snapshot_merge(
        spark.createDataFrame(
            [(50, "UPD"), (999, "NEW")], "id bigint, v string"
        ),
        t, key="id", stats_cols=["id"],
    )                                                                        # v3
    st.snapshot_delete(spark, t, where=("id", ">=", 230))                    # v4
    st.snapshot_merge(  # re-upserts an unchanged row: rewrites its file
        spark.createDataFrame([(50, "UPD")], "id bigint, v string"),
        t, key="id", stats_cols=["id"],
    )                                                                        # v5

    def norm(cdf):
        return {
            (r.id, r.change)
            for r in cdf.select("id", "change").collect()
        }

    for a in range(6):
        for b in range(a + 1, 6):
            fast = norm(st.snapshot_changes(spark, t, a, b, keys=["id"]))
            slow = norm(
                snapshot_diff(
                    st.snapshot_read(spark, t, a),
                    st.snapshot_read(spark, t, b),
                    keys=["id"],
                )
            )
            assert fast == slow, (a, b, fast ^ slow)

    # rewrite-only step: pure file churn, zero logical change
    assert st.snapshot_changes(spark, t, 4, 5, keys=["id"]).inputFiles()
    assert norm(st.snapshot_changes(spark, t, 4, 5, keys=["id"])) == set()
    # scan-boundedness: the v1->v2 feed (one DV delete over the low
    # range) plans fewer files than the table holds
    feed = st.snapshot_changes(spark, t, 1, 2, keys=["id"])
    table_files = len(st.snapshot_read(spark, t, 2).inputFiles())
    assert 0 < len(feed.inputFiles()) < table_files
    assert norm(feed) == {(i, "deleted") for i in range(10)}


def test_committed_at_is_monotonic_under_clock_skew(spark, tmp_path, monkeypatch):
    """Max-review finding: a stepped-back clock must never stamp a
    child before its parent, or a timestamp lookup over the manifests
    would resolve to a snapshot containing LATER data."""
    import time as _time

    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    st.snapshot_commit(spark.createDataFrame([(1, "a")], "id bigint, v string"), t)
    at0 = _manifest(t, 0)["committed_at"]
    real_time = _time.time
    monkeypatch.setattr(_time, "time", lambda: at0 - 3600.0)  # clock steps back
    try:
        st.snapshot_commit(
            spark.createDataFrame([(2, "b")], "id bigint, v string"), t, mode="append"
        )
    finally:
        monkeypatch.setattr(_time, "time", real_time)
    ats = [m["committed_at"] for m in _manifests(t)]
    assert ats[1] > ats[0], ats


def test_fully_pruned_read_on_sharded_table_loads_no_extra_shards(
    spark, tmp_path, small_shards
):
    """Max-review finding: a bounds-provably-empty probe skipped every
    shard then re-resolved ALL of them for the schema-only fallback;
    it must load at most one."""
    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.range(100).selectExpr("id", "'x' AS v").repartition(6), t,
        mode="overwrite", stats_cols=["id"],
    )
    st = small_shards
    loads = []
    orig = st._load_shard

    def counting(fs, jvm, table, name):
        loads.append(name)
        return orig(fs, jvm, table, name)

    st._load_shard = counting
    try:
        pr = snapshot_read(spark, t, where=("id", ">=", 10_000))
        n_loads = len(loads)
        assert pr.count() == 0
        assert set(pr.columns) == {"id", "v"}
    finally:
        st._load_shard = orig
    assert n_loads <= 1, loads


def test_failed_delete_validation_reclaims_dv_dir(spark, tmp_path, monkeypatch):
    """Max-review finding: a delete whose key validation raises left
    its just-written DV dir as an orphan no manifest references; it
    must be deleted on the way out."""

    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    st.snapshot_commit(
        spark.range(20).selectExpr("id", "'x' AS v"), t, mode="overwrite",
        stats_cols=["id"],
    )
    dirs_before = set(os.listdir(f"{t}/data"))
    # force the validation to fail: derived keys won't match anything
    monkeypatch.setattr(st, "_DV_KEY_RE", r"^.*/(dataXX/v[0-9]{8}-[0-9a-f]{8}/.+)$")
    with pytest.raises(Exception):
        st.snapshot_delete(spark, t, where=("id", "<", 5))
    assert set(os.listdir(f"{t}/data")) == dirs_before, "orphan DV dir leaked"
    # table still healthy
    assert st.snapshot_read(spark, t).count() == 20


# ---------------------------------------------------------------------------
# round 11: restore, and the round-10 advice fixes (empty-source merge)


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    """snapshot_restore(version) is the Iceberg rollback: a NEW commit
    whose inventory references the target's files verbatim — latest
    reads like the target, history (including the rolled-back commits)
    stays time-travelable, nothing is rewritten."""
    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    st.snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, stats_cols=["id"])
    st.snapshot_commit(_df(spark, [(3, "c")]), t, mode="append", stats_cols=["id"])
    st.snapshot_commit(_df(spark, [(9, "z")]), t, mode="overwrite")

    v3 = st.snapshot_restore(spark, t, 1)
    assert v3 == 3
    ids = lambda v=None: sorted(r.id for r in st.snapshot_read(spark, t, v).collect())
    assert ids() == [1, 2, 3]  # latest == v1's state
    assert ids(2) == [9]  # the rolled-back commit is still readable
    meta = _manifests(t)
    assert meta[-1]["op"] == "restore"
    # restore cost zero data movement: v3 plans exactly v1's files
    assert set(st.snapshot_read(spark, t, 3).inputFiles()) == set(
        st.snapshot_read(spark, t, 1).inputFiles()
    )
    # carried stats still prune on the restored version
    pruned = st.snapshot_read(spark, t, where=("id", "=", 3))
    assert sorted(r.id for r in pruned.collect()) == [3]
    # restoring the CURRENT version is a no-op (no new commit)
    assert st.snapshot_restore(spark, t, 3) == 3
    assert len(_manifests(t)) == 4
    # a never-committed target raises
    with pytest.raises(FileNotFoundError):
        st.snapshot_restore(spark, t, 7)


def test_restore_carries_dv_and_txn_watermark(spark, tmp_path):
    """Restoring to a DV-masked version keeps rows masked; restoring to
    a pre-delete version resurrects them (time travel semantics); the
    exactly-once ingest watermark carries from the LATEST version so a
    restore never makes an idempotent writer re-append old batches."""
    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    st.snapshot_commit(_df(spark, [(i, f"v{i}") for i in range(6)]), t,
                       stats_cols=["id"], txn=("w1", 5))
    st.snapshot_delete(spark, t, where=("id", "<", 2))  # v1: DV masks 0,1
    st.snapshot_commit(_df(spark, [(10, "x")]), t, mode="append")  # v2

    v3 = st.snapshot_restore(spark, t, 1)
    assert sorted(r.id for r in st.snapshot_read(spark, t, v3).collect()) == [
        2, 3, 4, 5
    ]
    v4 = st.snapshot_restore(spark, t, 0)
    assert sorted(r.id for r in st.snapshot_read(spark, t, v4).collect()) == [
        0, 1, 2, 3, 4, 5
    ]
    # watermark survived two restores
    assert _watermark(t, "w1") == 5


def test_merge_empty_source_is_noop_and_null_keys_insert(spark, tmp_path):
    """Round-10 advice: an EMPTY merge source short-circuits (no new
    version, no scan); an all-NULL-key source is a pure insert that
    shares the parent's whole inventory (equality never matches null)."""
    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    st.snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, stats_cols=["id"])

    empty = spark.createDataFrame([], "id bigint, v string")
    assert st.snapshot_merge(empty, t, key="id") == 0  # parent, no commit
    assert len(_manifests(t)) == 1

    nulls = spark.createDataFrame([(None, "n1"), (None, "n2")], "id bigint, v string")
    v1 = st.snapshot_merge(nulls, t, key="id", stats_cols=["id"])
    assert v1 == 1
    rows = {(r.id, r.v) for r in st.snapshot_read(spark, t).collect()}
    assert rows == {(1, "a"), (2, "b"), (None, "n1"), (None, "n2")}
    # the parent's files carried untouched (pure insert adds exactly
    # the fresh files on top of v0's plan)
    f0 = set(st.snapshot_read(spark, t, 0).inputFiles())
    f1 = set(st.snapshot_read(spark, t, 1).inputFiles())
    assert f0 < f1


def test_merge_null_keys_shares_shards_untouched(spark, tmp_path, small_shards):
    """Sharded twin of the null-key insert: every parent shard rides
    by ref — none loaded, none rewritten (round-10 advice flagged that
    this case loaded ALL shards and scanned the whole key column)."""

    from etfconstituentextractor_spark.sources import snapshot_table as st

    t = str(tmp_path / "tbl")
    st.snapshot_commit(
        spark.range(40).selectExpr("id", "CAST(id AS STRING) v").repartition(8),
        t, stats_cols=["id"],
    )
    m0 = json.load(open(f"{t}/_manifests/v00000000.json"))
    assert "shards" in m0
    nulls = spark.createDataFrame([(None, "n")], "id bigint, v string")
    st.snapshot_merge(nulls, t, key="id", stats_cols=["id"])
    m1 = json.load(open(f"{t}/_manifests/v00000001.json"))
    parent_shards = {s["path"] for s in m0["shards"]}
    child_shards = {s["path"] for s in m1.get("shards", [])}
    assert parent_shards <= child_shards or "files" in m1
    assert st.snapshot_read(spark, t).count() == 41


# ---------------------------------------------------------------------------
# schema tracking (round 11): the manifest records the table schema —
# reads plan with it (no footer sampling), appends evolve it
# ADDITIVELY, time travel sees each version's own schema.
# ---------------------------------------------------------------------------
def test_schema_evolution_appended_column_null_fills_old_rows(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    wide = spark.createDataFrame([(3, "c", 9.5)], "id bigint, v string, score double")
    snapshot_commit(wide, t, mode="append")
    head = snapshot_read(spark, t)
    assert set(head.columns) == {"id", "v", "score"}
    got = {r["id"]: r["score"] for r in head.collect()}
    # old files predate the column: null-filled through the recorded schema
    assert got == {1: None, 2: None, 3: 9.5}
    # time travel: v0 sees its OWN schema, without the later column
    assert set(snapshot_read(spark, t, 0).columns) == {"id", "v"}


def test_schema_evolution_type_change_raises_before_write(spark, tmp_path):
    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a")]), t, mode="overwrite")
    bad = spark.createDataFrame([(2, 3)], "id bigint, v bigint")  # v was string
    with pytest.raises(ValueError, match="schema evolution cannot change"):
        snapshot_commit(bad, t, mode="append")
    # validate-before-write: the failed append must not have left a
    # new data dir behind (the orphan-per-retry class)
    data = os.path.join(t, "data")
    dirs = sorted(os.listdir(data))
    assert len(dirs) == 1, dirs


def test_schema_evolution_append_missing_column_null_fills_new_rows(spark, tmp_path):
    t = str(tmp_path / "tbl")
    wide = spark.createDataFrame([(1, "a", 1.5)], "id bigint, v string, score double")
    snapshot_commit(wide, t, mode="overwrite")
    snapshot_commit(_df(spark, [(2, "b")]), t, mode="append")
    got = {r["id"]: r["score"] for r in snapshot_read(spark, t).collect()}
    assert got == {1: 1.5, 2: None}


def test_schema_carries_through_merge_delete_restore(spark, tmp_path):
    from etfconstituentextractor_spark.sources.snapshot_table import (
        snapshot_delete,
        snapshot_merge,
        snapshot_restore,
    )

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(i, f"r{i}") for i in range(8)]), t, mode="overwrite")
    wide = spark.createDataFrame([(8, "n", 2.0)], "id bigint, v string, score double")
    snapshot_commit(wide, t, mode="append")  # evolves schema
    src = spark.createDataFrame(
        [(1, "upd", None)], "id bigint, v string, score double"
    )
    snapshot_merge(src, t, key="id")
    snapshot_delete(spark, t, where=("id", "<", 2))
    head = snapshot_read(spark, t)
    assert set(head.columns) == {"id", "v", "score"}
    assert head.count() == 7  # 9 rows - id 0,1 deleted
    # restore back to v0: the restored head exposes v0's schema again
    rv = snapshot_restore(spark, t, 0)
    assert set(snapshot_read(spark, t, rv).columns) == {"id", "v"}


def test_legacy_manifest_without_schema_still_reads(spark, tmp_path):

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    # simulate a pre-schema-tracking manifest: strip the recorded schema
    mpath = os.path.join(t, "_manifests", "v00000000.json")
    with open(mpath) as fh:
        m = json.load(fh)
    assert m.pop("schema", None) is not None
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    assert {r["v"] for r in snapshot_read(spark, t).collect()} == {"a", "b"}
    # an append onto the legacy manifest stays untracked (footer
    # inference remains authoritative) and still reads correctly
    snapshot_commit(_df(spark, [(3, "c")]), t, mode="append")
    with open(os.path.join(t, "_manifests", "v00000001.json")) as fh:
        assert "schema" not in json.load(fh)
    assert snapshot_read(spark, t).count() == 3


# ---------------------------------------------------------------------------
# merge source alignment to the recorded schema (rounds 11-14)
# ---------------------------------------------------------------------------
def test_merge_source_null_fills_missing_recorded_columns(spark, tmp_path):
    """Round 11: a merge source missing later-added columns aligns to
    the recorded table schema with NULLs; unknown columns raise."""
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    wide = spark.createDataFrame([(3, "c", 1.0)], "id bigint, v string, score double")
    snapshot_commit(wide, t, mode="append")
    snapshot_merge(_df(spark, [(1, "upd"), (4, "new")]), t, key="id")
    got = {r["id"]: (r["v"], r["score"]) for r in snapshot_read(spark, t).collect()}
    assert got == {1: ("upd", None), 2: ("b", None), 3: ("c", 1.0), 4: ("new", None)}
    bad = spark.createDataFrame([(5, "x", "oops")], "id bigint, v string, junk string")
    with pytest.raises(ValueError, match="not in the table schema"):
        snapshot_merge(bad, t, key="id")


def test_merge_source_missing_key_raises(spark, tmp_path):
    """Round-11 second review: alignment must never null-fill the
    MERGE KEY — a source without it would upsert NULL-key junk."""
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a")]), t, mode="overwrite")
    keyless = spark.createDataFrame([("zzz",)], "v string")
    with pytest.raises(ValueError, match="missing required column"):
        snapshot_merge(keyless, t, key="id")


def test_merge_source_type_drift_raises_before_write(spark, tmp_path):
    """Round-12 advice: name-only alignment let a drifted-type source
    column publish files that poison every recorded-schema read. An
    incompatible type must raise PRE-write, leaving no new version."""
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(_df(spark, [(1, "a"), (2, "b")]), t, mode="overwrite")
    drifted = spark.createDataFrame([(1, 42)], "id bigint, v int")  # v: string->int
    with pytest.raises(ValueError, match="recorded"):
        snapshot_merge(drifted, t, key="id")
    assert [v["version"] for v in _manifests(t)] == [0]  # nothing published
    # the table still reads clean under its recorded schema
    assert sorted(r.id for r in snapshot_read(spark, t).collect()) == [1, 2]


def test_merge_source_lossless_widening_casts(spark, tmp_path):
    """Round-12 advice companion: an int source column where the table
    recorded bigint is a strict value-preserving embedding — it casts
    silently, and subsequent recorded-schema reads stay healthy."""
    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    t = str(tmp_path / "tbl")
    snapshot_commit(
        spark.createDataFrame([(1, 10), (2, 20)], "id bigint, n bigint"),
        t,
        mode="overwrite",
    )
    narrow = spark.createDataFrame([(1, 11), (3, 30)], "id bigint, n int")
    snapshot_merge(narrow, t, key="id")
    got = {r["id"]: r["n"] for r in snapshot_read(spark, t).collect()}
    assert got == {1: 11, 2: 20, 3: 30}
    # schema stayed the RECORDED one (bigint), not the source's
    assert dict(snapshot_read(spark, t).dtypes)["n"] == "bigint"


def test_merge_type_check_ignores_nested_nullability(spark, tmp_path):
    """Round-13 advice: strict DataType equality rejected sources
    differing from the recorded schema only in nested nullability
    (array containsNull / struct-field nullable) — a false rejection
    whose error printed two identical simpleStrings. Same type SHAPE
    must merge; only genuine shape drift raises."""
    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, [1, 2]), (2, [3])],
        StructType([
            StructField("id", LongType()),
            StructField("tags", ArrayType(IntegerType(), containsNull=True)),
        ]),
    )
    snapshot_commit(base, t, mode="overwrite")
    # source's array elements are NON-null — same shape, tighter flags
    src = spark.createDataFrame(
        [(1, [9]), (3, [7, 8])],
        StructType([
            StructField("id", LongType()),
            StructField("tags", ArrayType(IntegerType(), containsNull=False)),
        ]),
    )
    snapshot_merge(src, t, key="id")
    got = {r["id"]: r["tags"] for r in snapshot_read(spark, t).collect()}
    assert got == {1: [9], 2: [3], 3: [7, 8]}
    # genuine nested SHAPE drift still raises pre-write
    bad = spark.createDataFrame(
        [(1, ["x"])],
        StructType([
            StructField("id", LongType()),
            StructField("tags", ArrayType(StringType())),
        ]),
    )
    with pytest.raises(ValueError, match="recorded"):
        snapshot_merge(bad, t, key="id")


def test_merge_more_nullable_source_widens_recorded_schema(spark, tmp_path):
    """Round-14 advice: the round-13 nullability-insensitive pass-
    through was only provably safe in the LESS-nullable direction — a
    source with containsNull=True (and real null elements) merged
    uncast into a table whose recorded schema said containsNull=False,
    after which the recorded schema misdescribed committed data for
    every recorded-schema read. A more-nullable source now WIDENS the
    recorded schema in the same commit (per-level nullability union);
    older versions keep their stricter schema (time travel contract);
    the less-nullable direction still passes through with the recorded
    schema untouched."""
    import json as _json

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    def recorded(path, v):
        with open(os.path.join(path, "_manifests", f"v{v:08d}.json")) as fh:
            return _json.load(fh)["schema"]

    def tags_contains_null(sj):
        (f,) = [f for f in sj["fields"] if f["name"] == "tags"]
        return f["type"]["containsNull"]

    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, [1, 2]), (2, [3])],
        StructType([
            StructField("id", LongType()),
            StructField("tags", ArrayType(IntegerType(), containsNull=False)),
        ]),
    )
    snapshot_commit(base, t, mode="overwrite")
    assert tags_contains_null(recorded(t, 0)) is False
    # MORE-nullable source carrying an actual null element
    src = spark.createDataFrame(
        [(1, [9, None]), (3, [None])],
        StructType([
            StructField("id", LongType()),
            StructField("tags", ArrayType(IntegerType(), containsNull=True)),
        ]),
    )
    snapshot_merge(src, t, key="id")
    # the commit widened the recorded schema, so reads (which plan
    # with it) see the null elements truthfully
    assert tags_contains_null(recorded(t, 1)) is True
    got = {r["id"]: r["tags"] for r in snapshot_read(spark, t).collect()}
    assert got == {1: [9, None], 2: [3], 3: [None]}
    # time travel: v0's own recorded schema stays strict
    assert tags_contains_null(recorded(t, 0)) is False
    # LESS-nullable follow-up merge: schema carries byte-identical
    tighter = spark.createDataFrame(
        [(4, [5])],
        StructType([
            StructField("id", LongType()),
            StructField("tags", ArrayType(IntegerType(), containsNull=False)),
        ]),
    )
    snapshot_merge(tighter, t, key="id")
    assert recorded(t, 2) == recorded(t, 1)


def test_merge_widening_date_targets_ntz_not_zoned_timestamp(spark, tmp_path):
    """Round-13 advice: date->timestamp was dropped from _WIDENINGS —
    a date casts to midnight IN THE SESSION ZONE, so the written
    instant depended on spark.sql.session.timeZone. date->
    timestamp_ntz (zone-free midnight) remains a pure embedding and
    widens; date-> zoned timestamp now raises pre-write."""
    import datetime

    from etfconstituentextractor_spark.sources.snapshot_table import snapshot_merge

    d = datetime.date(2026, 8, 16)
    # recorded timestamp_ntz <- date source: widens
    t = str(tmp_path / "ntz")
    snapshot_commit(
        spark.createDataFrame(
            [(1, datetime.datetime(2026, 1, 1, 5, 0))], "id bigint, ts timestamp_ntz"
        ),
        t,
        mode="overwrite",
    )
    snapshot_merge(
        spark.createDataFrame([(2, d)], "id bigint, ts date"), t, key="id"
    )
    got = {r["id"]: r["ts"] for r in snapshot_read(spark, t).collect()}
    assert got[2] == datetime.datetime(2026, 8, 16, 0, 0)
    assert dict(snapshot_read(spark, t).dtypes)["ts"] == "timestamp_ntz"
    # recorded ZONED timestamp <- date source: raises (round-13 change)
    t2 = str(tmp_path / "zoned")
    snapshot_commit(
        spark.createDataFrame(
            [(1, datetime.datetime(2026, 1, 1, 5, 0))], "id bigint, ts timestamp"
        ),
        t2,
        mode="overwrite",
    )
    with pytest.raises(ValueError, match="recorded"):
        snapshot_merge(
            spark.createDataFrame([(2, d)], "id bigint, ts date"), t2, key="id"
        )


def test_merge_table_second_call_is_a_hit(spark, sf_dir, tmp_path, monkeypatch):
    """q86's merge/restore table is a derived layout: the second
    resolution serves the published table without rebuilding it (the
    build and heal rules themselves are pinned in tests/test_derived.py)."""
    import etfconstituentextractor_spark.plans.llm_refresh as lr

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    table = lr._merge_table(spark, sf_dir)
    assert snapshot_read(spark, table, 2).count() > 0
    manifests = sorted(os.listdir(os.path.join(table, "_manifests")))
    monkeypatch.setattr(
        "etfconstituentextractor_spark.sources.snapshot_table.snapshot_merge",
        lambda *a, **k: pytest.fail("a hit must not rebuild"),
    )
    assert lr._merge_table(spark, sf_dir) == table
    assert sorted(os.listdir(os.path.join(table, "_manifests"))) == manifests

