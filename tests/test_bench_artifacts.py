"""bench.py evidence-artifact rules (round 13).

The minwin summary is the repo's headline perf evidence; the round-12
verdict found its per-query minima mixing windows from different
commits (a cited best could point at code that no longer runs). These
tests pin the coherence rule WITHOUT running Spark: _write_minwin_summary
is pure file I/O over archived run JSONs.
"""

import importlib.util
import json
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def _run_file(
    outdir,
    name,
    queries,
    sf=0.1,
    git_rev="abc1234",
    catalog_fp="fp-cur",
    bench_fp="bfp-cur",
    order="default",
    cpus=4,
    default_parallelism=4,
):
    payload = {
        "sf": sf,
        "queries": queries,
        "git_rev": git_rev,
        "catalog_fp": catalog_fp,
        "bench_fp": bench_fp,
        "order": order,
        "cpus": cpus,
        "defaultParallelism": default_parallelism,
    }
    with open(os.path.join(outdir, name), "w") as fh:
        fh.write(json.dumps(payload) + "\n")
    return payload


def test_minwin_headline_excludes_unstamped_and_stale_surface_windows(tmp_path):
    """Headline minima aggregate ONLY windows that are git_rev-stamped
    AND share the current run's catalog fingerprint; unstamped or
    different-source windows survive only in the *_cross_commit view."""
    out = str(tmp_path)
    # oldest: unstamped (pre-round-12 archive) with a tempting 0.5s min
    _run_file(out, "run_20260101T000000_1.json", {"q42": 0.5, "q01": 2.0},
              git_rev=None, catalog_fp=None)
    # stale surface: stamped but DIFFERENT engine source, q42 fast
    _run_file(out, "run_20260102T000000_1.json", {"q42": 0.9, "q01": 1.5},
              git_rev="old1111", catalog_fp="fp-old")
    # two coherent windows (current source)
    _run_file(out, "run_20260103T000000_1.json", {"q42": 1.8, "q01": 1.2})
    cur = _run_file(out, "run_20260104T000000_1.json", {"q42": 1.6, "q01": 1.4})

    bench._write_minwin_summary(out, cur)
    with open(os.path.join(out, "minwin_sf0.1.json")) as fh:
        s = json.load(fh)

    # headline: minima across the two coherent windows only
    assert s["queries"] == {"q42": 1.6, "q01": 1.2}
    assert s["value"] == 2.8
    assert set(s["windows"]) == {
        "run_20260103T000000_1.json", "run_20260104T000000_1.json",
    }
    # every cited backing window for the headline is coherent
    assert set(s["query_window"].values()) <= set(s["windows"])
    assert all(s["window_rev"].values())
    # the cross-commit view keeps the old semantics, explicitly named
    assert s["queries_cross_commit"] == {"q42": 0.5, "q01": 1.2}
    assert len(s["windows_cross_commit"]) == 4


def test_minwin_degrades_to_current_window_when_fp_unavailable(tmp_path):
    """A fingerprint failure (catalog_fp None) must not kill the
    artifact: the headline falls back to the newest window alone."""
    out = str(tmp_path)
    _run_file(out, "run_20260101T000000_1.json", {"q01": 0.7})
    cur = _run_file(out, "run_20260102T000000_1.json", {"q01": 1.1},
                    catalog_fp=None)
    cur["catalog_fp"] = None
    bench._write_minwin_summary(out, cur)
    with open(os.path.join(out, "minwin_sf0.1.json")) as fh:
        s = json.load(fh)
    assert s["queries"] == {"q01": 1.1}
    assert s["windows"] == ["run_20260102T000000_1.json"]


def test_minwin_headline_requires_matching_order_and_bench_fp(tmp_path):
    """Round-14 advice: catalog_fp hashes only engine source, so
    windows run with SPARK_GRAFT_BENCH_ORDER=stream_early or under a
    changed HEADLINE/harness still counted as coherent — headline
    minima could mix orderings and harness versions. Coherence now
    also requires order equality and a matching bench_fp; windows
    predating the bench_fp stamp are excluded from the headline (they
    survive in the cross-commit view). Coherence also requires the
    window's cpus and defaultParallelism to equal the current run's:
    a window from another core count, or one predating that stamp, is
    not coherent either."""
    out = str(tmp_path)
    # same engine source, but rotated execution order — q59's min here
    # must NOT feed the default-order headline
    _run_file(out, "run_20260101T000000_1.json", {"q59": 0.5, "q01": 2.0},
              order="stream_early")
    # same engine source, but an OLDER harness (no bench_fp stamp)
    _run_file(out, "run_20260102T000000_1.json", {"q59": 0.7, "q01": 1.5},
              bench_fp=None)
    # same engine source, a DIFFERENT harness semantics hash
    _run_file(out, "run_20260103T000000_1.json", {"q59": 0.8, "q01": 1.4},
              bench_fp="bfp-old")
    # same engine source and harness, but a 32-core host
    _run_file(out, "run_20260103T060000_1.json", {"q59": 0.6, "q01": 0.9},
              cpus=32, default_parallelism=32)
    # same core count, but a different local[N] parallelism
    _run_file(out, "run_20260103T120000_1.json", {"q59": 0.9, "q01": 1.0},
              default_parallelism=8)
    # same engine source and harness, predating the host stamp
    _run_file(out, "run_20260103T180000_1.json", {"q59": 1.0, "q01": 1.1},
              cpus=None, default_parallelism=None)
    # two fully coherent windows
    _run_file(out, "run_20260104T000000_1.json", {"q59": 1.8, "q01": 1.2})
    cur = _run_file(out, "run_20260105T000000_1.json", {"q59": 1.6, "q01": 1.4})

    bench._write_minwin_summary(out, cur)
    with open(os.path.join(out, "minwin_sf0.1.json")) as fh:
        s = json.load(fh)
    assert s["queries"] == {"q59": 1.6, "q01": 1.2}
    assert set(s["windows"]) == {
        "run_20260104T000000_1.json", "run_20260105T000000_1.json",
    }
    assert s["order"] == "default" and s["bench_fp"] == "bfp-cur"
    assert s["cpus"] == 4 and s["defaultParallelism"] == 4
    # the mixed view still exists, explicitly named
    assert s["queries_cross_commit"]["q59"] == 0.5


def test_bench_fingerprint_tracks_harness_semantics():
    """bench_fp is stable across calls and moves when the measurement
    semantics (HEADLINE set) change."""
    a = bench._bench_fingerprint()
    assert a == bench._bench_fingerprint() and len(a) == 12
    saved = list(bench.HEADLINE)
    try:
        bench.HEADLINE.append("q_fake_new_query")
        assert bench._bench_fingerprint() != a
    finally:
        bench.HEADLINE[:] = saved
    assert bench._bench_fingerprint() == a


def test_normalized_vector_damps_by_class_probe():
    """Round-13 verdict ask #2: each class's wall time is damped by
    its dominant-resource probe, t / (1 + beta*(ratio-1)) — a 2x CPU
    probe must NOT halve the jvm class (beta_jvm=0.15 from the fit),
    while the python class follows its probe ~1:1."""
    timings = {
        "q01_pricing_summary": 10.0,  # jvm
        "q91_udtf_udaf": 10.0,  # py
        "q59_stream_custom_sessionize": 10.0,  # stream
        "q86_snapshot_diff": 10.0,  # io
    }
    v = bench._normalized_vector(timings, 2.0, 2.0, 2.0)
    assert v["jvm"] == round(10 / 1.15, 3)
    assert v["py"] == 5.0
    assert v["stream"] == round(10 / 1.9, 3)
    assert v["io"] == 6.25
    assert v["total"] == round(v["jvm"] + v["py"] + v["stream"] + v["io"], 3)
    # quiet host: ratios 1.0 -> identity
    u = bench._normalized_vector(timings, 1.0, 1.0, 1.0)
    assert u["total"] == 40.0
    # missing io probe falls back to the jvm ratio (comparable, not
    # vanished); missing jvm/py ratios -> None (references don't apply)
    w = bench._normalized_vector(timings, 1.0, 1.0, None)
    assert w["io"] == 10.0
    assert bench._normalized_vector(timings, None, 1.0, 1.0) is None


def test_class_assignment_covers_headline():
    """Every headline query lands in exactly one class; unknown names
    default to jvm."""
    seen = {}
    for n in bench.HEADLINE:
        seen.setdefault(bench._class_of(n), []).append(n)
    assert set(seen) <= {"jvm", "py", "stream", "io"}
    assert "q59_stream_custom_sessionize" in seen["stream"]
    assert "q95_multimodal_binary" in seen["py"]
    assert "q86_snapshot_diff" in seen["io"]
    assert bench._class_of("q_not_a_query") == "jvm"
    # classes reference only real headline names (catch renames)
    for names in bench._CLASS_QUERIES.values():
        assert names <= set(bench.HEADLINE)


def test_ordered_headline_rotation_preserves_the_set():
    """stream_early moves the streaming class right after the
    flagship; both orderings run the same query set exactly once."""
    default = bench._ordered_headline("default")
    early = bench._ordered_headline("stream_early")
    assert default == bench.HEADLINE
    assert sorted(early) == sorted(default)
    assert early[0] == "q99_curation_pipeline_e2e"
    assert set(early[1:4]) == bench._CLASS_QUERIES["stream"]


def test_survey_round_close_block_matches_artifacts():
    """Round-14 verdict ask #2: closing numbers are GENERATED, not
    typed. SURVEY.md's ROUND-CLOSE block must equal what
    tools/round_close.py would emit right now from the committed
    artifacts — so archiving a new bench window (which can displace a
    cited min) without re-running --update-survey fails the suite
    instead of shipping stale prose (the r12/r13 drift class)."""
    spec = importlib.util.spec_from_file_location(
        "round_close",
        os.path.join(os.path.dirname(__file__), "..", "tools", "round_close.py"),
    )
    rc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rc)
    with open(rc.SURVEY) as fh:
        survey = fh.read()
    assert rc.BEGIN in survey and rc.END in survey, (
        "SURVEY.md is missing the ROUND-CLOSE block — run "
        "`python tools/round_close.py --update-survey`"
    )
    quoted = survey.split(rc.BEGIN, 1)[1].split(rc.END, 1)[0]
    rebuilt = rc.build_block()
    assert rc.BEGIN + quoted + rc.END == rebuilt, (
        "SURVEY.md's closing block is stale against the artifacts — "
        "re-run `python tools/round_close.py --update-survey`"
    )


def test_catalog_fingerprint_tracks_engine_source():
    """The fingerprint is stable across calls and keyed to engine
    source bytes (it is the minwin coherence key)."""
    a = bench._catalog_fingerprint()
    b = bench._catalog_fingerprint()
    assert a is not None and a == b and len(a) == 12


def test_bench_defaults_scratch_out_of_wiped_tmp():
    """The container's /tmp is externally wiped; a mid-window wipe
    deleted the q50 WARC fixture and cost run_20260816T213907 ~130s of
    re-derivation (round 14). bench.py must therefore default BOTH the
    Python tempdir (sources.tables.scratch_dir goes through
    tempfile.gettempdir) and the JVM's SPARK_LOCAL_DIRS to repo-local
    scratch when the environment does not say otherwise — and must NOT
    override an explicit operator choice."""
    import subprocess
    import sys as _sys

    root = os.path.join(os.path.dirname(__file__), "..")
    probe = (
        "import os, sys; sys.path.insert(0, %r); os.chdir(%r); "
        "import bench, tempfile; "
        "print(tempfile.gettempdir()); print(os.environ['SPARK_LOCAL_DIRS'])"
        % (os.path.abspath(root), os.path.abspath(root))
    )
    env = {k: v for k, v in os.environ.items() if k not in ("TMPDIR", "SPARK_LOCAL_DIRS")}
    out = subprocess.run(
        [_sys.executable, "-c", probe], env=env, capture_output=True, text=True, check=True
    ).stdout.splitlines()
    scratch = os.path.abspath(os.path.join(root, ".spark-scratch"))
    assert out[0] == os.path.join(scratch, "tmp")
    assert out[1] == os.path.join(scratch, "local")

    env["TMPDIR"] = env["SPARK_LOCAL_DIRS"] = "/dev/shm"
    out = subprocess.run(
        [_sys.executable, "-c", probe], env=env, capture_output=True, text=True, check=True
    ).stdout.splitlines()
    assert out == ["/dev/shm", "/dev/shm"]


def test_minwin_coherent_scan_keeps_a_full_rounds_windows(tmp_path):
    """Within one fingerprint every window is a valid sample of
    identical code, so the coherent cap is a file-read bound, not a
    staleness rule. Round 14's closing accumulation archived >128
    same-fp windows; the 16, 48 and then the 128 cap each rolled the
    round's own early samples out from under its minima (measured at
    48: headline crept 58.406 -> 58.717 across w82-w89 with zero
    engine change; at 128 the coherent counter pinned at w166). The
    140th-newest coherent window — beyond the old 128 cap — must
    still back the min (cap now 512)."""
    out = str(tmp_path)
    # oldest coherent window holds the unique best q01
    _run_file(out, "run_20260101T000000_0.json", {"q01": 0.31})
    for i in range(1, 140):
        cur = _run_file(out, "run_20260101T%06d_1.json" % (i * 100), {"q01": 1.0 + i / 100})
    bench._write_minwin_summary(out, cur)
    with open(os.path.join(out, "minwin_sf0.1.json")) as fh:
        s = json.load(fh)
    assert s["queries"] == {"q01": 0.31}
    assert s["query_window"]["q01"] == "run_20260101T000000_0.json"
    assert len(s["windows"]) == 140
