"""bench.py's harness rules, checked without running its timing loop:
the headline set, the provenance stamps and the scratch-directory
defaults.
"""

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_headline_is_36_registered_queries():
    """bench.py times HEADLINE as written: a renamed or unregistered
    name must fail the run (KeyError), not shrink the headline to a
    total no longer comparable with earlier 36-query runs."""
    bench.load_catalog()
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 36
    assert set(bench.HEADLINE) <= set(bench.QUERIES)
    assert len(set(bench.QUERIES) - set(bench.HEADLINE)) == 14


def test_catalog_fingerprint_tracks_engine_source():
    """The fingerprint is stable across calls and keyed to engine
    source bytes."""
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
