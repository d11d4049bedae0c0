"""Boilerplate removal (operators/boilerplate.py): planted-fixture
semantics and the text-never-shuffles plan shape of the registered
q87."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.boilerplate import (
    frequent_lines,
    line_doc_frequencies,
    strip_boilerplate,
)

BANNER = "subscribe now"
FOOTER = "all rights reserved"


@pytest.fixture(scope="module")
def corpus(spark):
    # 8 docs: every doc ends with FOOTER; even docs start with BANNER;
    # doc 7's content IS only boilerplate; bodies are unique.
    rows = []
    for i in range(8):
        parts = []
        if i % 2 == 0:
            parts.append(BANNER)
        if i != 7:
            parts.append(f"unique body line {i}")
            parts.append(f"second body {i}")
        parts.append(FOOTER)
        rows.append((i, "\n".join(parts)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_doc_frequencies_counts_docs_not_occurrences(spark, corpus):
    # plant a doc repeating FOOTER twice: df must still count it once
    doubled = corpus.union(
        spark.createDataFrame([(100, FOOTER + "\n" + FOOTER)], "doc_id long, text string")
    )
    freqs = line_doc_frequencies(doubled).collect()
    by_hash = {r.line_hash: r.n_docs for r in freqs}
    footer_hash = spark.range(1).select(F.xxhash64(F.lit(FOOTER))).first()[0]
    assert by_hash[footer_hash] == 9  # 8 docs + the doubled doc, once each


@pytest.mark.parametrize("strip", [strip_boilerplate])
def test_strip_removes_banners_preserves_order(spark, corpus, strip):
    out = {r.doc_id: r for r in strip(corpus, min_docs=4).collect()}
    assert len(out) == 8
    for i in range(8):
        r = out[i]
        if i == 7:
            assert r.clean_text == "" and r.n_kept == 0
        else:
            assert r.clean_text == f"unique body line {i}\nsecond body {i}"
            assert r.n_kept == 2
        assert r.n_lines == len(r.text.split("\n"))


@pytest.mark.parametrize("strip", [strip_boilerplate])
def test_threshold_boundary_inclusive(spark, corpus, strip):
    # BANNER appears in exactly 4 docs: min_docs=4 strips it,
    # min_docs=5 keeps it
    kept5 = strip(corpus, min_docs=5).filter(F.col("doc_id") == 0).first()
    assert BANNER in kept5.clean_text
    kept4 = strip(corpus, min_docs=4).filter(F.col("doc_id") == 0).first()
    assert BANNER not in kept4.clean_text


def test_no_boilerplate_is_identity(spark):
    docs = spark.createDataFrame(
        [(i, f"only line {i}") for i in range(5)], "doc_id long, text string"
    )
    out = strip_boilerplate(docs, min_docs=2).collect()
    assert all(r.clean_text == r.text and r.n_kept == r.n_lines == 1 for r in out)


def test_min_docs_guard(spark, corpus):
    with pytest.raises(ValueError):
        frequent_lines(corpus, min_docs=1)


def test_q87_plan_text_never_shuffles(spark, sf_dir):
    """The strip side must be a broadcast array filter: the ONLY
    ENSURE_REQUIREMENTS exchanges in the whole plan are the hash-only
    frequency aggregation (line_hash partial/final + the single-row
    collect_set); document text reaches the output without a shuffle."""
    from etfconstituentextractor_spark.plans.registry import QUERIES, load_catalog

    load_catalog()
    plan = (
        QUERIES["q87_boilerplate_strip"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" in plan  # single-row frequent set
    assert "array_contains" in plan  # codegen-side strip
    # the two fanout REPARTITION_BY_NUM exchanges sit on the tiny test
    # scans; everything the engine itself shuffles is line hashes
    ensure = [l for l in plan.splitlines() if "ENSURE_REQUIREMENTS" in l]
    assert len(ensure) == 2, ensure
    assert any("hashpartitioning(line_hash" in l for l in ensure)
    assert any("SinglePartition" in l for l in ensure)
