"""Hashed linear quality scorer (operators/quality_model.py):
cross-engine bit-identity, empty-input guard, weight properties."""

from __future__ import annotations

import duckdb

from etfconstituentextractor_spark.operators.quality_model import (
    hashed_linear_margin,
    make_weights,
    sql_hashed_linear_margin,
)
from etfconstituentextractor_spark.operators.text import (
    spark_shingles,
    sql_shingles,
)

W = make_weights(64)


def test_weights_deterministic_and_dyadic():
    assert make_weights(64) == W
    # dyadic rationals with |w| <= 1/4: exact-sum guarantee
    assert all(abs(w) <= 0.25 and (w * 256) == int(w * 256) for w in W)


def test_margin_bit_identical_to_duckdb(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "spark shuffles hash partitions across the cluster"),
        (3, "one"),
        (4, "a a a a a a a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    m = hashed_linear_margin(
        "split(text, ' ')", W, shingles_expr=spark_shingles("split(text, ' ')", 2)
    )
    got = {r.doc_id: r.m for r in df.select("doc_id", m.alias("m")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    sql = sql_hashed_linear_margin(
        "string_split(text, ' ')", W,
        shingles_expr=sql_shingles("string_split(text, ' ')", 2),
    )
    want = dict(con.execute(f"SELECT doc_id, {sql} FROM t").fetchall())
    assert got == want  # exact equality, not approx — dyadic weights


def test_unigram_only_margin_is_mean_weight(spark):
    # one token -> margin is exactly that token's bucket weight
    df = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    m = df.select(hashed_linear_margin("split(text, ' ')", W).alias("m")).first().m
    import hashlib

    b = int(hashlib.md5(b"hello").hexdigest()[:8], 16) % 64
    assert m == W[b]


def test_empty_feature_array_scores_zero(spark):
    df = spark.createDataFrame([(1,)], "doc_id long")
    m = df.select(hashed_linear_margin("array()", W).alias("m")).first()
    assert m.m == 0.0


def test_q80_margin_stays_in_codegen(spark, sf_dir):
    # the scoring column must not introduce Python eval or a shuffle
    from etfconstituentextractor_spark.plans.registry import QUERIES, load_catalog

    load_catalog()
    plan = (
        QUERIES["q80_text_stats"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # The feature families share one scan whose only shuffle is the
    # simhash-bucket window. The round-5 bigram-LM columns add
    # model-key (w1/w2 pair counts) and doc_id-join shuffles — those
    # carry counts and ids, which is the invariant that matters at
    # scale: no exchange may partition on the raw text column.
    ensure = [l for l in plan.splitlines() if "ENSURE_REQUIREMENTS" in l]
    assert any("simhash16" in l for l in ensure), ensure
    assert not any("text#" in l for l in ensure), ensure
