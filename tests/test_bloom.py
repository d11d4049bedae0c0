"""Bloom-filter semi-join reduction (operators/bloom.py): no false
negatives ever (result equality with the plain join), real probe-side
reduction (the 100 TB point of the operator), sizing math, and the
guarded API edges."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.bloom import (
    bloom_build,
    bloom_params,
    bloom_prefilter,
    bloom_reduced_join,
)
from etfconstituentextractor_spark.sources.tables import load


def test_bloom_params_standard_sizing():
    m, k = bloom_params(1000, 1e-4)
    # optimal m for n=1000, p=1e-4 is ~19171 bits; word-rounded, k ~ 13
    assert m % 64 == 0 and 19_000 <= m <= 19_300
    assert k == 13
    # degenerate inputs are rejected, not silently mis-sized
    with pytest.raises(ValueError):
        bloom_params(0)
    with pytest.raises(ValueError):
        bloom_params(100, 1.5)
    # the 64M-bit literal-size cap (Spark's own runtime-bloom ceiling)
    with pytest.raises(ValueError, match="64M-bit cap"):
        bloom_params(10_000_000, 1e-9)


def test_bloom_no_false_negatives_and_real_reduction(spark):
    """Every build key must pass the prefilter (zero false negatives —
    the correctness half), and at the sized fpp the pass-through on a
    10x disjoint probe stays near the true-match floor (the reduction
    half)."""
    build = spark.range(0, 1000).select((F.col("id") * 3).alias("k"))
    probe = spark.range(0, 10_000).select(F.col("id").alias("k"))
    m, k = bloom_params(1000, 1e-4)
    bl = bloom_build(build, "k", m_bits=m, k=k)
    assert isinstance(bl, bytes) and len(bl) == m // 8
    passed = {r.k for r in bloom_prefilter(probe, bl, "k", m_bits=m, k=k).collect()}
    true_matches = {i for i in range(0, 10_000) if i % 3 == 0 and i < 3000}
    assert true_matches <= passed  # no false negatives
    # 9000 non-matching probes at fpp 1e-4 -> expected ~1 FP; 50 is
    # already 50x over — catches a broken hash family, not bad luck
    assert len(passed - true_matches) <= 50


def test_bloom_reduced_join_equals_plain_join(spark, sf_dir):
    """The registered q22 'bloom' leg's claim at operator level:
    pre-filtering lineitem through the urgent-orders Bloom filter
    changes nothing about the join result."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    plain = li.join(o, ["l_orderkey"]).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q")
    )
    reduced = bloom_reduced_join(li, o, ["l_orderkey"], n_items_hint=50_000).groupBy(
        "o_orderpriority"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, reduced.collect()))


def test_bloom_prefilter_drops_most_nonmatching_probe_rows(spark, sf_dir):
    """The scale property itself, measured: with a ~20%-selective
    build side, the probe rows that survive the prefilter (i.e. would
    enter the join shuffle) are a fraction of the table."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey")
    o = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    m, k = bloom_params(50_000, 1e-4)
    bl = bloom_build(o, "l_orderkey", m_bits=m, k=k)
    total = li.count()
    surviving = bloom_prefilter(li, bl, "l_orderkey", m_bits=m, k=k).count()
    matching = li.join(o, ["l_orderkey"], "left_semi").count()
    assert matching <= surviving  # no false negatives, row-level
    assert surviving < 0.35 * total  # ~0.2 true fraction + fp slack


def test_bloom_null_probe_key_never_crashes_or_matches(spark):
    build = spark.createDataFrame([(1,), (2,)], "k bigint")
    probe = spark.createDataFrame([(1,), (None,)], "k bigint")
    out = bloom_reduced_join(probe, build, ["k"], n_items_hint=10)
    assert [r.k for r in out.collect()] == [1]


def test_bloom_rejects_mismatched_key_types(spark):
    """xxhash64 hashes int-vs-bigint differently where the equi-join
    would cast, so a type mismatch would silently drop EVERY true
    match (confirmed empirically before the guard existed) — it must
    be an error, never a wrong answer."""
    build = spark.createDataFrame([(3,), (6,)], "k int")
    probe = spark.createDataFrame([(3,), (6,), (12,)], "k bigint")
    with pytest.raises(ValueError, match="differ in type"):
        bloom_reduced_join(probe, build, ["k"], n_items_hint=10)
    # cast makes it legal and correct
    out = bloom_reduced_join(
        probe, build.select(F.col("k").cast("bigint").alias("k")), ["k"], n_items_hint=10
    )
    assert sorted(r.k for r in out.collect()) == [3, 6]


def test_bloom_rejects_probe_keeping_join_types(spark):
    build = spark.createDataFrame([(1,)], "k bigint")
    probe = spark.createDataFrame([(1,), (2,)], "k bigint")
    with pytest.raises(ValueError, match="multiple of 64"):
        bloom_build(build, "k", m_bits=100, k=3)
    with pytest.raises(ValueError, match="bits but m_bits"):
        bloom_prefilter(probe, b"\x00" * 8, "k", m_bits=128, k=3)
