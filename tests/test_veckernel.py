"""Bit-identity pins for the Arrow strict-left-fold dot kernel
(operators/veckernel.py): the kernel replaces the JVM's interpreted
``aggregate(zip_with(...))`` fold in the similarity/dedup family, so
its contract is BIT-FOR-BIT equality with that fold — not closeness.
Adversarial values (catastrophic cancellation, subnormals, huge
magnitude spread) are exactly where pairwise summation / FMA would
diverge from the strict fold at the oracle's 6-dp rounding boundary.
"""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from etfconstituentextractor_spark.operators.veckernel import (
    append_pair_dot,
    append_pair_dot_i64,
)

_HOF = "aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def _mk(spark, rows, dim):
    return spark.createDataFrame(
        [(i, va, vb) for i, (va, vb) in enumerate(rows)],
        f"id bigint, a array<double>, b array<double>",
    )


def _assert_bit_identical(spark, rows):
    df = _mk(spark, rows, len(rows[0][0]))
    hof = {r["id"]: r["d"] for r in df.select("id", F.expr(_HOF).alias("d")).collect()}
    ker = {
        r["id"]: r["d"]
        for r in append_pair_dot(df, "a", "b", "d").select("id", "d").collect()
    }
    assert hof.keys() == ker.keys()
    for k in hof:
        assert _bits(hof[k]) == _bits(ker[k]), (
            k,
            hof[k].hex(),
            ker[k].hex(),
        )


def test_pair_dot_bit_identity_random(spark):
    rng = random.Random(42)
    rows = [
        (
            [rng.uniform(-1, 1) for _ in range(64)],
            [rng.uniform(-1, 1) for _ in range(64)],
        )
        for _ in range(500)
    ]
    _assert_bit_identical(spark, rows)


def test_pair_dot_bit_identity_adversarial(spark):
    rng = random.Random(7)
    rows = []
    for _ in range(200):
        # huge magnitude spread + signs: the fold's intermediate
        # rounding is order-sensitive here, so any re-association or
        # FMA contraction in the kernel would flip low bits
        a = [rng.uniform(-1, 1) * 10 ** rng.randint(-300, 300) for _ in range(64)]
        b = [rng.uniform(-1, 1) for _ in range(64)]
        rows.append((a, b))
    # exact cancellation chains
    rows.append(([1e16, 1.0, -1e16, 1.0] * 16, [1.0] * 64))
    rows.append(([5e-324, 5e-324, 1.0] + [0.0] * 61, [1.0] * 64))
    _assert_bit_identical(spark, rows)


def test_pair_dot_bit_identity_small_dims(spark):
    rng = random.Random(3)
    for dim in (1, 2, 5):
        rows = [
            (
                [rng.uniform(-100, 100) for _ in range(dim)],
                [rng.uniform(-100, 100) for _ in range(dim)],
            )
            for _ in range(50)
        ]
        _assert_bit_identical(spark, rows)


def test_pair_dot_empty_frame(spark):
    df = _mk(spark, [([1.0], [2.0])], 1).filter("id < 0")
    assert append_pair_dot(df, "a", "b", "d").count() == 0


def test_pair_dot_drops_vector_columns_keeps_rest(spark):
    df = _mk(spark, [([1.0, 2.0], [3.0, 4.0])], 2).withColumn("tag", F.lit("x"))
    out = append_pair_dot(df, "a", "b", "d")
    assert out.columns == ["id", "tag", "d"]
    assert out.collect()[0]["d"] == 11.0


def test_pair_dot_rejects_ragged(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [1.0, 2.0]), (2, [1.0], [1.0])],
        "id bigint, a array<double>, b array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match="ragged"):
        append_pair_dot(df, "a", "b", "d").collect()


_KERNELS = pytest.mark.parametrize(
    "kernel, elem", [(append_pair_dot, "double"), (append_pair_dot_i64, "bigint")]
)


def _pair(spark, elem, a, b):
    return spark.createDataFrame(
        [(1, a, b)], "id bigint, a array<bigint>, b array<bigint>"
    ).selectExpr("id", f"CAST(a AS array<{elem}>) AS a", f"CAST(b AS array<{elem}>) AS b")


@_KERNELS
def test_pair_dot_rejects_null_element(spark, kernel, elem):
    df = _pair(spark, elem, [1, None], [1, 2])
    with pytest.raises(Exception, match="without null elements"):
        kernel(df, "a", "b", "d").collect()


@_KERNELS
def test_pair_dot_rejects_mismatched_lengths(spark, kernel, elem):
    # b's extra element would otherwise be dropped without a word
    df = _pair(spark, elem, [1, 2], [1, 2, 3])
    with pytest.raises(Exception, match="differ in shape"):
        kernel(df, "a", "b", "d").collect()


def test_pair_dot_matches_python_fold(spark):
    rng = random.Random(11)
    rows = [
        (
            [rng.uniform(-10, 10) for _ in range(8)],
            [rng.uniform(-10, 10) for _ in range(8)],
        )
        for _ in range(20)
    ]
    df = _mk(spark, rows, 8)
    got = {
        r["id"]: r["d"]
        for r in append_pair_dot(df, "a", "b", "d").select("id", "d").collect()
    }
    for i, (a, b) in enumerate(rows):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        assert _bits(got[i]) == _bits(acc)
