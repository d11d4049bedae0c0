"""Bloom-filter semi-join reduction (SURVEY.md §2B scale notes:
"minimize shuffles ... broadcast small sides").

The gap this fills: a fact-fact join whose build side is too large to
broadcast as ROWS but whose KEY SET fits a few MB as a Bloom filter.
Building the filter costs one map-combinable aggregation of the build
side; testing the probe side against it BEFORE the shuffle removes the
(usually dominant) fraction of probe rows that cannot match — at
100 TB the probe shuffle is the bottleneck, and this is the standard
semi-join-reduction move (Spark's own InjectRuntimeFilter does the
same thing when statistics let it; this operator is the deterministic,
always-on spelling).

Correctness is unconditional: a Bloom filter has no false negatives,
so every probe row that would survive the real join passes the
pre-filter; false positives are dropped by the join itself. The one
precondition is that both key columns share a TYPE — xxhash64 hashes
int-vs-bigint differently where the join would implicitly cast, so
``bloom_reduced_join`` rejects mismatched key types rather than
silently dropping every match. The registered q22 'bloom' leg pins
result equality under the DuckDB oracle; ``tests/test_bloom.py`` pins
the row-level reduction property.

Plan shape, and why the filter is a LITERAL: the build side aggregates
bit masks per 64-bit word (map-side combinable, at most m/64 rows
cross the exchange), the bounded word frame collects to the driver
(m/8 bytes — a control-plane aggregate exactly like the PQ codebooks
and BPE vocab collects, never keys or rows), and the packed bytes
re-enter the probe plan as ONE BinaryType literal. The literal is
referenced per task, not per row. The rejected alternative — carrying
the word array as a column via a one-row broadcast join — was built
first and measured: evaluation cost scaled with m PER PROBE ROW
(~3 ms/row at m=3.8M bits, 178 s for a 60 k-row probe at sf0.01),
because the joined array is rematerialized per row; the literal form
is O(k) per row at any m. Filter size is capped at 8 MiB (64M bits) —
the same ceiling Spark's runtime bloom filter uses
(spark.sql.optimizer.runtime.bloomFilter.maxNumBits) — past which the
literal itself would bloat every stage's task binary and the caller
should fall back to a plain shuffle join.

The probe-side bit test is pure codegen: xxhash64 for the k positions,
substr() on the binary literal for the addressed byte, hex()/conv()
to lift it to an int, shiftright/bitwiseAND for the bit — no UDF, no
Python. (Spark exposes bloom_filter_agg/might_contain only internally
— not registered in the public SQL function registry, see sql/catalyst
FunctionRegistry — hence the from-scratch spelling.)
"""

from __future__ import annotations

import math
import struct

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["bloom_params", "bloom_build", "bloom_prefilter", "bloom_reduced_join"]

#: Cap on filter size — Spark's own runtime-bloom ceiling (64M bits = 8 MiB).
_MAX_M_BITS = 67_108_864


def _shl(col: Column, n: Column) -> Column:
    """shiftleft with a COLUMN shift amount — the pyspark wrapper types
    numBits as a Python int only; the SQL function itself takes any int
    expression, reachable via call_function."""
    return F.call_function("shiftleft", col, n)


def _shr(col: Column, n: Column) -> Column:
    return F.call_function("shiftright", col, n)


def bloom_params(n_items: int, fpp: float = 1e-4) -> tuple[int, int]:
    """Standard optimal sizing: m = -n·ln(p)/ln(2)², k = (m/n)·ln(2),
    with m rounded up to a whole number of 64-bit words. Driver-side
    floats only — nothing here touches the plan."""
    if n_items < 1:
        raise ValueError("n_items must be >= 1")
    if not (0.0 < fpp < 1.0):
        raise ValueError("fpp must be in (0, 1)")
    m = -n_items * math.log(fpp) / (math.log(2.0) ** 2)
    m_bits = max(64, int(math.ceil(m / 64.0)) * 64)
    if m_bits > _MAX_M_BITS:
        raise ValueError(
            f"sized filter ({m_bits} bits) exceeds the 64M-bit cap; a key "
            "set this large should fall back to a plain shuffle join"
        )
    k = max(1, round(m_bits / n_items * math.log(2.0)))
    return m_bits, k


def _positions(key: Column, m_bits: int, k: int) -> Column:
    """array<bigint> of the k bit positions for ``key`` — position i is
    pmod(xxhash64(key, i), m) (the seed column varies per element, so
    the per-element lambda genuinely depends on i; xxhash64 folds a
    NULL key to the hash of the seed alone, which only ever ADDS a
    spurious pass — nulls never match an equi-join anyway)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(k - 1)),
        lambda i: F.pmod(F.xxhash64(key, i), F.lit(m_bits).cast("bigint")),
    )


def bloom_build(build: DataFrame, key: str, *, m_bits: int, k: int) -> bytes:
    """m_bits/8 packed filter bytes covering every non-null ``key`` in
    ``build`` (little-endian words, so global bit p lives at byte p>>3,
    bit p&7).

    Distributed part: explode each key into k (word, mask) pairs,
    bit_or per word — partial aggregation collapses each input
    partition to at most m/64 rows before the exchange. No distinct()
    on the build side: bit-setting is idempotent, and skipping it
    saves a full shuffle of the keys. Driver part: collect the word
    rows (bounded by m/64 — control-plane, filter bytes only, never
    keys) and pack."""
    if m_bits % 64 != 0:
        raise ValueError("m_bits must be a multiple of 64")
    if m_bits > _MAX_M_BITS:
        raise ValueError("m_bits exceeds the 64M-bit cap")
    n_words = m_bits // 64
    pos = F.explode(_positions(F.col(key), m_bits, k)).alias("pos")
    rows = (
        build.select(pos)
        .select(
            F.shiftright("pos", 6).cast("int").alias("w"),
            _shl(F.lit(1).cast("bigint"), F.pmod("pos", F.lit(64)).cast("int")).alias("mask"),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r.w] = r.word
    return struct.pack(f"<{n_words}q", *words)


def bloom_might_contain(blob: Column, key: Column, *, m_bits: int, k: int) -> Column:
    """Boolean Column: every one of ``key``'s k bit positions is set
    in ``blob`` (a BinaryType literal holding m_bits/8 packed
    little-endian bytes). The bit test is a forall over the
    position array: substr() the addressed byte, hex()/conv() it to
    an int (one byte — no 64-bit sign games), then shift/mask. O(k)
    per row regardless of m; pure codegen, addressing bits exactly as
    bloom_build packed them."""

    def bit_set(p: Column) -> Column:
        byte = F.conv(
            F.hex(F.substr(blob, (F.shiftright(p, 3) + F.lit(1)).cast("int"), F.lit(1))),
            16,
            10,
        ).cast("int")
        return _shr(byte, F.pmod(p, F.lit(8)).cast("int")).bitwiseAND(F.lit(1)) == F.lit(1)

    return F.forall(_positions(key, m_bits, k), bit_set)


def bloom_prefilter(
    probe: DataFrame, filter_bytes: bytes, key: str, *, m_bits: int, k: int
) -> DataFrame:
    """``probe`` minus the rows whose ``key`` is provably absent from
    the filter — same schema as ``probe``. The filter enters the plan
    as one BinaryType literal (per-stage constant)."""
    if len(filter_bytes) * 8 != m_bits:
        raise ValueError(
            f"filter is {len(filter_bytes) * 8} bits but m_bits={m_bits}"
        )
    return probe.where(
        bloom_might_contain(F.lit(filter_bytes), F.col(key), m_bits=m_bits, k=k)
    )


def bloom_reduced_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    *,
    n_items_hint: int,
    fpp: float = 1e-4,
) -> DataFrame:
    """The composed move: size the filter from ``n_items_hint``
    (expected distinct build keys — an overestimate only wastes
    filter bytes, never correctness), build it on the first join key
    (one eager control-plane job, like the codebook collects),
    pre-filter the probe, then run the ordinary inner equi-join, which
    drops the provably-unmatched probe rows anyway."""
    # xxhash64 is TYPE-sensitive where the equi-join is not: the join
    # would implicitly cast int-vs-bigint keys, but their hashes
    # differ, and every true match would silently fail the pre-filter
    # (confirmed empirically — zero rows out). Mismatched key types
    # must therefore be an error, never a wrong answer; the caller
    # casts one side explicitly.
    pt = probe.schema[on[0]].dataType
    bt = build.schema[on[0]].dataType
    if pt != bt:
        raise ValueError(
            f"probe and build key {on[0]!r} differ in type "
            f"({pt.simpleString()} vs {bt.simpleString()}); xxhash64 hashes "
            "these differently even where the join would cast, which would "
            "silently drop every match — cast one side first"
        )
    m_bits, k = bloom_params(n_items_hint, fpp)
    blob = bloom_build(build, on[0], m_bits=m_bits, k=k)
    return bloom_prefilter(probe, blob, on[0], m_bits=m_bits, k=k).join(build, on)
