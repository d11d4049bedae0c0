"""Z-order (Morton curve) layout clustering for multi-dimensional
data skipping (SURVEY.md §4.2 "layout levers" / §2B sinks adjunct; no
reference counterpart — the reference writes one unsorted CSV,
`ETFQuarterlyHoldingsExtractor.py:135-143`).

Sorting a table by ONE column gives parquet row-group min/max stats
that prune filters on that column only; filters on a second column
read everything. Interleaving the bits of two bucketed columns into
one Morton key and sorting by THAT gives row groups that are tight
rectangles in (a, b) space — both columns' stats become selective.
This is the classic lakehouse Z-ORDER optimization (Delta/Iceberg
expose it as a table service), stated here as plain DataFrame math:

- ``minmax_bucket``: scale a numeric column into [0, 2^bits) against
  broadcast global min/max (one scalar aggregate — never a window
  over the full table, which would serialize the corpus through one
  partition).
- ``z_value``: interleave two bucketed columns' bits with the
  shift-and-mask spread trick — pure integer codegen, no UDF.
- ``zorder_layout``: append ``__z`` to a frame (buckets + interleave).
- ``write_zordered``: range-partition + sort by ``__z`` and write
  parquet — at 100 TB each output task writes one tight Z-range, so
  row-group stats prune BOTH dimensions cluster-wide.

The Morton math is pinned against a pure-Python bit-interleave
reference, and the skipping claim is proven with executed-plan scan
metrics (tests/test_zorder.py): on the second dimension a Z-ordered
copy reads a fraction of what a single-column-sorted copy reads.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: max bits per dimension (two 16-bit halves fill a 32-bit Z value)
_MAX_BITS = 16

_SPREAD_STEPS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread(c: Column) -> Column:
    """Spread a 16-bit value's bits to the even positions of a 32-bit
    word (classic Morton shift-and-mask)."""
    for shift, mask in _SPREAD_STEPS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def z_value(a: Column, b: Column, bits: int = 16) -> Column:
    """Morton interleave of two integer columns already in
    [0, 2^bits): bit i of ``a`` lands at position 2i, of ``b`` at
    2i+1. Pure integer codegen — no UDF, no shuffle."""
    if not 1 <= bits <= _MAX_BITS:
        raise ValueError(f"bits must be in [1, {_MAX_BITS}], got {bits}")
    return _spread(a.cast("bigint")).bitwiseOR(
        F.shiftleft(_spread(b.cast("bigint")), 1)
    )


def z_value_n(cols: list[Column], bits: int) -> Column:
    """Morton interleave of N integer columns already in [0, 2^bits)
    (round 11 — Delta's multi-column OPTIMIZE ZORDER BY shape): bit i
    of dimension d lands at position ``i*N + d``. Two dimensions take
    the log-step shift-and-mask fast path; N >= 3 builds the
    bit-gather as an OR chain of ``bits`` shifted single-bit terms
    per dimension — all constant-folded integer codegen, no UDF, and
    the total key stays inside a signed 64-bit value (``bits*N <=
    63`` enforced)."""
    n = len(cols)
    if n < 2:
        raise ValueError("z_value_n needs at least 2 columns")
    if bits * n > 63:
        raise ValueError(
            f"bits*dims = {bits * n} exceeds a signed 64-bit key — "
            f"lower bits (max {63 // n} for {n} dims)"
        )
    if n == 2 and bits <= _MAX_BITS:
        # the log-step fast path covers the classic 32-bit key; wider
        # 2-dim keys (bits 17..31 — legal under the 63-bit contract)
        # take the general gather (round-11 second review: the fast
        # path's own 16-bit cap leaked out as a confusing ValueError)
        return z_value(cols[0], cols[1], bits)
    z: Column | None = None
    for d, c in enumerate(cols):
        cb = c.cast("bigint")
        for i in range(bits):
            term = F.shiftleft(
                F.shiftright(cb, i).bitwiseAND(F.lit(1)), i * n + d
            )
            z = term if z is None else z.bitwiseOR(term)
    return z


def minmax_bucket(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Scale ``col`` into [0, 2^bits) against (broadcast) global
    min/max scalars; a constant column collapses to bucket 0."""
    span = cmax.cast("double") - cmin.cast("double")
    frac = F.when(span > 0, (col.cast("double") - cmin.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    top = F.lit((1 << bits) - 1)
    return F.least(F.floor(frac * (1 << bits)).cast("bigint"), top.cast("bigint"))


def zorder_layout(df: DataFrame, *cols: str, bits: int = 12) -> DataFrame:
    """``df`` + a Morton key column ``__z`` over N columns (2-column callers
    unchanged: ``zorder_layout(df, "a", "b")``). The global min/max
    come from ONE scalar aggregate broadcast back — a 1-row frame,
    never a global window. For N >= 3 the per-dimension bit budget
    shrinks to keep the key in 63 bits (the resolution each dimension
    loses is the standard Z-order trade as dimensions grow)."""
    if "__z" in df.columns:
        raise ValueError("input already has a '__z' column")
    if len(cols) < 2:
        raise ValueError("zorder_layout needs at least 2 columns")
    bits = min(bits, 63 // len(cols))
    aggs = []
    for i, c in enumerate(cols):
        aggs += [F.min(c).alias(f"__min{i}"), F.max(c).alias(f"__max{i}")]
    bounds = df.agg(*aggs)
    bucketed = [
        minmax_bucket(F.col(c), F.col(f"__min{i}"), F.col(f"__max{i}"), bits)
        for i, c in enumerate(cols)
    ]
    drop = [f"__{m}{i}" for i in range(len(cols)) for m in ("min", "max")]
    return (
        df.crossJoin(F.broadcast(bounds))
        .withColumn("__z", z_value_n(bucketed, bits))
        .drop(*drop)
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 12,
    n_files: int = 1,
    block_size: int | None = None,
) -> None:
    """Write ``df`` as parquet clustered on the (col_a, col_b) Morton
    curve: range-partition by the Z key (each task owns one tight
    Z-range → a tight rectangle in value space), sort within, drop
    the key, write. ``block_size`` shrinks row groups for tests."""
    laid = zorder_layout(df, col_a, col_b, bits=bits)
    if n_files == 1:
        laid = laid.repartition(1)
    else:
        laid = laid.repartitionByRange(n_files, "__z")
    w = laid.sortWithinPartitions("__z").drop("__z").write.mode("overwrite")
    if block_size is not None:
        w = w.option("parquet.block.size", block_size)
    w.parquet(path)


def py_z_value(a: int, b: int, bits: int = 16) -> int:
    """Pure-Python bit-interleave reference for tests."""
    z = 0
    for i in range(bits):
        z |= ((a >> i) & 1) << (2 * i)
        z |= ((b >> i) & 1) << (2 * i + 1)
    return z


def py_z_value_n(vals: list[int], bits: int) -> int:
    """Pure-Python N-dimension interleave reference for tests."""
    n = len(vals)
    z = 0
    for d, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * n + d)
    return z
