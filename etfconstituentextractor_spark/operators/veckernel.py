"""Arrow-native strict-left-fold vector kernels (round-15 guide §4.2:
"hand whole batches to vectorized native libraries" — the measured
cost of the similarity/dedup family is the interpreted CodegenFallback
evaluation of ``aggregate(zip_with(...))`` higher-order lambdas, one
Python-free but per-element-interpreted fold per pair).

The kernel moves ONLY the per-pair dot product across the Python
boundary (``mapInArrow``), never the join/ranking logic: Spark still
decides which pairs exist (broadcast cross joins, block joins) and
ranks afterward, so shuffle shape and bytes are unchanged — the rows
that used to flow through the interpreted HOF Project now flow through
one Arrow batch per task instead.

Bit-identity contract (the oracle's 6/9-dp rounding boundary): the
JVM fold evaluates

    acc = 0.0; for j: acc = acc + (a[j] * b[j])

— one IEEE-double multiply and one add per element, left-to-right.
The kernel replays exactly that sequence vectorized ACROSS rows:
``acc += a[:, j] * b[:, j]`` for j in 0..dim-1, where numpy's
elementwise multiply and add are separate correctly-rounded IEEE ops
(no FMA contraction, no pairwise re-association — those only enter
via ``np.dot``/``np.sum``, which this kernel deliberately avoids).
Division/rounding stay in the JVM (Spark's ROUND is BigDecimal
HALF_UP; replicating it in numpy would be the only way to get it
wrong). tests/test_veckernel.py pins kernel == HOF bit-for-bit on
adversarial values.

Scale posture: the kernel is a pure map stage — no shuffle, no state,
iterator form so per-task setup is once (guide §4.5), and callers
``select()`` only the columns the kernel needs before the boundary so
column pruning still reaches the scan (guide §4.1).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

__all__ = ["append_pair_dot", "append_pair_dot_i64", "append_plane_dots"]


def _list_to_2d(col, dtype: str = "float64"):
    """pyarrow ListArray -> (n, dim) ndarray of ``dtype``.

    Zero-copy reslice when the batch is dense (no nulls, uniform
    length — the shape Spark emits for non-null array<double>
    columns); raises on a null vector, a null element or ragged input,
    so a caller bug surfaces as an error, never as a wrong fold.
    """
    import numpy as np

    if col.null_count:
        raise ValueError("pair-dot kernel requires non-null vector columns")
    offsets = col.offsets.to_numpy(zero_copy_only=False)
    widths = offsets[1:] - offsets[:-1]
    if len(widths) == 0:
        return np.empty((0, 0), dtype=dtype)
    dim = int(widths[0])
    if not (widths == dim).all():
        raise ValueError(f"ragged vector column (lengths {set(widths.tolist())})")
    lo, hi = int(offsets[0]), int(offsets[-1])
    values = col.values.slice(lo, hi - lo)
    if values.null_count:
        raise ValueError("pair-dot kernel requires vectors without null elements")
    return values.to_numpy(zero_copy_only=False).astype(dtype, copy=False).reshape(-1, dim)


def _pair_to_2d(batch, va: str, vb: str, dtype: str = "float64"):
    """Both operand columns of a pair kernel as (n, dim) ndarrays;
    raises unless they have the same shape (a dot over mismatched
    lengths would silently drop or misread elements)."""
    a = _list_to_2d(batch.column(va), dtype)
    b = _list_to_2d(batch.column(vb), dtype)
    if a.shape != b.shape:
        raise ValueError(f"pair-dot operands differ in shape: {a.shape} vs {b.shape}")
    return a, b


def _fold_dot(a, b):
    """Strict left-to-right fold of sum_j a[:, j] * b[:, j] — the
    bit-identical vectorized replay of the JVM HOF fold (see module
    docstring). Separate multiply and add ufunc calls per step: numpy
    never fuses them, so each intermediate rounds exactly like the
    JVM's."""
    import numpy as np

    n, dim = a.shape
    acc = np.zeros(n, dtype=np.float64)
    for j in range(dim):
        acc += a[:, j] * b[:, j]
    return acc


def append_pair_dot(
    df: DataFrame, va: str, vb: str, out: str, drop: tuple[str, ...] | None = None
) -> DataFrame:
    """Append ``out`` = strict-left-fold dot(va, vb), dropping the
    columns in ``drop`` (default: both vector columns — they are
    usually spent, and keeping one ships every vector back across the
    Arrow boundary; pass ``drop=(vb,)`` when the caller still needs
    ``va`` downstream).

    Equivalent JVM spelling (replaced, bit-for-bit):

        aggregate(zip_with(va, vb, (x, y) -> x * y), 0D,
                  (acc, x) -> acc + x)
    """
    if drop is None:
        drop = (va, vb)
    keep = [f for f in df.schema.fields if f.name not in drop]
    schema = StructType(keep + [StructField(out, DoubleType(), False)])
    keep_names = [f.name for f in keep]

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            dot = _fold_dot(*_pair_to_2d(batch, va, vb))
            arrays = [batch.column(n) for n in keep_names]
            arrays.append(pa.array(dot, type=pa.float64()))
            yield pa.RecordBatch.from_arrays(arrays, names=keep_names + [out])

    return df.mapInArrow(kernel, schema)


def append_pair_dot_i64(df: DataFrame, va: str, vb: str, out: str) -> DataFrame:
    """Integer twin of ``append_pair_dot``: ``out`` (bigint) =
    sum_j va[j]·vb[j] in int64, dropping both vector columns. Integer
    addition is EXACT, so — unlike the double fold — summation order
    cannot matter and a plain vectorized row-sum is bit-identical to
    the JVM's
    ``aggregate(zip_with(a, b, (x, y) -> CAST(x AS BIGINT) * y), 0L,
    ...)`` fold (no overflow by the callers' construction:
    dim·127² ≪ 2⁶³)."""
    from pyspark.sql.types import LongType

    keep = [f for f in df.schema.fields if f.name not in (va, vb)]
    schema = StructType(keep + [StructField(out, LongType(), False)])
    keep_names = [f.name for f in keep]

    def kernel(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            a, b = _pair_to_2d(batch, va, vb, "int64")
            dot = (a * b).sum(axis=1, dtype="int64") if a.size else a.sum(axis=1)
            arrays = [batch.column(n) for n in keep_names]
            arrays.append(pa.array(dot, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(arrays, names=keep_names + [out])

    return df.mapInArrow(kernel, schema)


def append_plane_dots(
    df: DataFrame,
    v: str,
    planes: list[list[float]],
    out: str,
) -> DataFrame:
    """Replace the vector column ``v`` with ``out`` = array<double> of
    strict-left-fold dots of ``v`` against each LITERAL plane (the q71 SRP
    signature pass: 60 planes × 64 dims per vector was the leg's
    dominant interpreted-HOF cost). The planes ship as a kernel
    closure constant — they were plan literals before, so nothing new
    crosses the boundary.

    For plane p the fold replays acc = acc + (v[j] * p[j]) left-to-
    right exactly like the JVM HOF; rounding stays with the caller
    (JVM ``transform(out, d -> round(d, 9))``), so the composed result
    is bit-identical to the old in-plan spelling.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType

    plane_rows = tuple(tuple(float(x) for x in row) for row in planes)
    keep = [f for f in df.schema.fields if f.name != v]
    schema = StructType(
        keep + [StructField(out, ArrayType(DoubleType(), False), False)]
    )
    keep_names = [f.name for f in keep]

    def kernel(batches: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa

        p = np.array(plane_rows, dtype=np.float64)  # (n_planes, dim)
        for batch in batches:
            x = _list_to_2d(batch.column(v))  # (n, dim)
            n = x.shape[0]
            acc = np.zeros((n, p.shape[0]), dtype=np.float64)
            if n:
                if x.shape[1] != p.shape[1]:
                    raise ValueError(
                        f"vector dim {x.shape[1]} != plane dim {p.shape[1]}"
                    )
                for j in range(p.shape[1]):
                    # acc[r, t] += x[r, j] * p[t, j]: one multiply + one
                    # add per (row, plane) per step — the strict fold,
                    # vectorized across rows AND planes
                    acc += x[:, j, None] * p[None, :, j]
            arrays = [batch.column(nm) for nm in keep_names]
            arrays.append(
                pa.FixedSizeListArray.from_arrays(
                    pa.array(acc.reshape(-1), type=pa.float64()), p.shape[0]
                ).cast(pa.list_(pa.float64()))
            )
            yield pa.RecordBatch.from_arrays(arrays, names=keep_names + [out])

    return df.mapInArrow(kernel, schema)
