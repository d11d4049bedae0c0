"""Skew-safe equi-join via key salting (SURVEY.md §2B scale notes:
"skewed keys → salting or AQE skew-join").

AQE's skew-join split handles most skew automatically (and is enabled
by the session factory); explicit salting is the deterministic manual
tool for the cases AQE can't fix — e.g. a single hot key whose BUILD
side must also be replicated, or stateful/windowed follow-ups that
need the finer partitioning to persist.

Mechanics: the probe (large, skewed) side tags each row with a salt in
[0, factor) derived from caller-chosen columns — deterministic, so
re-runs partition identically; the build side replicates every row
``factor`` times. The join key becomes (key, salt): a key that hashed
to 1 hot partition now spreads over ``factor`` partitions at the cost
of factor× build-side rows (bounded: build side is the small one).
Results are exactly the plain join's — pinned by the unit test.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(
    probe: DataFrame,
    build: DataFrame,
    on: list[str],
    salt_from: Column,
    factor: int,
) -> DataFrame:
    """Inner equi-join ``probe ⋈ build`` on ``on`` with the shuffle
    spread over ``factor`` salted sub-keys.

    salt_from: deterministic expression over probe columns (NOT the
    join key — salting the key's own hash would undo the spread) used
    to derive the salt, e.g. ``F.col("l_linenumber")`` or
    ``F.crc32(F.col("some_col").cast("string"))``. A NULL salt_from
    value lands in salt bucket 0 (coalesced) so key-matching rows are
    never silently dropped.
    """
    if factor < 1:
        raise ValueError("factor must be >= 1")
    if "__salt" in probe.columns or "__salt" in build.columns:
        raise ValueError("__salt column already present")
    p = probe.withColumn(
        "__salt",
        F.coalesce(F.pmod(salt_from.cast("bigint"), F.lit(factor)), F.lit(0)),
    )
    b = build.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(factor)]))
    )
    return p.join(b, on + ["__salt"]).drop("__salt")
