"""Incremental maintenance of grouped aggregates through a CDC delta
(SURVEY.md §2B "LLM-pipeline — snapshot diff" adjunct: the
materialized-view-maintenance primitive — a 100 TB corpus refresh
keeps its per-source/per-language statistics by APPLYING the delta to
the standing aggregate instead of rescanning the corpus; cost is
O(changed rows), not O(corpus)).

Two pieces:

- ``cdc_group_delta(old, new, ...)`` — per-group (d_count, d_measure)
  contributions from a keyed refresh: each changed key contributes
  its OLD row negatively and its NEW row positively (an update whose
  group changed therefore moves mass between groups, and an update
  within a group contributes its measure difference). Reduction to
  (key, group, measure, md5) happens BEFORE the full-outer join —
  the shuffle carries hashes, groups, and one number per side, never
  payloads — and unchanged keys (the overwhelming majority of a real
  refresh) drop right after, exactly `snapshot_diff`'s posture (the
  hash framing is shared: null sentinel + unit separator).
- ``apply_group_delta(base, delta, ...)`` — full-outer join the
  standing aggregate with the contributions and sum; groups whose
  maintained count reaches zero disappear (as a recompute would make
  them), and a NEGATIVE maintained count raises — that can only mean
  the base aggregate and the old snapshot disagree, and carrying the
  corruption forward silently is how materialized views rot.

Measure semantics: SUM(COALESCE(measure, 0)) — an all-NULL group
totals 0, not SQL-NULL (the (count, sum) state cannot distinguish
them; the oracle states the same COALESCE).

The invariant the tests and the q86 'mv' oracle leg pin:
``apply_group_delta(agg(v1), cdc_group_delta(v1, v2)) == agg(v2)``
— maintenance equals recompute, checked by the driver as a value
hash against DuckDB's direct recompute of agg(v2).

No reference counterpart (the reference regenerates everything per
run, `ETFQuarterlyHoldingsExtractor.py:145-159`).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import functions as F



def cdc_group_delta(
    old: DataFrame,
    new: DataFrame,
    *,
    key_col: str,
    group_col: str,
    measure_expr: str,
) -> DataFrame:
    """(group, d_count, d_measure) over the keys that changed between
    ``old`` and ``new`` (both keyed uniquely by ``key_col``).
    ``measure_expr`` is any SQL expression over a row's columns (e.g.
    ``length(text)``); a NULL measure counts as 0 — the maintained
    measure column is SUM(COALESCE(measure, 0)), NOT SQL's
    null-skipping SUM, because (count, sum) state cannot know whether
    a group's remaining measures are all NULL (callers wanting other
    NULL semantics encode them in measure_expr). The change hash
    covers the group and the 0-coalesced measure, so a row counts as changed
    exactly when its contribution to the aggregate changes. The hash
    uses the family's null-sentinel + unit-separator framing (see
    `snapshot_diff.payload_hash`) with the measure as a second field,
    in ONE md5.

    One pass over the diff: each changed key EXPLODES into its
    (old-negative, new-positive) contribution pair from a single
    full-outer-join result — the join subtree is never consumed
    twice (the q73/substring-dedup lesson)."""

    def side(df: DataFrame, tag: str) -> DataFrame:
        m = F.coalesce(F.expr(measure_expr).cast("bigint"), F.lit(0))
        # ONE md5 over (null-sentineled group, coalesced measure) —
        # the payload_hash framing with the measure as a second field
        # (review r7: chaining payload_hash into a second md5 doubled
        # the hash work on the full-corpus scan)
        h = F.md5(
            F.concat_ws(
                "\x1f",
                F.coalesce(F.col(group_col).cast("string"), F.lit("\x00null")),
                m.cast("string"),
            )
        )
        return df.select(
            F.col(key_col).alias("__k"),
            F.col(group_col).alias(f"{tag}_g"),
            m.alias(f"{tag}_m"),
            h.alias(f"{tag}_h"),
        )

    o = side(old, "o")
    n = side(new, "n")
    changed = o.join(n, "__k", "full_outer").filter(
        F.col("o_h").isNull() | F.col("n_h").isNull() | (F.col("o_h") != F.col("n_h"))
    )
    # old side contributes negatively, new side positively; a
    # group-moving update emits into BOTH groups. One explode, so the
    # join runs once; absent sides yield dc=0 rows filtered right out.
    contrib = (
        changed.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("o_g").alias("g"),
                        F.when(F.col("o_h").isNotNull(), F.lit(-1)).otherwise(0).alias("dc"),
                        F.when(F.col("o_h").isNotNull(), -F.col("o_m")).otherwise(0).alias("dm"),
                    ),
                    F.struct(
                        F.col("n_g").alias("g"),
                        F.when(F.col("n_h").isNotNull(), F.lit(1)).otherwise(0).alias("dc"),
                        F.when(F.col("n_h").isNotNull(), F.col("n_m")).otherwise(0).alias("dm"),
                    ),
                )
            ).alias("c")
        )
        .select("c.*")
        .filter(F.col("dc") != 0)
    )
    return (
        contrib.groupBy("g")
        .agg(
            F.sum("dc").cast("bigint").alias("d_count"),
            F.sum("dm").cast("bigint").alias("d_measure"),
        )
        .select(F.col("g").alias(group_col), "d_count", "d_measure")
    )


def apply_group_delta(
    base: DataFrame,
    delta: DataFrame,
    *,
    group_col: str,
) -> DataFrame:
    """Maintained aggregate (group, n, m) = base ⊕ delta. Groups whose
    count falls to zero drop (recompute semantics); negative counts raise inside
    the plan (assert_true) — the base disagreed with the snapshot the
    delta was computed from. The join is NULL-SAFE on the group: a
    NULL group is a real group in aggregate semantics, and a plain
    equi-join would split it into two rows."""
    b = base.withColumnRenamed(group_col, "__bg")
    joined = b.join(
        delta, F.col("__bg").eqNullSafe(F.col(group_col)), "full_outer"
    ).withColumn(group_col, F.coalesce(F.col(group_col), F.col("__bg")))
    n = F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("d_count"), F.lit(0))
    m = F.coalesce(F.col("m"), F.lit(0)) + F.coalesce(F.col("d_measure"), F.lit(0))
    guard = F.assert_true(
        n >= 0,
        F.lit(
            "apply_group_delta: maintained count went negative — the base "
            "aggregate does not match the snapshot this delta was computed from"
        ),
    )
    return (
        joined.select(
            group_col,
            F.when(guard.isNull(), n).cast("bigint").alias("n"),
            m.cast("bigint").alias("m"),
        )
        .filter(F.col("n") > 0)
    )
