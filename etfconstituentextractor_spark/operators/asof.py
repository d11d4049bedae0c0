"""Distributed as-of join (nearest-prior-event join).

Spark has no native ASOF JOIN (DuckDB does — it is the oracle for
q27). The classic distributed formulation avoids both a range-join
blowup and per-group pandas: union the two inputs into one ordered
stream per key, then carry the most recent right-side payload forward
with ``last(..., ignorenulls=True)`` over an ordered window.

Cost at scale: ONE shuffle (window partitioning on the key) over
left+right — same order as a sort-merge join — and no skew-prone
range predicate. This beats ``pd.merge_asof`` inside
``applyInPandas`` (which shuffles the same data AND crosses the
Python boundary) and beats the naive non-equi join (quadratic per
key).

A tolerance is not a second join: for a backward as-of the only
candidate inside a tolerance window is the overall last match, so
``within_tolerance`` is a predicate over the one carried timestamp
(``F.when(within_tolerance(...), payload)``), and the carry runs once
however many tolerances a query reports.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str | list[str],
    left_ts: str,
    right_ts: str,
    right_payload: dict[str, str],
) -> DataFrame:
    """For each left row, attach the right row with the greatest
    ``right_ts <= left_ts`` within the same ``on`` key (backward
    as-of, ties include the simultaneous right row). Unmatched left
    rows keep null payloads (LEFT semantics).

    right_payload maps output column name -> right column name. Ties
    among right rows sharing (key, right_ts) go to the row with the
    LARGEST first right_payload source column, so the carried payload
    is deterministic even on duplicate-timestamp inputs.
    """
    on_cols = [on] if isinstance(on, str) else list(on)
    left_rest = [c for c in left.columns if c not in on_cols]
    right_tiebreak = next(iter(right_payload.values()))

    # Reserved / output names must not collide with left columns:
    # withColumn on a duplicate name would silently overwrite the left
    # side with carried right payload instead of erroring.
    reserved = {"__t", "__side", "__tb"} | {f"__p_{o}" for o in right_payload}
    collisions = (set(right_payload) | reserved) & set(left.columns)
    if collisions:
        raise ValueError(
            f"asof_join: output/reserved names collide with left columns: {sorted(collisions)}"
        )

    lt = dict(zip(left.columns, left.schema.fields))
    rt = dict(zip(right.columns, right.schema.fields))

    payload_tmp = {out: f"__p_{out}" for out in right_payload}

    l_side = left.select(
        *on_cols,
        F.col(left_ts).alias("__t"),
        F.lit(0).alias("__side"),
        F.lit(None).cast(rt[right_tiebreak].dataType).alias("__tb"),
        *[F.lit(None).cast(rt[rc].dataType).alias(tmp) for (out, rc), tmp in zip(right_payload.items(), payload_tmp.values())],
        *left_rest,
    )
    r_side = right.select(
        *on_cols,
        F.col(right_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.col(right_tiebreak).alias("__tb"),
        *[F.col(rc).alias(payload_tmp[out]) for out, rc in right_payload.items()],
        *[F.lit(None).cast(lt[c].dataType).alias(c) for c in left_rest],
    )

    unioned = l_side.unionByName(r_side)
    # At equal timestamps the right row must sort first so the left row
    # sees it (>= semantics); __side desc does that. Among right rows
    # sharing (key, ts), __tb asc puts the largest tiebreak value last
    # in the frame, so last() carries it — deterministic on duplicates.
    w = (
        W.partitionBy(*on_cols)
        .orderBy(F.col("__t").asc(), F.col("__side").desc(), F.col("__tb").asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    for out in right_payload:
        unioned = unioned.withColumn(out, F.last(payload_tmp[out], ignorenulls=True).over(w))

    return unioned.filter(F.col("__side") == 0).select(
        *on_cols,
        *left_rest,
        *right_payload.keys(),
    )


def within_tolerance(left_ts: str, carried_ts: str, tolerance: Column) -> Column:
    """True where an as-of match is at most ``tolerance`` older than
    its left row: ``left_ts - carried_ts <= tolerance``, with
    ``carried_ts`` the right timestamp carried through ``asof_join``'s
    payload and ``tolerance`` an interval Column (e.g.
    ``F.expr("INTERVAL 1 HOUR")``). Both sides go through
    ``cast("timestamp")``, so bigint (seconds) and ``timestamp_ntz``
    timestamps compare alike. NULL where there is no match, so
    ``F.when(within_tolerance(...), payload)`` nulls unmatched and
    too-old rows exactly like SQL's ``CASE WHEN gap <= tol THEN ...``.
    """
    gap = F.col(left_ts).cast("timestamp") - F.col(carried_ts).cast("timestamp")
    return gap <= tolerance
