"""Ordered-sequence funnel over an event stream (SURVEY.md §2B
"Window analytic" adjunct: the behavioral-analytics counterpart of
sessionization — "which users did view → click → purchase, in order,
and how long did the path take" — the MATCH_RECOGNIZE /
windowFunnel-class operator of event warehouses, restated as window
algebra Spark executes with ONE exchange).

Semantics (the chained-minimum form, the one every funnel engine
documents): t_1 = earliest step-1 event; t_k = earliest step-k event
at or after t_{k-1}. ``stage`` is the number of steps completed;
``funnel_sec`` the seconds from t_1 to the last completed step (NULL
below stage 2 — a one-step path has no duration). A time horizon is
deliberately a CALLER filter on funnel_sec, not a parameter: the
chained minima are horizon-independent, so one computation serves any
horizon.

Plan shape: the step columns are K sibling Window nodes over the SAME
``partitionBy(user)`` spec — Catalyst plans ONE hash exchange and K
chained Window operators, then the per-user collapse rides the
existing partitioning (no second shuffle). Nothing leaves the JVM;
state per user is K timestamps. At 100 TB this is strictly cheaper
than the collect_list-and-fold spelling, which would materialize every
user's full event array in memory.

No reference counterpart (the reference has no event-sequence
analytics); DuckDB oracle = the same chained minima as explicit CTEs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def funnel(
    events: DataFrame,
    steps: Sequence[str],
) -> DataFrame:
    """(user_id, stage, step timestamps t1..tK, funnel_sec) per user
    that has at least one event (stage 0 = never reached step 1), over
    ``events``' (user_id, ts, event_type)."""
    if len(steps) < 2:
        raise ValueError(f"a funnel needs >= 2 steps, got {list(steps)}")
    if len(set(steps)) != len(steps):
        raise ValueError(f"duplicate steps: {list(steps)}")
    w = W.partitionBy("user_id")
    df = events.select("user_id", "ts", "event_type")
    tcols = []
    for k, step in enumerate(steps, start=1):
        cond = F.col("event_type") == step
        if tcols:
            cond = cond & (F.col("ts") >= F.col(tcols[-1]))
        name = f"t{k}"
        df = df.withColumn(name, F.min(F.when(cond, F.col("ts"))).over(w))
        tcols.append(name)
    # build ascending so the OUTERMOST when tests the deepest stage
    stage = F.lit(0)
    for k in range(1, len(steps) + 1):
        stage = F.when(F.col(f"t{k}").isNotNull(), k).otherwise(stage)
    last_ts = F.coalesce(*[F.col(f"t{k}") for k in range(len(steps), 0, -1)])
    return (
        df.groupBy("user_id")
        .agg(*[F.first(c).alias(c) for c in tcols])
        .select(
            "user_id",
            stage.cast("int").alias("stage"),
            *tcols,
            F.when(
                stage >= 2,
                (
                    F.unix_timestamp(last_ts.cast("timestamp"))
                    - F.unix_timestamp(F.col("t1").cast("timestamp"))
                ),
            )
            .cast("bigint")
            .alias("funnel_sec"),
        )
    )


def sql_funnel(steps: Sequence[str]) -> str:
    """DuckDB spelling of the identical chained minima over the
    ``events`` view — a CTE body yielding (user_id, stage, t1..tK,
    funnel_sec)."""
    k = len(steps)
    selects = [f"SELECT user_id, MIN(CASE WHEN event_type = '{steps[0]}' THEN ts END) AS t1 FROM events GROUP BY user_id"]
    prev = "f1"
    body = [f"f1 AS ({selects[0]})"]
    for i in range(2, k + 1):
        body.append(
            f"f{i} AS (SELECT {prev}.user_id, t{i-1}, "
            + (", ".join(f"t{j}" for j in range(1, i - 1)) + ", " if i > 2 else "")
            + f"MIN(CASE WHEN e.event_type = '{steps[i-1]}' AND e.ts >= t{i-1} THEN e.ts END) AS t{i} "
            f"FROM {prev} LEFT JOIN events e ON e.user_id = {prev}.user_id "
            f"GROUP BY ALL)"
        )
        prev = f"f{i}"
    stage = "CASE " + " ".join(
        f"WHEN t{i} IS NOT NULL THEN {i}" for i in range(k, 0, -1)
    ) + " ELSE 0 END"
    last = "COALESCE(" + ", ".join(f"t{i}" for i in range(k, 0, -1)) + ")"
    cols = ", ".join(f"t{i}" for i in range(1, k + 1))
    return (
        "WITH " + ",\n".join(body) + f"""
    SELECT user_id, CAST({stage} AS INTEGER) AS stage, {cols},
           CASE WHEN {stage} >= 2
                THEN CAST(date_diff('second', t1, {last}) AS BIGINT) END AS funnel_sec
    FROM {prev}
    """
    )
