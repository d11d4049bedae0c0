"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY.md §2B "Streaming — stateful dedup / custom state": the escape
hatch when built-in stateful ops — windows, dropDuplicates — can't
express the semantics).

The one operator here, ``sessionize`` (q59), is gap-based
sessionization, chosen deliberately because Spark's built-in
``session_window`` computes the same thing: the unit test replays the
same events through BOTH paths and requires identical results, which
pins the custom state machine's correctness (timeout handling,
cross-batch state carry, final flush) against an independent
engine-native implementation.

State machine per user key:
- state = (session_start, last_ts, n, sum_value) of the OPEN session;
- each micro-batch's rows for the key arrive as a pandas frame; rows
  are processed in event-time order, extending the session or closing
  it and opening a new one when the gap exceeds ``gap``;
- closed sessions are emitted immediately; the still-open session
  stays in state across batches;
- on event-time timeout (watermark passed last_ts + gap) the open
  session is flushed. Under AvailableNow replay the final watermark is
  max(ts) - delay, so an open session whose timeout (last_ts + gap)
  lies BEYOND that watermark is never emitted — it remains in state
  when the replay ends (test_stateful_streaming.py pins this
  contract). Callers needing every session flushed must stage a
  sentinel event far enough in the future to push the watermark past
  all timeouts.
"""

from __future__ import annotations

import calendar
from collections.abc import Iterator
from datetime import timedelta

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: output schema of the sessionize operator.
SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n bigint, sum_value double"
)
_STATE_SCHEMA = "start timestamp, last timestamp, n bigint, sum_value double"


def _utc_epoch_ms(ts) -> int:
    """Naive event-time datetimes are rendered in the SESSION time
    zone, which this engine pins to UTC — interpret them as UTC
    explicitly (datetime.timestamp() would use the worker OS zone:
    on a non-UTC host the armed timeout shifts by the offset and
    can fall below the watermark, killing the query)."""
    return calendar.timegm(ts.timetuple()) * 1000 + ts.microsecond // 1000


def sessionize(events: DataFrame, gap_minutes: int) -> DataFrame:
    """Gap-based sessions per user over a (streaming) events frame with
    columns (user_id, ts: timestamp, value). session_end = last event
    + gap, matching ``F.session_window`` semantics (exclusive end)."""
    gap = timedelta(minutes=gap_minutes)

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            start, last, n, sv = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, start, last + gap, n, sv)],
                columns=["user_id", "session_start", "session_end", "n", "sum_value"],
            )
            return

        rows = pd.concat(list(pdfs)).sort_values(["ts"])
        if state.exists:
            start, last, n, sv = state.get
        else:
            start = last = None
            n, sv = 0, 0.0

        out = []
        for ts, value in zip(rows["ts"], rows["value"]):
            if last is not None and (ts - last) >= gap:
                out.append((user_id, start, last + gap, n, sv))
                start, n, sv = ts, 0, 0.0
            if start is None:
                start = ts
            last = ts
            n += 1
            sv += float(value)
        state.update((start, last, n, sv))
        # flush the open session if the watermark already passed its
        # close; otherwise arm an event-time timeout at last + gap.
        state.setTimeoutTimestamp(_utc_epoch_ms(last + gap))
        if out:
            yield pd.DataFrame(
                out,
                columns=["user_id", "session_start", "session_end", "n", "sum_value"],
            )

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=SESSION_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


