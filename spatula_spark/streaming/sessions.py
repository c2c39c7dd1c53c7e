"""Custom stateful streaming operator: gap-based sessionization via
``applyInPandasWithState`` (the arbitrary-state API the task mandates
for operators Structured Streaming lacks natively).

Semantics (exactly oracle-checkable): a session is a maximal run of a
user's events with inter-event gaps <= ``gap_sec``. The operator emits
a session when it is provably CLOSED:

* in-stream: a later event of the same user arrives with gap >
  ``gap_sec`` (the next session starts), or
* by watermark: the event-time timeout fires once the watermark passes
  ``last_ts + gap`` — no on-time event can extend the session.

Sessions still open at end-of-input are correctly NOT emitted (a real
endless stream cannot know they ended) — the DuckDB oracle replicates
the closure predicate: every non-final session of a user, plus final
sessions with ``session_end < max_ts - (gap + watermark_delay)``.

Event times are microsecond-precision; the gap rule compares exact
microseconds (mirrored by the oracle's ``date_diff('microsecond')``).
The timeout clock is the watermark's millisecond resolution: timeout =
``floor(last_us/1000) + gap_ms``, watermark = ``floor(max_us/1000) -
1500``, and the oracle replicates the same ms-floor arithmetic, so
both sides evaluate the identical integer comparison.

State per user: (open-session number, start, last, count) — O(1), not
the event list; 10^9 users is 10^9 tiny rows of state store, the shape
that scales.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from .drain import drain_events

OUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("session_id", LongType()),
    StructField("n_events", LongType()),
    StructField("session_start", TimestampType()),
])
STATE_SCHEMA = StructType([
    StructField("sess_no", LongType()),
    StructField("start_us", LongType()),
    StructField("last_us", LongType()),
    StructField("n", LongType()),
])

GAP_SEC = 1800
WATERMARK = "1500 milliseconds"


def _session_fn(gap_us: int):
    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user_id = int(key[0])
        out: list[tuple[int, int, int, Any]] = []

        if state.hasTimedOut:
            sess_no, start_us, last_us, n = state.get
            out.append((user_id, sess_no, n, start_us))
            state.remove()
            yield _emit(out)
            return

        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        # exact event-time microseconds (the oracle compares in us too)
        ts_us = (
            rows["ts"].astype("datetime64[ns]").astype("int64") // 1_000
        ).to_list()

        if state.exists:
            sess_no, start_us, last_us, n = state.get
        else:
            sess_no, start_us, last_us, n = 0, None, None, 0

        for t in ts_us:
            if start_us is None:
                sess_no, start_us, last_us, n = sess_no + 1, t, t, 1
            elif t - last_us > gap_us:
                out.append((user_id, sess_no, n, start_us))  # closed by gap
                sess_no, start_us, last_us, n = sess_no + 1, t, t, 1
            else:
                last_us, n = t, n + 1
        state.update((sess_no, start_us, last_us, n))
        # no on-time event can arrive once the watermark passes this;
        # the timeout clock is MILLISECONDS (watermark resolution)
        state.setTimeoutTimestamp(last_us // 1000 + gap_us // 1000)
        yield _emit(out)

    def _emit(rows: list) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "session_id": [r[1] for r in rows],
                "n_events": [r[2] for r in rows],
                "session_start": pd.to_datetime(
                    [r[3] for r in rows], unit="us"
                ),
            }
        )

    return fn


def stream_sessionize(
    spark: SparkSession,
    events_path: str,
    gap_sec: int = GAP_SEC,
    watermark: str = WATERMARK,
) -> DataFrame:
    """Run the stateful sessionizer over the events file as a real
    streaming query (drained synchronously); returns the emitted
    closed sessions."""
    return drain_events(
        spark, events_path,
        lambda stream: stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_fn(gap_sec * 1_000_000),
            OUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        ),
    )
