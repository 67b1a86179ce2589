"""Custom stateful streaming operator: per-user sessionization with
applyInPandasWithState — the escape hatch for operators Structured
Streaming's built-ins can't express (the reference has no streaming at
all; SURVEY.md §2.8).

State = (current session start, last event ts, count) per user; an
event starting >= GAP after the last one closes the session and emits
it. Timeouts flush sessions when a user goes quiet.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

GAP_SECONDS = 300

SESSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)


def make_sessionize_fn(idle_timeout_ms: int | None = 60_000):
    """Build the per-group state function. With a timeout, sessions of
    users gone idle are flushed when the timeout fires (production
    behaviour); with ``None`` (NoTimeout), open sessions simply stay in
    state — right for run-to-completion jobs where end-of-stream
    sentinels do the flushing."""

    def sessionize_fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        start_us, last_us, n = (
            state.get if state.exists else (None, None, 0)
        )
        out = []
        parts = [p["ts"] for p in pdfs]
        ts = (
            pd.concat(parts) if parts else pd.Series([], dtype="datetime64[ns]")
        )
        if ts.empty:  # timed-out key with no new data: object-dtype batch
            ts = pd.Series([], dtype="int64")
        else:
            ts = ts.sort_values()
            if isinstance(ts.dtype, pd.DatetimeTZDtype):
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            ts = ts.astype("datetime64[ns]").astype("int64") // 1000  # →µs
        for t in ts:
            if start_us is None:
                start_us, last_us, n = t, t, 1
            elif t - last_us >= GAP_SECONDS * 1_000_000:
                out.append((user_id, start_us, n))
                start_us, last_us, n = t, t, 1
            else:
                last_us, n = t, n + 1
        if state.hasTimedOut:
            if start_us is not None:
                out.append((user_id, start_us, n))
            state.remove()
        else:
            state.update((start_us, last_us, n))
            if idle_timeout_ms is not None:
                state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            out, columns=["user_id", "session_start_us", "n_events"]
        )

    return sessionize_fn


def sessionize_stream(
    events_stream: DataFrame, idle_timeout_ms: int | None = 60_000
) -> DataFrame:
    """events(ts timestamp, user_id long, ...) → closed sessions."""
    return (
        events_stream.select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_sessionize_fn(idle_timeout_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.NoTimeout
                if idle_timeout_ms is None
                else GroupStateTimeout.ProcessingTimeTimeout
            ),
        )
    )


def sessionize_to_completion(spark, sf_dir: str) -> DataFrame:
    """Run the stateful sessionizer to completion over the
    sentinel-extended copy of the events stream
    (sources.fixtures.events_stream_dir): availableNow trigger →
    memory sink. The per-user sentinel at global_max_ts + GAP closes
    every real session (the sentinel's own session stays in state,
    unemitted), so the result is exactly the batch session-window
    relation (user_id, sess_start epoch-sec, n_events)."""
    from pyspark.sql import functions as F

    from ..sources.fixtures import events_stream_dir
    from .run import to_completion
    from .windows import read_events_stream

    ev = read_events_stream(
        spark, events_stream_dir(sf_dir), glob="*.parquet"
    )
    return to_completion(
        sessionize_stream(ev, idle_timeout_ms=None), "stream_sessionize"
    ).select(
        "user_id",
        F.expr("session_start_us div 1000000").alias("sess_start"),
        "n_events",
    )
