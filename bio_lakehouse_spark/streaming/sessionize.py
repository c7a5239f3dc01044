"""Stateful streaming sessionization via ``applyInPandasWithState``
(the custom-stateful-operator shape SURVEY §2.10 points at for
streams; batch twin: suite query ``sessionize_gap30``).

Per user, events closer than ``gap`` belong to one session. Session
closure is EVENT-time: a session ends when a same-user event arrives
more than ``gap`` later (closed in-batch), or when the stream's
watermark passes ``last_event + gap`` (event-time state timeout).
Event-time timeouts — not processing-time — because (a) results are
replay-deterministic and (b) ``trigger(availableNow=True)`` terminates
cleanly after draining; a processing-time timeout keeps the trigger
alive forever "cleaning up state".

State per key is one open session (start, last ts, count, sum) — O(1)
per user regardless of stream length, the property that matters at
100 TB/day event rates.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bio_lakehouse_spark.streaming import drain_to_parquet

SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double, closed_by string"
)

STATE_SCHEMA = (
    "session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)


def make_sessionizer(gap_s: int = 1800):
    """Build the (key, batches, state) function for
    ``applyInPandasWithState`` with event-time timeouts: merges each
    micro-batch's events into the open session, emits gap-closed
    sessions immediately, and registers ``last_ts + gap`` as the
    event-time timeout so the watermark closes idle sessions."""

    def fn(
        key: tuple,
        pdfs: Iterable[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            if state.exists:
                s0, s1, n, v = state.get
                state.remove()
                yield pd.DataFrame(
                    [
                        {
                            "user_id": user_id,
                            "session_start": s0,
                            "session_end": s1,
                            "n_events": n,
                            "total_value": v,
                            "closed_by": "watermark",
                        }
                    ]
                )
            return

        events = pd.concat(list(pdfs)).sort_values("ts")
        if state.exists:
            s0, s1, n, v = state.get
        else:
            s0 = s1 = None
            n, v = 0, 0.0
        closed = []
        for ts, value in zip(events["ts"], events["value"]):
            if s0 is None:
                s0, s1, n, v = ts, ts, 1, float(value)
            elif (ts - s1).total_seconds() <= gap_s:
                s1, n, v = ts, n + 1, v + float(value)
            else:
                closed.append(
                    {
                        "user_id": user_id,
                        "session_start": s0,
                        "session_end": s1,
                        "n_events": n,
                        "total_value": v,
                        "closed_by": "gap",
                    }
                )
                s0, s1, n, v = ts, ts, 1, float(value)
        state.update((s0, s1, n, v))
        # Close when the event-time watermark passes last_ts + gap.
        state.setTimeoutTimestamp(
            int(s1.timestamp() * 1000) + gap_s * 1000
        )
        if closed:
            yield pd.DataFrame(closed)

    return fn


def stream_sessions(
    spark,
    landing_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    schema: str,
    gap_s: int = 1800,
    watermark: str = "0 seconds",
):
    """File-source stream → per-user event-time stateful
    sessionization → parquet append. Open sessions close once later
    events advance the watermark past ``last + gap`` (feed a sentinel
    event to flush the tail of a finite replay)."""
    from pyspark.sql import functions as F

    src = (
        spark.readStream.schema(schema)
        .option("header", "true")
        .csv(landing_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    )
    sessions = src.groupBy("user_id").applyInPandasWithState(
        make_sessionizer(gap_s),
        outputStructType=SESSION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return drain_to_parquet(sessions, out_dir, checkpoint_dir)
