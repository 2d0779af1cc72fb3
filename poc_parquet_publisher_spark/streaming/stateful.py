"""Custom stateful streaming operator via applyInPandasWithState.

The reference consumer is stateless (it logs each batch's size and
forgets it, cmd/sqs-record-consumer/main.go:27-32). A real ingest
monitor needs per-key state that SURVIVES across micro-batches --
running totals, rate trackers, dedup ledgers. Spark's primitive for
arbitrary user state is ``applyInPandasWithState``: state is keyed,
partitioned with the stream (each key's state lives on exactly one
executor -- no coordination), checkpointed with the query, and
Arrow-batched into Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import event_time

OUTPUT_SCHEMA = "event_type string, batch_rows long, running_total long"
STATE_SCHEMA = "total long"


def _update_totals(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (prev,) = state.get if state.exists else (0,)
    batch_rows = sum(len(pdf) for pdf in pdfs)
    total = prev + batch_rows
    state.update((total,))
    yield pd.DataFrame(
        {
            "event_type": [key[0]],
            "batch_rows": [batch_rows],
            "running_total": [total],
        }
    )


def running_event_totals(stream: DataFrame) -> DataFrame:
    """Per-key running event totals, one output row per key per batch.

    Emits (event_type, batch_rows, running_total): the consumer-side
    batch count the reference logs, plus the cross-batch total it
    cannot produce without state. NoTimeout keeps counters forever --
    totals are monotone; for session-style state use an event-time
    timeout tied to the watermark instead.
    """
    return (
        event_time(stream, "ts")
        .withWatermark("ts", "1 hour")
        .groupBy("event_type")
        .applyInPandasWithState(
            _update_totals,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events long"
)
# state: the OPEN session for this key
SESSION_STATE_SCHEMA = "start long, last long, n long"


def _session_update(gap_s: int):
    """Closure binding the gap so the state function stays picklable."""

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        closed: list[tuple[int, int, int]] = []

        gap_us = gap_s * 1_000_000
        if state.hasTimedOut:
            if state.exists:
                start, last, n = state.get
                closed.append((start, last, n))
            state.remove()
        else:
            ts_vals: list[int] = []
            for pdf in pdfs:
                # epoch MICROseconds (the column's full precision);
                # batch rows arrive unordered
                ts_vals.extend(
                    (pdf["ts"].astype("int64") // 1_000).tolist()
                )
            ts_vals.sort()
            if state.exists:
                start, last, n = state.get
            else:
                start = last = ts_vals[0]
                n = 0
            for t in ts_vals:
                if n > 0 and t - last > gap_us:
                    closed.append((start, last, n))
                    start, n = t, 0
                last = max(last, t)
                n += 1
            state.update((start, last, n))
            # event-time timeout: fire once the watermark passes the
            # open session's close point (clamped above the current
            # watermark -- timestamps at/below it are rejected)
            state.setTimeoutTimestamp(
                max(
                    (last + gap_us) // 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(closed),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in closed
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in closed
                    ],
                    "n_events": [n for _, _, n in closed],
                }
            )

    return update


def sessionize_stateful(stream: DataFrame) -> DataFrame:
    """Hand-rolled session windows via ``applyInPandasWithState`` with
    an EVENT-TIME TIMEOUT -- the custom-stateful-operator pattern for
    semantics the built-ins lack (x48 uses the native session_window;
    this is the same contract built from raw keyed state, the shape
    you'd use for custom session rules: per-key dynamic gaps, session
    caps, value-dependent closure).

    Semantics match x21's lag method: a gap STRICTLY GREATER than 30
    minutes closes the session. Sessions close two ways: a
    later event for the same key arrives past the gap (in-stream
    closure, emitted immediately), or the watermark passes the open
    session's close point (timeout closure -- state is evicted, so
    memory stays flat on an unbounded stream; note an availableNow
    drain may stop before the final timeouts fire, which is why the
    stream==batch test compares in-stream-closed sessions only).

    Output (append mode): (user_id, session_start, session_end,
    n_events), one row per CLOSED session.
    """
    return (
        event_time(stream, "ts")
        .withWatermark("ts", "0 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _session_update(30 * 60),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
