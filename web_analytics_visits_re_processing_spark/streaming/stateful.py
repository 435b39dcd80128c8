"""Custom stateful streaming operator: per-user session funnel state
with event-time timeouts (``applyInPandasWithState``).

The reference domain (web-analytics funnels: atb → checkout → payment,
``/root/reference/main.py:26-34``) motivates the canonical stateful
query Spark's built-in windows can't express directly: **abandonment
detection** — emit a record when a session that contained an
add-to-cart-class event ends (30-min inactivity) without a purchase.
``session_window`` aggregation could count both event classes, but the
emit-on-timeout-only-if-predicate shape with explicit state is the
``applyInPandasWithState`` showcase, and the state machine generalizes
to funnels that aggregations can't do (ordered-step tracking).

Semantics (aligned with the engine's sessionizer, strict ``>`` gap):

- events for a user within ``gap_seconds`` of each other share a
  session; a gap STRICTLY greater than ``gap_seconds`` closes it;
- a closed session is ABANDONED iff it contains ≥1 ``trigger`` event
  (default ``click`` — the fixture's add-to-cart stand-in) and zero
  ``convert`` events (default ``purchase``);
- sessions closed by in-batch gaps emit immediately; the user's live
  session emits via EVENT-TIME TIMEOUT when the watermark passes its
  ``last_ts + gap`` — so state is evicted exactly like the built-in
  session window, bounded by (concurrent users × one small row).

Batch equivalence: the result equals "sessionize, keep sessions with
trigger>0 and convert=0" — SQL-expressible, so this operator is
hash-gated against the same lag/running-sum DuckDB oracle as the
sessionizer (``plans/streaming_queries.py``).

Known simplification: within a batch events are sorted by event time,
but an event that arrives in a LATER micro-batch with a timestamp
inside the carried session's past is appended forward (state tracks a
single running session, not a mergeable interval set). The built-in
``session_window`` aggregation handles cross-batch late merges
generally; use it when late re-ordering beyond batch boundaries
matters more than custom emit predicates.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "user_id long, session_start_us long, session_end_us long, "
    "n_trigger long, n_events long"
)
STATE_SCHEMA = "start_us long, last_us long, n_trigger long, n_convert long, n_events long"

_GAP_US_DEFAULT = 1800 * 1_000_000


def _abandoned_fn(gap_us: int, trigger: str, convert: str):
    """Build the per-group state function (plan-time closure over the
    operator parameters; per-row work is pandas-vectorized)."""

    def emit(state_row: tuple[Any, ...], user_id: int) -> pd.DataFrame | None:
        start_us, last_us, n_trig, n_conv, n_events = state_row
        if n_trig > 0 and n_conv == 0:
            return pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start_us": [start_us],
                    "session_end_us": [last_us],
                    "n_trigger": [n_trig],
                    "n_events": [n_events],
                }
            )
        return None

    def fn(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.hasTimedOut:
            out = emit(state.get, user_id)
            state.remove()
            if out is not None:
                yield out
            return

        carried = state.get if state.exists else None
        rows = pd.concat(list(pdfs), ignore_index=True)
        ts_us = rows["ts"].astype("datetime64[us]").astype("int64")
        order = ts_us.argsort(kind="mergesort")
        ts_us = ts_us.iloc[order].to_numpy()
        is_trig = (rows["event_type"].iloc[order] == trigger).to_numpy()
        is_conv = (rows["event_type"].iloc[order] == convert).to_numpy()

        outs = []
        if carried is not None:
            start_us, last_us, n_trig, n_conv, n_events = carried
        else:
            start_us = last_us = int(ts_us[0])
            n_trig = n_conv = n_events = 0
        for i in range(len(ts_us)):
            t = int(ts_us[i])
            if n_events > 0 and t - last_us > gap_us:
                out = emit((start_us, last_us, n_trig, n_conv, n_events), user_id)
                if out is not None:
                    outs.append(out)
                start_us, n_trig, n_conv, n_events = t, 0, 0, 0
            n_trig += int(is_trig[i])
            n_conv += int(is_conv[i])
            n_events += 1
            last_us = t
        state.update((start_us, last_us, n_trig, n_conv, n_events))
        # event-time timeout at session close (ms granularity)
        state.setTimeoutTimestamp((last_us + gap_us) // 1000)
        if outs:
            yield from outs

    return fn


def abandoned_sessions_stream(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark_delay: str = "1 hour",
    trigger: str = "click",
    convert: str = "purchase",
) -> DataFrame:
    """events (streaming, with ``ts`` timestamp) → abandoned-session
    records, emitted once per closed session."""
    return (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .select("user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _abandoned_fn(gap_seconds * 1_000_000, trigger, convert),
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )

