"""Arbitrary stateful processing on Spark 4's
``transformWithStateInPandas`` — the typed-state + explicit-timer API
that supersedes ``applyInPandasWithState`` (which ``stateful.py``
keeps for the funnel operator; implementing one operator on EACH API
covers the whole custom-stateful surface).

Operator: per-user LIFETIME aggregates (first/last event time, count,
exact value cents) held in a ``ValueState`` row, emitted EXACTLY ONCE
per user by an event-time TIMER that fires when the watermark passes
``last_event + gap`` — i.e. "the user has left for good" analytics.
Each input batch merges into the 5-field state row, deletes the
previously registered timer, and re-registers at the new horizon, so
per-user state is one small row and is CLEARED on emission: the state
store holds only still-active users, never history.

Batch equivalence: the emitted set equals the batch
``groupBy(user).agg(min, max, count, sum)`` verbatim (aggregates are
order-free, so cross-batch arrival order is irrelevant), which is what
lets the DuckDB oracle hash-gate a custom-stateful streaming operator.

``transformWithState`` requires the RocksDB state store provider; the
replay sets it on the session (it serves every other stateful op
equally well).

RUNTIME GATE, AND HOW IT WAS LIFTED: the transformWithState
state-server protocol speaks protobuf
(``pyspark/sql/streaming/proto/StateMessage_pb2``), and
``google.protobuf`` is not installed in this container (no-install
environment) — historically the worker exited with ``ImportError``
during PRE_INIT and this operator was skip-only. Since round 12 the
repo vendors a clean-room minimal protobuf runtime
(``vendor/protoshim`` — wire format from the public encoding spec),
activated ONLY when the real distribution is absent:
``ensure_driver_protobuf()`` serves the driver-side import and
``ensure_worker_protobuf(spark)`` ships the shim to Python workers
via ``addPyFile`` so the state client can talk to the JVM state
server (which parses with real protobuf-java — the integration run
is therefore also a wire-format conformance test of the shim).
``applyInPandasWithState`` (``stateful.py``) still covers the
protobuf-free custom-stateful path.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)

OUTPUT_SCHEMA = (
    "user_id long, first_ts_us long, last_ts_us long, "
    "n_events long, value_cents long"
)
_STATE_SCHEMA = "first_us long, last_us long, n long, cents long"

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def transform_with_state_available() -> bool:
    """True iff the runtime can execute transformWithState — either
    the real ``google.protobuf`` is installed, or the vendored
    minimal shim (``vendor/protoshim``) can serve it."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        pass
    try:
        from web_analytics_visits_re_processing_spark.vendor.protoshim_loader import (
            ensure_driver_protobuf,
        )

        ensure_driver_protobuf()
        return True
    except Exception:
        return False


class LifetimeStatsProcessor(StatefulProcessor):
    """ValueState merge + one re-armed event-time timer per user."""

    def __init__(self, gap_seconds: int = 86_400):
        self._gap_ms = gap_seconds * 1_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("agg", _STATE_SCHEMA)

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        first_us = last_us = None
        n = 0
        cents = 0
        for pdf in rows:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            # floor(value·100) is integer-valued in double; the sum
            # stays far under 2^53 → exact, matching the SQL oracle.
            cents += int(np.floor(pdf["value"].to_numpy() * 100.0).sum())
            n += len(pdf)
            lo, hi = int(ts_us.min()), int(ts_us.max())
            first_us = lo if first_us is None else min(first_us, lo)
            last_us = hi if last_us is None else max(last_us, hi)
        if n == 0:
            return iter([])
        # get() returns None when absent — one socket round-trip, not
        # the exists()+get() pair (every state call is a round-trip
        # through the state server; the chatter IS this operator's
        # cost, so the client protocol is used at minimum call count)
        prev = self._state.get()
        prev_horizon = None
        if prev is not None:
            p_first, p_last, p_n, p_cents = prev
            prev_horizon = p_last // 1000 + self._gap_ms
            first_us = min(first_us, p_first)
            last_us = max(last_us, p_last)
            n += p_n
            cents += p_cents
        self._state.update((first_us, last_us, n, cents))
        # one live timer per user: re-arm at the new horizon. The old
        # timer's expiry is DERIVABLE from the previous state row
        # (p_last//1000 + gap), so delete it directly instead of
        # paying a listTimers roundtrip per user per batch — every
        # state call is a socket exchange with the JVM state server,
        # and the protocol chatter IS this operator's cost.
        new_horizon = last_us // 1000 + self._gap_ms
        if prev_horizon is not None and prev_horizon != new_horizon:
            self._handle.deleteTimer(prev_horizon)
        if prev_horizon != new_horizon:
            self._handle.registerTimer(new_horizon)
        return iter([])

    def handleExpiredTimer(
        self, key: Any, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        state = self._state.get()  # None when absent — no exists() call
        if state is None:
            return iter([])
        first_us, last_us, n, cents = state
        self._state.clear()
        return iter(
            [
                pd.DataFrame(
                    {
                        "user_id": [key[0]],
                        "first_ts_us": [first_us],
                        "last_ts_us": [last_us],
                        "n_events": [n],
                        "value_cents": [cents],
                    }
                )
            ]
        )

    def close(self) -> None:
        pass


def user_lifetime_stream(
    events: DataFrame,
    gap_seconds: int = 86_400,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """events (streaming, ``ts`` timestamp) → one lifetime-stats row
    per user, emitted when the watermark passes last_event + gap."""
    return (
        events.where(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            LifetimeStatsProcessor(gap_seconds),
            OUTPUT_SCHEMA,
            "append",
            "EventTime",
        )
    )


# transformWithState replay tuning (r12 verdict item 3 — the tws
# family's ~10 s was the largest unamortized fixed cost in the
# headline). Measured at sf0.1, local[32], warm (BASELINE.md, tws family):
#  - state partitions: r13 re-sweep on the STANDALONE processors
#    (16/8/4 × 3 reps): 8 ≈ 16 for both gates (lifetime 5.3 vs 5.8 s,
#    rollup 6.3 both), 4 regresses (chatter serializes). An sf0.01-
#    vs-sf0.1 A/B showed per-call cost is ~100% fixed machinery
#    (planning + per-batch store lifecycles + worker spawn), NOT
#    per-user chatter — so take 8: half the RocksDB store lifecycles
#    per batch, and strictly better when the driver benches at a
#    LOWER core count (16 state tasks would serialize on 4 cores).
#  - RocksDB changelog checkpointing: each commit ships a delta, not
#    a full snapshot zip per store per batch (commitTimeMs was ~5.5 s
#    summed across 16 stores × 2 batches of pure snapshot cost).
# On a real cluster both map to the same knobs sized to the stream.
TWS_REPLAY_SHUFFLE_PARTITIONS = "8"
_TWS_CONFS = {
    "spark.sql.streaming.stateStore.providerClass": ROCKSDB_PROVIDER,
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}
# NOT adopted after measurement: rocksdb.trackTotalNumberOfRows=false
# (skips the read-before-write that maintains the numRowsTotal metric)
# A/B'd neutral-to-worse at this state size (~10k rows) — the per-call
# cost here is the Python state-server round-trip, not RocksDB.


def _tws_replay(
    spark: SparkSession,
    sf_dir: str,
    subdir: str,
    stream_fn,
    max_files_per_trigger: int,
) -> DataFrame:
    """Shared scaffold for the tws gates: stage the sentinel-flushed
    fixture, scope the RocksDB provider + changelog checkpointing to
    THIS replay (the other streaming gates are faster on the default
    in-memory HDFS-backed store — tiny states; RocksDB adds
    per-partition native stores + maintenance), run append-mode to
    files, restore every conf."""
    from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
        _TMP_ROOT,
        SENTINEL_USER_ID,
        _prepare_replay_input,
        _read_replay_stream,
        _run_append_to_files,
    )
    from web_analytics_visits_re_processing_spark.vendor.protoshim_loader import (
        ensure_worker_protobuf,
    )

    ensure_worker_protobuf(spark)  # state client needs protobuf in the worker
    prev: dict[str, str | None] = {}
    for k, v in _TWS_CONFS.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    try:
        workdir = os.path.join(
            _TMP_ROOT, subdir, os.path.basename(sf_dir.rstrip("/")) or "sf"
        )
        input_dir = _prepare_replay_input(spark, sf_dir, workdir)
        shutil.rmtree(os.path.join(workdir, "ckpt"), ignore_errors=True)
        events = _read_replay_stream(spark, input_dir, max_files_per_trigger)
        result = stream_fn(events)
        out, _ = _run_append_to_files(
            result,
            workdir,
            shuffle_partitions=TWS_REPLAY_SHUFFLE_PARTITIONS,
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # read back with the stream's own schema — skips a per-call footer
    # inference pass (see sessionize_stream._read_out)
    return (
        spark.read.schema(result.schema)
        .parquet(out)
        .where(F.col("user_id") != SENTINEL_USER_ID)
    )


def user_lifetime_replay(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 86_400,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Append-mode replay over the fixture (sentinel-flushed like the
    other streaming queries): multiple micro-batches exercise the
    cross-batch ValueState merge + timer re-arming, and the 10-day
    sentinel pushes the final watermark past every user's horizon so
    every timer fires and all state is evicted."""
    return _tws_replay(
        spark,
        sf_dir,
        "stream_tws_lifetime",
        lambda events: user_lifetime_stream(events, gap_seconds),
        max_files_per_trigger,
    )


# --- MapState + ListState rollup (the rest of the typed-state surface) --------

TYPE_ROLLUP_SCHEMA = (
    "user_id long, event_type string, n_events long, value_cents long, "
    "log_total long"
)


class TypeRollupProcessor(StatefulProcessor):
    """Per-user per-event-type rollup held in a ``MapState`` plus a
    per-batch arrival log in a ``ListState``, emitted once per user by
    the same watermark-passes-horizon timer as the lifetime operator.

    Exists to exercise (and therefore wire-verify, through the real
    JVM state server) the state-client protocol paths the ValueState
    operator never touches: MapStateCall GetValue / ContainsKey /
    UpdateValue / Iterator (StateResponseWithMapIterator +
    KeyAndValuePair, with requireNextFetch pagination), and
    ListStateCall AppendValue / ListStateGet (StateResponseWithListGet,
    repeated-bytes payloads). ``log_total`` (Σ per-batch counts from
    the ListState) must equal Σ per-type counts from the MapState —
    an internal cross-state consistency the oracle checks for free
    because both equal the batch group count."""

    def __init__(self, gap_seconds: int = 86_400):
        self._gap_ms = gap_seconds * 1_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._map = handle.getMapState("by_type", "t string", "n long, cents long")
        self._log = handle.getListState("batch_log", "bn long")
        self._last = handle.getValueState("last_us", "us long")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        total = 0
        last_us = None
        agg: dict[str, tuple[int, int]] = {}
        for pdf in rows:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            cents = np.floor(pdf["value"].to_numpy() * 100.0).astype("int64")
            for t, c in zip(pdf["event_type"], cents):
                n0, c0 = agg.get(t, (0, 0))
                agg[t] = (n0 + 1, c0 + int(c))
            total += len(pdf)
            if len(pdf):
                hi = int(ts_us.max())
                last_us = hi if last_us is None else max(last_us, hi)
        if total == 0:
            return iter([])
        # fetch the ValueState FIRST: ``_last`` is written on every
        # batch that saw this user, so ``None`` proves the user is new
        # and the MapState is empty — the whole per-type getValue
        # probe round (one round-trip per event type per user) is
        # skipped for first-contact users, which in a replay's initial
        # batch is every user
        prev = self._last.get()
        for t, (n, c) in agg.items():
            # getValue() returns None for a missing key — halves the
            # per-type chatter vs the containsKey()+getValue() pair
            prev_tc = self._map.getValue((t,)) if prev is not None else None
            if prev_tc is not None:
                pn, pc = prev_tc
                self._map.updateValue((t,), (pn + n, pc + c))
            else:
                self._map.updateValue((t,), (n, c))
        self._log.appendValue((total,))
        prev_horizon = None
        if prev is not None:
            prev_horizon = prev[0] // 1000 + self._gap_ms
            last_us = max(last_us, prev[0])
        self._last.update((last_us,))
        # direct old-horizon delete (derivable from prev state) — no
        # listTimers roundtrip; see LifetimeStatsProcessor
        new_horizon = last_us // 1000 + self._gap_ms
        if prev_horizon is not None and prev_horizon != new_horizon:
            self._handle.deleteTimer(prev_horizon)
        if prev_horizon != new_horizon:
            self._handle.registerTimer(new_horizon)
        return iter([])

    def handleExpiredTimer(
        self, key: Any, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        # iterate the map directly (empty iterator when absent) — the
        # exists() probe was a pure extra round-trip; the ListState
        # is only read once the map proved non-empty
        out = {"user_id": [], "event_type": [], "n_events": [], "value_cents": [], "log_total": []}
        for (t,), (n, c) in self._map.iterator():
            out["user_id"].append(key[0])
            out["event_type"].append(t)
            out["n_events"].append(n)
            out["value_cents"].append(c)
        if not out["user_id"]:
            return iter([])
        log_total = sum(bn for (bn,) in self._log.get())
        out["log_total"] = [log_total] * len(out["user_id"])
        self._map.clear()
        self._log.clear()
        self._last.clear()
        return iter([pd.DataFrame(out)])

    def close(self) -> None:
        pass


def user_type_rollup_stream(
    events: DataFrame,
    gap_seconds: int = 86_400,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    return (
        events.where(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_type", "value")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeRollupProcessor(gap_seconds),
            TYPE_ROLLUP_SCHEMA,
            "append",
            "EventTime",
        )
    )


def user_type_rollup_replay(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 86_400,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Sentinel-flushed append replay of the MapState/ListState rollup
    (same topology conventions as ``user_lifetime_replay``)."""
    return _tws_replay(
        spark,
        sf_dir,
        "stream_tws_typerollup",
        lambda events: user_type_rollup_stream(events, gap_seconds),
        max_files_per_trigger,
    )


# --- combined replay: both gates off ONE stream -------------------------------
#
# r12 verdict item 3: the two tws gates each paid the family's whole
# fixed cost (plan ~1.2 s + 2 micro-batches of state machinery +
# RocksDB commits) for the SAME input. The gates now share one
# combined stream whose processor holds the union of the state the
# two standalone operators use — ValueState (lifetime row) + MapState
# (per-type rollup) + ListState (batch log) + re-armed event-time
# timers — so every state-client protocol path the separate gates
# wire-verified is still exercised, in ONE pass, and the second gate
# reads the staged result (the staged-layout multi-consumer precedent:
# sources/layout.py, the LSH pair tables). The standalone
# LifetimeStatsProcessor / TypeRollupProcessor replays remain the
# pytest surface (batch-equivalence, pagination, chunked-trigger
# cross-batch merges) — nothing about their verification weakens.

COMBINED_SCHEMA = (
    "user_id long, row_kind string, event_type string, n_events long, "
    "value_cents long, log_total long, first_ts_us long, last_ts_us long"
)

# bump to invalidate staged combined results when processor logic moves


class CombinedStatsProcessor(StatefulProcessor):
    """Union of LifetimeStatsProcessor and TypeRollupProcessor state:
    one ValueState merge, one MapState rollup, one ListState log, one
    re-armed timer per user — strictly fewer round-trips than the two
    processors run separately (the rollup's own horizon ValueState is
    subsumed by the lifetime row's last_us)."""

    def __init__(self, gap_seconds: int = 86_400):
        self._gap_ms = gap_seconds * 1_000

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._handle = handle
        self._state = handle.getValueState("agg", _STATE_SCHEMA)
        self._map = handle.getMapState("by_type", "t string", "n long, cents long")
        self._log = handle.getListState("batch_log", "bn long")

    def handleInputRows(
        self, key: Any, rows: Iterator[pd.DataFrame], timerValues: TimerValues
    ) -> Iterator[pd.DataFrame]:
        first_us = last_us = None
        n = 0
        cents = 0
        agg: dict[str, tuple[int, int]] = {}
        for pdf in rows:
            ts_us = pdf["ts"].astype("datetime64[us]").astype("int64")
            c_arr = np.floor(pdf["value"].to_numpy() * 100.0).astype("int64")
            for t, c in zip(pdf["event_type"], c_arr):
                n0, c0 = agg.get(t, (0, 0))
                agg[t] = (n0 + 1, c0 + int(c))
            cents += int(c_arr.sum())
            n += len(pdf)
            if len(pdf):
                lo, hi = int(ts_us.min()), int(ts_us.max())
                first_us = lo if first_us is None else min(first_us, lo)
                last_us = hi if last_us is None else max(last_us, hi)
        if n == 0:
            return iter([])
        for t, (tn, tc) in agg.items():
            prev_tc = self._map.getValue((t,))
            if prev_tc is not None:
                self._map.updateValue((t,), (prev_tc[0] + tn, prev_tc[1] + tc))
            else:
                self._map.updateValue((t,), (tn, tc))
        self._log.appendValue((n,))
        prev = self._state.get()
        prev_horizon = None
        if prev is not None:
            p_first, p_last, p_n, p_cents = prev
            prev_horizon = p_last // 1000 + self._gap_ms
            first_us = min(first_us, p_first)
            last_us = max(last_us, p_last)
            n += p_n
            cents += p_cents
        self._state.update((first_us, last_us, n, cents))
        new_horizon = last_us // 1000 + self._gap_ms
        if prev_horizon is not None and prev_horizon != new_horizon:
            self._handle.deleteTimer(prev_horizon)
        if prev_horizon != new_horizon:
            self._handle.registerTimer(new_horizon)
        return iter([])

    def handleExpiredTimer(
        self, key: Any, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator[pd.DataFrame]:
        state = self._state.get()
        if state is None:
            return iter([])
        first_us, last_us, n, cents = state
        uid = key[0]
        out = {
            "user_id": [uid],
            "row_kind": ["lifetime"],
            "event_type": [None],
            "n_events": [n],
            "value_cents": [cents],
            "log_total": [None],
            "first_ts_us": [first_us],
            "last_ts_us": [last_us],
        }
        types = list(self._map.iterator())
        log_total = sum(bn for (bn,) in self._log.get())
        for (t,), (tn, tc) in types:
            out["user_id"].append(uid)
            out["row_kind"].append("type")
            out["event_type"].append(t)
            out["n_events"].append(tn)
            out["value_cents"].append(tc)
            out["log_total"].append(log_total)
            out["first_ts_us"].append(None)
            out["last_ts_us"].append(None)
        self._state.clear()
        self._map.clear()
        self._log.clear()
        return iter([pd.DataFrame(out)])

    def close(self) -> None:
        pass


def combined_stream(
    events: DataFrame,
    gap_seconds: int = 86_400,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    return (
        events.where(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_type", "value")
        .withWatermark("ts", watermark_delay)
        .groupBy("user_id")
        .transformWithStateInPandas(
            CombinedStatsProcessor(gap_seconds),
            COMBINED_SCHEMA,
            "append",
            "EventTime",
        )
    )


def combined_replay(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = 86_400,
    max_files_per_trigger: int = 4,
) -> DataFrame:
    """Sentinel-flushed append replay of the combined processor.

    Both tws gates project their rows off this ONE stream topology
    (union of state types — every protocol path stays wire-verified)
    so the family pays a single planning/processor shape, but each
    CALL runs the replay from the staged input for real. An earlier
    revision cached the replay RESULT on disk keyed by fixture
    mtime, which let a later bench/oracle invocation serve both
    gates with zero computation — removed in the r13 optimization
    round: result caching across invocations is gaming, not
    optimization. (The replay INPUT staging inside ``_tws_replay``
    remains — it is layout plumbing for the file-stream source; the
    stream itself recomputes every time.)"""
    return _tws_replay(
        spark,
        sf_dir,
        "stream_tws_combined",
        lambda events: combined_stream(events, gap_seconds),
        max_files_per_trigger,
    )
