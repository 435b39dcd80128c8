"""``stream_sessionize``: the streaming twin, open loop.

Parquet event files (fixture ``events`` schema, ``gen.write_stream_files``)
are written before timing starts, all of about the same size. Spark
reads a watched directory with ``readStream`` →
``streaming.sessionize_stream`` → append parquet sink on a
processing-time trigger. Files go into the directory by atomic rename:
a few warm-up files first (their batch is the cold micro-batch), then
``N_BURSTS`` bursts of ``BURST_FILES`` files, each published once the
one before has been listed, so their micro-batches run back to back
(catch-up; the first burst is not counted, and the bursts warm the JVM
for what follows), then ``N_OPEN`` files that one thread publishes on a
fixed schedule over ``seconds`` at ``OPEN_EVENTS_PER_S`` (open loop),
and one interval after the last of them a sentinel event ten days
later that closes every session. Event time runs hours ahead of wall
time, so sessions close and leave state during the run; 2% of events
arrive late, within the watermark.

A micro-batch here costs about 1 s with no input and tens of
milliseconds per file on a 4-core host, so the open loop publishes 10
files a second on a 3 s trigger, and ``OPEN_EVENTS_PER_S`` is about
half of the catch-up rate (about 15k events/s): the open loop runs at
about half of the rate the stream sustains. Each run prints the ratio
it saw (``stream.open_load_ratio``).

A file's latency runs from when it was due until the end of the
micro-batch that committed it (the source's checkpoint log names the
batch, query progress gives the batch's end).
"""

from __future__ import annotations

import datetime
import glob
import json
import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import common
import eventlog
import gen

N_USERS = 15_000
FIRST_WINDOW_S = 4 * 3600
MAX_BETWEEN_S = 3 * 3600
N_WARMUP = 4
N_OPEN = 100  # few enough that each file's fixed cost leaves the engine half idle
OPEN_EVENTS_PER_S = 7_000
N_BURSTS = 4
BURST_FILES = 60  # per burst, each about the size of an open-loop file
LATE_SHARE = 0.02
TRIGGER = "3 seconds"
LATE_LIMIT_S = 0.5  # generator lateness beyond this invalidates the run
FLUSH_TIMEOUT_S = 60


class InvalidRun(Exception):
    """The open-loop generator fell behind its schedule."""


class Publisher(threading.Thread):
    """Moves files into the watched directory, each at its due time."""

    def __init__(self, files: list[str], watch: str, t0: float, interval: float):
        super().__init__(daemon=True)
        self.files, self.watch, self.t0, self.interval = files, watch, t0, interval
        self.log: list[tuple[str, float, float]] = []  # (name, due, published)

    def run(self) -> None:
        for i, path in enumerate(self.files):
            due = self.t0 + i * self.interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            name = os.path.basename(path)
            os.rename(path, os.path.join(self.watch, name))
            self.log.append((name, due, time.time()))


def _publish_now(files: list[str], watch: str) -> None:
    for path in files:
        os.rename(path, os.path.join(watch, os.path.basename(path)))


def _committed(ckpt: str) -> dict[str, int]:
    """File name -> the file source's own batch (its log offset) that
    read it, from the source's log (plain and compacted entries). The
    source's batches skip the query's no-data micro-batches, so
    ``_query_batches`` maps them to micro-batch ids."""
    batch_of = {}
    for path in glob.glob(f"{ckpt}/sources/0/*"):
        if path.endswith(".tmp") or os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh.read().splitlines()[1:]:
                entry = json.loads(line)
                batch_of[os.path.basename(entry["path"])] = entry["batchId"]
    return batch_of


def _progress(q) -> list[dict]:
    """The query's progress reports as plain JSON objects."""
    return [json.loads(p.json) for p in q.recentProgress]


def _log_offset(offset: dict | None) -> int:
    """A file source offset from query progress; -1 before the first."""
    return -1 if offset is None else int(offset["logOffset"])


def _query_batches(progress: list) -> dict[int, int]:
    """File source log offset -> id of the micro-batch that read it."""
    batch = {}
    for p in _executed(progress):
        src = p["sources"][0]
        for k in range(_log_offset(src["startOffset"]) + 1, _log_offset(src["endOffset"]) + 1):
            batch[k] = p["batchId"]
    return batch


def _span(p) -> tuple[float, float]:
    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"]["triggerExecution"] / 1e3


def _sentinel(events: pa.Table, path: str) -> None:
    ts = int(pc.max(events.column("ts")).as_py()) + 10 * gen.DAY_S * 1_000_000
    row = pa.table(
        {
            "event_id": pa.array([-1], pa.int64()),
            "ts": pa.array([ts], pa.int64()),
            "user_id": pa.array([-1], pa.int64()),
            "event_type": ["_flush"],
            "value": [0.0],
            "props": ["{}"],
        }
    )
    pq.write_table(gen.events_table(row, "UTC"), path)


# The ``events`` schema as ``gen.write_stream_files`` writes it.
SCHEMA = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING"


class Phase:
    """One pass of the stream over hard links of the pre-written files."""

    def __init__(self, spark, work: str, name: str, files: list[str], sentinel: str):
        self.spark, self.root = spark, f"{work}/{name}"
        stage, self.watch = f"{self.root}/stage", f"{self.root}/watch"
        os.makedirs(stage)
        os.makedirs(self.watch)
        self.files = []
        for path in files + [sentinel]:
            dst = os.path.join(stage, os.path.basename(path))
            os.link(path, dst)
            self.files.append(dst)
        self.sentinel = self.files.pop()

    def run(self, seconds: float, open_loop: bool = True) -> dict | None:
        """Drive the stream; without ``open_loop`` stop after the bursts
        (a pass that only warms the JVM) and return None."""
        from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
            REPLAY_SHUFFLE_PARTITIONS,
            sessionize_stream,
        )

        # State partitions are fixed by the first batch; size them as the
        # package sizes its own stream replays.
        self.spark.conf.set("spark.sql.shuffle.partitions", REPLAY_SHUFFLE_PARTITIONS)
        df = self.spark.readStream.schema(SCHEMA).parquet(self.watch)
        q = (
            sessionize_stream(df)
            .writeStream.format("parquet")
            .option("path", f"{self.root}/out")
            .option("checkpointLocation", f"{self.root}/ckpt")
            .outputMode("append")
            .trigger(processingTime=TRIGGER)
            .start()
        )
        try:
            return self._drive(q, seconds, open_loop)
        finally:
            q.stop()

    def _wait_read(self, q, files: list[str], ended: bool) -> None:
        """Until the micro-batch that reads ``files`` has listed them or,
        with ``ended``, has ended (not waiting for the no-data batch that
        may follow it)."""
        names = [os.path.basename(f) for f in files]
        deadline = time.time() + FLUSH_TIMEOUT_S
        while time.time() < deadline and q.isActive:
            read = _committed(f"{self.root}/ckpt")
            if all(n in read for n in names):
                if not ended or max(read[n] for n in names) in _query_batches(_progress(q)):
                    return
            time.sleep(0.05)
        q.processAllAvailable()  # raises the query's error, if it failed

    def _drive(self, q, seconds: float, open_loop: bool) -> dict | None:
        warmup = self.files[:N_WARMUP]
        burst = self.files[N_WARMUP : N_WARMUP + N_BURSTS * BURST_FILES]
        scheduled = self.files[N_WARMUP + N_BURSTS * BURST_FILES :]
        _publish_now(warmup, self.watch)
        q.processAllAvailable()
        common.log("warm-up batch done")
        # Each burst goes out once the previous one is listed, so the
        # bursts' micro-batches run back to back.
        bursts = [list(b) for b in np.array_split(burst, N_BURSTS)]
        for i, files in enumerate(bursts):
            _publish_now(files, self.watch)
            self._wait_read(q, files, ended=i == len(bursts) - 1)
        common.log("bursts done")
        if not open_loop:
            return None
        n_before = len(_progress(q))
        t_open = time.time()
        # The sentinel is due one interval after the last scheduled file.
        interval = seconds / N_OPEN
        pub = Publisher(scheduled + [self.sentinel], self.watch, t_open + 0.2, interval)
        pub.start()
        pub.join()
        q.processAllAvailable()
        deadline = time.time() + FLUSH_TIMEOUT_S
        while time.time() < deadline:  # the no-data batch that evicts
            prog = _progress(q)[n_before:]
            if any(p["numInputRows"] == 0 and _state(p, "numRowsTotal") <= 1 for p in prog):
                break
            time.sleep(0.1)
        common.log("flushed")
        progress = _progress(q)
        batch = _query_batches(progress)
        return {
            "run_id": str(q.runId),
            "progress": progress,
            "batch_of": {n: batch[k] for n, k in _committed(f"{self.root}/ckpt").items()},
            "published": pub.log[:-1],
            "warmup": [os.path.basename(f) for f in warmup],
            "bursts": [[os.path.basename(f) for f in b] for b in bursts],
            "t_open": t_open,
            "t_end": time.time(),
            "out": f"{self.root}/out",
        }


def _executed(progress: list) -> list:
    """Progress of triggers that ran a micro-batch (idle triggers also
    report progress, without an ``addBatch`` duration)."""
    return [p for p in progress if "addBatch" in p["durationMs"]]


def _state(p, key: str) -> int:
    ops = p.get("stateOperators") or []
    return sum(op.get(key, 0) for op in ops)


def summarize(run: dict, rows: dict[str, int]) -> dict[str, float]:
    """Latency, catch-up, cold batch, backlog and lateness of one phase;
    ``rows`` gives each file's event count."""
    progress = _executed(run["progress"])
    spans = {p["batchId"]: _span(p) for p in progress}
    batch_of = run["batch_of"]
    lat = [spans[batch_of[name]][1] - due for name, due, _ in run["published"]]
    late = [done - due for _, due, done in run["published"]]
    ends = sorted(spans[batch_of[name]][1] for name, _, _ in run["published"])
    backlog = [
        np.searchsorted([d for _, _, d in run["published"]], due, "right")
        - np.searchsorted(ends, due, "right")
        for _, due, _ in run["published"]
    ]
    drains = []
    for names in run["bursts"]:  # first batch start to last batch end
        batches = {batch_of[name] for name in names}
        drain = max(spans[b][1] for b in batches) - min(spans[b][0] for b in batches)
        drains.append((sum(rows[name] for name in names), drain))
    common.log("catch-up events/s per burst: " + " ".join(f"{n / d:.0f}" for n, d in drains))
    # The first burst is the first batch of its size and runs slow.
    catchup = sum(n for n, _ in drains[1:]) / sum(d for _, d in drains[1:])
    data = [p for p in progress if p["numInputRows"] > 0]
    return {
        "latency": lat,
        "latency_p50_s": common.percentile(lat, 50),
        "latency_p95_s": common.percentile(lat, 95),
        "catchup_events_per_s": catchup,
        "cold_s": spans[batch_of[run["warmup"][0]]][1] - spans[batch_of[run["warmup"][0]]][0],
        "backlog_files_max": float(max(backlog)),
        "generator_late_s_max": max(late),
        "data_batches": data,
    }


def layer_metrics(run: dict, s: dict) -> dict[str, float]:
    progress, data = _executed(run["progress"]), s["data_batches"]

    def p50(key: str) -> float:
        return common.median(p["durationMs"].get(key, 0) / 1e3 for p in data)

    return {
        "stream.batch_s_p50": p50("triggerExecution"),
        "stream.add_batch_s_p50": p50("addBatch"),
        "stream.plan_s_p50": p50("queryPlanning"),
        "stream.commit_s_p50": common.median(
            (p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0)) / 1e3
            for p in data
        ),
        "stream.state_commit_ms": common.median(_state(p, "commitTimeMs") for p in data),
        "stream.state_rows_peak": max(_state(p, "numRowsTotal") for p in progress),
        "stream.state_rows_removed": sum(_state(p, "numRowsRemoved") for p in progress),
        "stream.state_memory_bytes_peak": max(_state(p, "memoryUsedBytes") for p in progress),
        "stream.rows_dropped_by_watermark": sum(
            _state(p, "numRowsDroppedByWatermark") for p in progress
        ),
        "stream.batches": len(progress),
        "stream.backlog_files_max": s["backlog_files_max"],
        "stream.generator_late_s_max": s["generator_late_s_max"],
        "stream.latency_p95_s": s["latency_p95_s"],
    }


def check_output(result: common.Result, truth: dict, run: dict) -> None:
    """The sink must hold exactly the truth's sessions, and every
    published file must have been committed."""
    out = pq.read_table(run["out"])
    out = out.filter(pc.not_equal(out["user_id"], -1))

    def micros(col) -> np.ndarray:
        return col.to_numpy().astype("datetime64[us]").astype(np.int64)

    user, start = out["user_id"].to_numpy(), micros(out["visit_start"])
    order = np.lexsort((start, user))
    got = {
        "user_id": user[order],
        "visit_start_us": start[order],
        "visit_end_us": micros(out["visit_end"])[order],
        "n_hits": out["n_hits"].to_numpy()[order],
        "total_value_cents": out["total_value_cents"].to_numpy()[order],
    }
    result.check(
        len(got["user_id"]) == len(truth["user_id"]),
        f"sessions emitted {len(got['user_id'])} != truth {len(truth['user_id'])}",
    )
    if len(got["user_id"]) == len(truth["user_id"]):
        for k in gen.VISIT_FIELDS:
            result.check(np.array_equal(got[k], truth[k]), f"session column {k} != truth")
    n_files = len(run["warmup"]) + len(run["published"]) + sum(map(len, run["bursts"]))
    committed = sum(1 for name in run["batch_of"] if not name.startswith("zz-"))
    result.failed += n_files - committed
    result.attempted += n_files


def file_sizes(n_events: int, seconds: float) -> list[int]:
    """Events per file in publish order: warm-up files, then
    ``N_BURSTS * BURST_FILES`` near-equal burst files holding what the
    warm-up and open-loop files leave, then the open-loop files. Warm-up
    and open-loop files hold ``OPEN_EVENTS_PER_S * seconds / N_OPEN``."""
    per_file = round(OPEN_EVENTS_PER_S * seconds / N_OPEN)
    rest = n_events - per_file * (N_WARMUP + N_OPEN)
    if rest < N_BURSTS * BURST_FILES:
        raise ValueError(f"{n_events} events leave too few for the bursts")
    bursts = [len(b) for b in np.array_split(np.arange(rest), N_BURSTS * BURST_FILES)]
    return [per_file] * N_WARMUP + bursts + [per_file] * N_OPEN


def _phase(spark, work: str, name: str, files, sentinel, seconds: float, rows):
    """One pass of the stream; raises InvalidRun when the generator fell
    behind its schedule."""
    phase = Phase(spark, work, name, files, sentinel).run(seconds)
    s = summarize(phase, rows)
    if s["generator_late_s_max"] > LATE_LIMIT_S:
        spark.stop()
        raise InvalidRun(f"generator ran {s['generator_late_s_max']:.3f} s late")
    return phase, s


def run(seed: int, seconds: float, trace: bool) -> common.Result:
    result = common.Result()
    work = common.workdir("stream_sessionize")
    spark, setup = common.start_spark(work)
    events = gen.make_events(seed, N_USERS, FIRST_WINDOW_S, MAX_BETWEEN_S)
    written = gen.write_stream_files(
        events, f"{work}/files", file_sizes(events.num_rows, seconds), LATE_SHARE, seed
    )
    files = [p for p, _ in written]
    rows = {os.path.basename(p): n for p, n in written}
    open_rate = sum(n for _, n in written[-N_OPEN:]) / seconds
    burst_events = sum(n for _, n in written[N_WARMUP:-N_OPEN])
    sentinel = f"{work}/files/zz-sentinel.parquet"
    _sentinel(events, sentinel)
    truth = gen.visits_truth(events)
    common.log(
        f"input: {events.num_rows} events, {len(truth['user_id'])} sessions, "
        f"{len(files)} files; open loop {N_OPEN} files over {seconds:g} s "
        f"({open_rate:.0f} events/s), {N_BURSTS} bursts of {burst_events // N_BURSTS} events"
    )
    if trace:
        return traced_run(result, spark, work, setup, files, sentinel, seconds, rows, truth, open_rate)
    with common.RssSampler() as rss:
        first, s = _phase(spark, work, "untraced", files, sentinel, seconds, rows)
    common.log(f"host drift probe {common.anchor(spark):.3f} s")
    spark.stop()
    check_output(result, truth, first)
    common.log(
        f"stream_latency_p50_s {s['latency_p50_s']:.3f} s, stream_latency_p95_s "
        f"{s['latency_p95_s']:.3f} s (n={len(s['latency'])} files); "
        f"stream_catchup_events_per_s {s['catchup_events_per_s']:.1f} events/s (n={N_BURSTS - 1} bursts after the first); "
        f"open loop {open_rate:.0f} events/s = {open_rate / s['catchup_events_per_s']:.2f} of catch-up; "
        f"cold batch {s['cold_s']:.3f} s; setup_s {setup['setup_s']:.3f} s (n=1); peak_rss_mb {rss.peak_mb:.1f} MB; "
        f"generator late max {s['generator_late_s_max']:.4f} s"
    )
    result.metrics = {
        "setup_s": setup["setup_s"],
        "peak_rss_mb": rss.peak_mb,
        "throughput_per_s": s["catchup_events_per_s"],
        "latency_p50_s": s["latency_p50_s"],
        "cold_s": s["cold_s"],
    }
    return result


def traced_run(result, spark, work, setup, files, sentinel, seconds, rows, truth, open_rate):
    """Warm the JVM with the warm-up and bursts, then run the stream in a
    new SparkContext of the same JVM with the event log off (the
    baseline of the tracing overhead), then once more with it on."""
    Phase(spark, work, "warm", files, sentinel).run(seconds, open_loop=False)
    spark.stop()
    spark, _ = common.start_spark(work)
    base, b = _phase(spark, work, "baseline", files, sentinel, seconds, rows)
    spark.stop()
    check_output(result, truth, base)
    log_dir = f"{work}/eventlog"
    spark, _ = common.start_spark(work, event_log_dir=log_dir)
    traced, t = _phase(spark, work, "traced", files, sentinel, seconds, rows)
    spark.stop()
    check_output(result, truth, traced)
    common.log(
        f"trace overhead: latency_p50_s {b['latency_p50_s']:.3f} -> {t['latency_p50_s']:.3f} s, "
        f"throughput_per_s {b['catchup_events_per_s']:.0f} -> {t['catchup_events_per_s']:.0f} events/s"
    )
    engine = eventlog.totals(eventlog.read(log_dir), {traced["run_id"]})
    result.metrics = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_action_s": setup["first_action_s"],
        **layer_metrics(traced, t),
        "stream.open_load_ratio": open_rate / t["catchup_events_per_s"],
        **eventlog.engine_metrics(
            engine,
            traced["t_end"] - traced["t_open"],
            common.CORES,
            len(_executed(traced["progress"])),
        ),
        "trace.delta_throughput_per_s": t["catchup_events_per_s"] - b["catchup_events_per_s"],
        "trace.delta_latency_p50_s": t["latency_p50_s"] - b["latency_p50_s"],
    }
    return result
