"""Tests of the benchmark itself (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import gzip
import json
import os
import sys

import numpy as np
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stream  # noqa: E402

# The golden 6-hit fixture (FIXTURES.md §A): one user, two visits.
GOLDEN_TS = [1517958846, 1517958850, 1517958881, 1517958883, 1517958922, 1517458988]


def test_golden_fixture_yields_two_visits():
    user, start, end, n = gen.sessionize_truth(np.zeros(6, dtype=np.int64), GOLDEN_TS)
    assert list(start) == [1517458988, 1517958846]
    assert list(end) == [1517458988, 1517958922]
    assert list(n) == [1, 5]


def test_event_exactly_at_gap_merges():
    _, start, _, n = gen.sessionize_truth([7, 7], [1000, 1000 + gen.GAP_S])
    assert list(start) == [1000] and list(n) == [2]
    _, start, _, _ = gen.sessionize_truth([7, 7], [1000, 1001 + gen.GAP_S])
    assert list(start) == [1000, 1001 + gen.GAP_S]


def _loop_sessions(rows: list[list[str]]) -> tuple[int, int, int]:
    """Visits, sum of starts and sum of ends, by a plain per-user loop."""
    by_user: dict[str, list[int]] = {}
    for r in rows:
        by_user.setdefault(r[1] + "_" + r[2], []).append(int(r[0]))
    visits = starts = ends = 0
    for ts in by_user.values():
        ts.sort()
        first = prev = ts[0]
        for t in ts[1:] + [None]:
            if t is None or t - prev > gen.GAP_S:
                visits, starts, ends = visits + 1, starts + first, ends + prev
                first = t
            prev = t
    return visits, starts, ends


def test_hitlog_truth_matches_the_files(tmp_path):
    truth = gen.make_hitlog(str(tmp_path), 3, n_users=300, n_files=2, n_bots=1, bot_hits=2000)
    rows = []
    for path in sorted(tmp_path.glob("*.tsv.gz")):
        with gzip.open(path, "rt", encoding="iso-8859-1") as fh:
            rows += [line.split("\t") for line in fh.read().splitlines()]
    full = [r for r in rows if len(r) == 10]
    good = [r for r in full if r[0].isdigit()]
    assert len(rows) == truth.lines
    assert len(rows) - len(full) == truth.short_rows
    assert len(full) - len(good) == truth.bad_ts_rows
    assert len(good) == truth.hits
    assert _loop_sessions(good) == (truth.visits, truth.visit_start_sum, truth.visit_end_sum)
    assert len({(r[1], r[2], r[8], r[9]) for r in full}) == truth.visitors
    assert sum("1" in r[5].split(",") for r in good) == truth.order_flags
    assert sum(r[6] == gen.LATIN1_PAGE for r in good) == truth.latin1_page_hits


def test_stream_files_keep_late_events_within_the_watermark(tmp_path):
    events = gen.make_events(1, 200, 3600, 3 * 3600)
    sizes = [events.num_rows // 20] * 19
    files = gen.write_stream_files(events, str(tmp_path), sizes + [events.num_rows - sum(sizes)], 0.05, 1)
    assert sum(n for _, n in files) == events.num_rows
    newest = None
    for path, _ in files:
        ts = pq.read_table(path).column("ts").cast("int64").to_numpy()
        if newest is not None:
            assert ts.min() > newest - 3600 * 1_000_000  # one-hour watermark
        newest = ts.max() if newest is None else max(newest, ts.max())


def test_stream_file_sizes_cover_every_event():
    sizes = stream.file_sizes(250_000, 10)
    assert sum(sizes) == 250_000
    assert len(sizes) == stream.N_WARMUP + stream.N_BURSTS * stream.BURST_FILES + stream.N_OPEN
    assert sizes[-stream.N_OPEN:] == [stream.OPEN_EVENTS_PER_S * 10 // stream.N_OPEN] * stream.N_OPEN


def test_source_batches_map_to_micro_batches_past_no_data_batches():
    def progress(batch, start, end):
        first = None if start is None else {"logOffset": start}
        offset = {"startOffset": first, "endOffset": {"logOffset": end}}
        return {"batchId": batch, "durationMs": {"addBatch": 1}, "sources": [offset]}

    idle = {"batchId": 3, "durationMs": {"latestOffset": 1}, "sources": [{}]}
    reports = [progress(0, None, 0), progress(1, 0, 0), progress(2, 0, 2), idle, progress(3, 2, 3)]
    assert stream._query_batches(reports) == {0: 0, 1: 2, 2: 2, 3: 3}


def _spec() -> dict:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [False, True])
def test_result_line_names_every_metric_with_its_unit(trace):
    spec = _spec()["per_layer" if trace else "end_to_end"]
    units = run.metric_units(trace)
    result = common.Result(metrics={m["name"]: 1.5 for m in spec[:3]}, attempted=4)
    line = json.loads(run.result_line(result, units))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {
        m["name"]: {"value": 1.5 if i < 3 else 0.0, "unit": m["unit"]} for i, m in enumerate(spec)
    }
    assert line["correct"] is True


def test_result_line_rejects_unknown_metrics():
    with pytest.raises(KeyError):
        run.result_line(common.Result(metrics={"nope": 1.0}), run.metric_units(False))


def test_event_log_charges_stages_to_job_groups(tmp_path):
    def task(stage, run_ms, shuffle_read):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 1_000_000,
                "JVM GC Time": 1,
                "Memory Bytes Spilled": 0,
                "Disk Bytes Spilled": 5,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": shuffle_read},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                "Input Metrics": {"Bytes Read": 100},
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Stage IDs": [1, 2], "Properties": {"spark.jobGroup.id": "b"}},
        task(0, 10, 0),
        task(1, 10, 7),
        task(1, 10, 7),
        task(1, 40, 7),
        task(2, 99, 0),
    ]
    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    stages = eventlog.read(str(tmp_path))
    a = eventlog.totals(stages, {"a"})
    assert (a.run_s, a.gc_s, a.spill_bytes, a.input_bytes) == (0.07, 0.004, 20, 400)
    assert a.task_skew == 4.0  # stage 1: max 40 over median 10
    assert eventlog.totals(stages, {"b"}).cpu_s == pytest.approx(0.099)


def test_every_per_layer_metric_names_what_it_should_move():
    with open(os.path.join(common.HERE, "METRICS.md")) as fh:
        rows = [line.split("|")[1:3] for line in fh if line.startswith("| `")]
    moves = {name.strip().strip("`"): target.strip() for name, target in rows}
    assert list(moves) == [m["name"] for m in _spec()["per_layer"]]
    end_to_end = {m["name"] for m in _spec()["end_to_end"]}
    for target in moves.values():
        for ref in target.split("`")[1::2]:
            if "@" in ref:
                metric, workload = ref.split("@")
                assert metric in end_to_end and workload in run.WORKLOADS, ref
