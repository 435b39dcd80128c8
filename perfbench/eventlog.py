"""Spark event-log reader for the traced run.

The benchmark sets a job group around each call into a layer; this
module maps every stage to the job group that submitted it and sums
the stage's task metrics, so CPU, GC, shuffle, spill and input bytes
can be charged to a layer. Structured Streaming runs its micro-batch
jobs under a job group named after the query's run id.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field


@dataclass
class Stage:
    group: str | None = None
    task_ms: list[int] = field(default_factory=list)
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0


def read(log_dir: str) -> dict[int, Stage]:
    """Stages of the single application logged under ``log_dir``."""
    (name,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    stages: dict[int, Stage] = {}
    with open(os.path.join(log_dir, name)) as fh:
        for line in fh:
            event = json.loads(line)
            kind = event["Event"]
            if kind == "SparkListenerJobStart":
                group = (event.get("Properties") or {}).get("spark.jobGroup.id")
                for sid in event["Stage IDs"]:
                    stage = stages.setdefault(sid, Stage())
                    if stage.group is None:
                        stage.group = group
            elif kind == "SparkListenerTaskEnd":
                _add_task(stages.setdefault(event["Stage ID"], Stage()), event)
    return stages


def _add_task(stage: Stage, event: dict) -> None:
    m = event.get("Task Metrics")
    if not m:
        return
    stage.task_ms.append(m["Executor Run Time"])
    stage.run_ms += m["Executor Run Time"]
    stage.cpu_ns += m["Executor CPU Time"]
    stage.gc_ms += m["JVM GC Time"]
    stage.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    sr = m["Shuffle Read Metrics"]
    stage.shuffle_read_bytes += sr["Remote Bytes Read"] + sr["Local Bytes Read"]
    stage.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
    stage.input_bytes += m["Input Metrics"]["Bytes Read"]


@dataclass
class Totals:
    run_s: float
    cpu_s: float
    gc_s: float
    spill_bytes: int
    shuffle_write_bytes: int
    input_bytes: int
    task_skew: float


def totals(stages: dict[int, Stage], groups) -> Totals:
    """Summed task metrics of the stages submitted under ``groups``.
    ``task_skew`` is max over median task time in the stage that read
    the most shuffle data (the stage after the user-key exchange)."""
    picked = [s for s in stages.values() if s.group in groups]
    readers = [s for s in picked if s.shuffle_read_bytes and s.task_ms]
    skew = 0.0
    if readers:
        top = max(readers, key=lambda s: s.shuffle_read_bytes)
        skew = max(top.task_ms) / max(statistics.median(top.task_ms), 1)
    return Totals(
        run_s=sum(s.run_ms for s in picked) / 1e3,
        cpu_s=sum(s.cpu_ns for s in picked) / 1e9,
        gc_s=sum(s.gc_ms for s in picked) / 1e3,
        spill_bytes=sum(s.spill_bytes for s in picked),
        shuffle_write_bytes=sum(s.shuffle_write_bytes for s in picked),
        input_bytes=sum(s.input_bytes for s in picked),
        task_skew=skew,
    )


def engine_metrics(t: Totals, wall_s: float, cores: int, ops: int) -> dict[str, float]:
    """Executor CPU and GC time per operation (a job, a micro-batch or a
    pass), and the share of the cores' wall time that tasks ran."""
    return {
        "spark.executor_cpu_s": t.cpu_s / ops,
        "spark.gc_s": t.gc_s / ops,
        "spark.cpu_busy_ratio": t.run_s / (wall_s * cores),
    }
