"""Shared plumbing for the workloads: the work directory, Spark set-up,
the /proc memory sampler, the host-drift probe and small helpers.

Nothing here imports pyspark or the package at module level: set-up
time (``start_spark``) covers those imports.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))
# The driver heap, set through the package's own SPARK_DRIVER_MEMORY
# and fixed and touched up front: with a heap that grows as the
# collector decides, peak RSS swings by a quarter between runs of the
# same input. Peak RSS so moves with what lives outside the heap; the
# stream's state memory is reported per layer.
DRIVER_MEMORY = "2g"


@dataclass
class Result:
    """What one run reports: metric values by name (units come from
    BENCHMARK.json), operations attempted and failed, and every
    correctness check that did not hold."""

    metrics: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.errors.append(what)

    def attempt(self, fn, *args):
        """Run one operation; a raised error counts as a failed
        operation (traceback on stderr) and returns None."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None


def workdir(name: str) -> str:
    """A fresh directory under the checkout for one run's files. Spark's
    local dirs and the JVM's and Python's temp files land here too."""
    path = os.path.join(ROOT, ".perfbench_work", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ.pop("SPARK_GRAFT_CPUS", None)
    return path


def spark_conf(work: str, event_log_dir: str | None) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_spark(work: str, master: str | None = None, event_log_dir: str | None = None):
    """Import the package, build its session and run a trivial action.
    Returns the session and the timings of those steps. Called again
    after ``spark.stop()`` it starts a new SparkContext in the same JVM
    (how the traced run switches the event log on)."""
    t0 = time.perf_counter()
    from web_analytics_visits_re_processing_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=master or f"local[{CORES}]",
        extra_conf=spark_conf(work, event_log_dir),
    )
    t2 = time.perf_counter()
    spark.range(1).collect()
    t3 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {
        "get_spark_s": t2 - t1,
        "first_action_s": t3 - t2,
        "setup_s": t3 - t0,
    }


def job_group(spark, name: str | None) -> None:
    """Tag the jobs that follow (traced runs only; ``None`` is a no-op)."""
    if name is not None:
        spark.sparkContext.setJobGroup(name, name)


def noop(df) -> None:
    """Execute every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def anchor(spark) -> float:
    """Pure-compute probe with no input files: 5M-row range, integer
    hash, 1024-bucket aggregate (bench.py's anchor at a quarter of its
    rows). A slow reading marks a contended host; it is printed beside
    the results, never folded into them."""
    from pyspark.sql import functions as F

    df = (
        spark.range(0, 5_000_000, 1, 32)
        .select(((F.col("id") * 2654435761) % 2147483647).alias("h"))
        .groupBy((F.col("h") % 1024).alias("b"))
        .agg(F.sum("h").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    t0 = time.perf_counter()
    noop(df)
    return time.perf_counter() - t0


# --- memory -----------------------------------------------------------------


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, command name) of every process."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        procs[int(entry)] = (int(stat[stat.rindex(")") + 2 :].split()[1]), comm)
    return procs


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid``, its direct children (the JVM that
    pyspark launches) and the Python workers below them. Other
    descendants are skipped: the JVM forks short-lived helpers (``ls``
    for file permissions) that share its pages until they exec, and
    counting one would count the JVM twice."""
    procs = _processes()
    counted, todo = [pid], [pid]
    while todo:
        parent = todo.pop()
        for child, (ppid, comm) in procs.items():
            if ppid == parent and (parent == pid or comm.startswith("python")):
                counted.append(child)
                todo.append(child)
    total, page = 0, os.sysconf("SC_PAGE_SIZE")
    for p in counted:
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Samples ``tree_rss_bytes`` of this process every ``interval``
    seconds on a background thread and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# --- statistics and output ----------------------------------------------------


def median(values) -> float:
    return float(statistics.median(values))


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """A note on stdout, stamped with seconds since the process began."""
    print(f"# [{time.perf_counter() - _T0:6.1f}s] {msg}", flush=True)
