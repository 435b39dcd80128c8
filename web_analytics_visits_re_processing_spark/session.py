"""SparkSession construction with scale-aware defaults.

The knobs below are chosen for correctness-at-scale first:

- **AQE on** (coalesce post-shuffle partitions, skew-join splitting,
  runtime broadcast demotion/promotion). At 100 TB the static plan is
  always wrong somewhere; AQE fixes it at runtime. These are Spark's
  defaults (``spark.sql.adaptive.enabled``,
  ``...coalescePartitions.enabled`` and ``...skewJoin.enabled`` all
  ``true``), so the session sets none of them.
- **File scans split at 128 MB** (``spark.sql.files.maxPartitionBytes``,
  Spark's default): parquet row groups stay parallel but bounded.
- **UTC session timezone** so epoch math is deterministic regardless of
  the host's zone (parquet naive timestamps compare identically in
  Spark and DuckDB oracles).
- **Arrow enabled** so the few Pandas-UDF operators (similarity
  fallbacks, multimodal decode) move data in columnar batches, not
  pickled rows.
- **AQE may re-plan cached plans**, so a persisted frame read by
  several sinks keeps AQE's coalesced partitions instead of one task
  and one output file per shuffle partition.
- **New files are listed on the driver** up to 1,024 paths
  (``spark.sql.sources.parallelPartitionDiscovery.threshold``; Spark's
  default is 32). A file stream source passes each trigger's new files,
  which it has already found, as explicit paths; above the threshold
  Spark lists them again through a job with one task per path. On a
  4-core host (``local[4]``, local disk, warm JVM) the driver lists 60
  files in 48-69 ms and 1,000 in 0.18-0.21 s, where the job takes
  0.49-0.63 s and 3.9-4.4 s for the same files. On an object store
  with thousands of new files per trigger, pass a lower value through
  ``extra_conf``.
- **No per-call call-site capture**
  (``spark.python.sql.dataFrameDebugging.enabled=false``; PySpark's
  default is ``true``). With it on, PySpark 4.1 wraps ``F.col`` and
  every classic ``Column`` method to record the caller's frame for
  error messages: each call makes extra py4j round trips and tries
  ``import IPython`` / ``import ipykernel``. On a 4-core host where
  IPython is installed without ipykernel, the daily job's first run
  imports IPython (0.40-0.43 s) and retries the failing ``ipykernel``
  import on every call. Building the job's DataFrames in a fresh
  process made ~1,680 py4j round trips with the capture on and ~860
  with it off; with the one-pass sessionize, that phase of the cold
  job fell from 1.45-1.82 s to 1.03-1.30 s. The price: an error's
  query context no longer names the Python line that built the
  failing expression. To turn the capture back on, pass ``"true"``
  through ``extra_conf``. PySpark reads the setting once per Python
  process, at the first wrapped call, so set it before building any
  DataFrame.
- ``spark.sql.shuffle.partitions`` defaults to 32 here (AQE coalesces
  it per stage; pass another value through ``extra_conf``); on a real
  cluster you would size it so each post-shuffle partition is
  ~128-512 MB (e.g. 100 TB input with heavy reduction → tens of
  thousands of partitions), or simply let AQE coalesce from a high
  initial number.
- **The driver JVM starts from a class-data-sharing archive** (JDK
  dynamic AppCDS, see ``cds``) when ``get_spark`` launches it: on a
  4-core host, set-up (session plus first action) falls from ~8.4 s to
  ~4.5 s. The archive lives in
  ``$XDG_CACHE_HOME/web_analytics_visits_re_processing_spark/cds/``
  (default ``~/.cache/...``), one per JDK and Spark jar list. The first
  run on a host records it: about +3 s of set-up, and 10-20 s at exit
  while the JVM dumps 150-220 MB (``stop_jvm`` or the process's exit
  waits for it). The recording JVM also runs slower while it lives
  when it compiles many distinct queries: a 20-test registry module
  took 81-84 s against 62-68 s. The daily job's warm jobs were not
  slower. Delete that directory to clear the cache. To opt
  out, pass ``-Xshare:off`` (or a ``-XX:SharedArchiveFile`` /
  ``-XX:ArchiveClassesAtExit`` of your own) in
  ``spark.driver.extraJavaOptions``; a conf dir with real settings
  also turns it off. A truncated archive that crashes the JVM is
  deleted and the launch retried without it; one the JVM starts
  without mapping is deleted after the launch, so the next run
  records a new one.
"""

from __future__ import annotations

import atexit
import os
import subprocess

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from web_analytics_visits_re_processing_spark import cds

# A JVM that records a CDS archive dumps it after stdin closes: 10-20 s
# for 150-220 MB on a 4-core host.
JVM_EXIT_TIMEOUT_S = 120


def get_spark(
    app_name: str = "web-analytics-engine",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master=None`` keeps whatever the environment provides (cluster
    submit, or an already-running session); tests pass ``local[*]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None and cpus:
        master = f"local[{cpus}]"

    conf = {
        "spark.sql.session.timeZone": "UTC",
        # Serves the legacy fixture layout that load_table still
        # accepts: a TIMESTAMP(NANOS) ``ts``, which Spark 4 rejects
        # outright, is read as int64 (rebuilt to micros in
        # sources.tables.load_table). The shipped fixtures store
        # timestamp[us]. Set once here — library code only falls back
        # to an idempotent runtime set for driver-provided vanilla
        # sessions.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.shuffle.partitions": "32",
        # Broadcast any dimension <64 MB — region/nation/customer/part
        # class tables stay broadcast even at large SF.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    launch = None
    # CDS applies only when this call launches the driver JVM: no
    # gateway yet, and none handed over by spark-submit.
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        launch = cds.plan(
            _find_spark_home(),
            conf.get("spark.driver.extraJavaOptions", ""),
            conf.get("spark.driver.extraClassPath", ""),
        )
    if launch is None:
        return _get_or_create(app_name, master, conf)
    logs = cds.crash_logs()
    try:
        spark = _launch(app_name, master, conf, launch)
    except PySparkRuntimeError as exc:
        if exc.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        cds.discard(launch, logs)
        return _get_or_create(app_name, master, conf)
    if launch.recording is not None:
        atexit.register(_publish_at_exit, SparkContext._gateway, launch)
    elif SparkContext._gateway.proc is not None:
        cds.drop_unmapped(launch, SparkContext._gateway.proc.pid)
    return spark


def _get_or_create(app_name: str, master: str | None, conf: dict[str, str]) -> SparkSession:
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _launch(
    app_name: str, master: str | None, conf: dict[str, str], launch: cds.Plan
) -> SparkSession:
    """Launch the driver JVM with the caller's Java options plus the CDS
    flag, and the cache's empty conf dir in place of the templates-only
    one; the process environment is restored afterwards."""
    options = f"{conf.get('spark.driver.extraJavaOptions', '')} {launch.java_option}"
    conf = {**conf, "spark.driver.extraJavaOptions": options.strip()}
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = launch.conf_dir
    try:
        return _get_or_create(app_name, master, conf)
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def stop_jvm() -> None:
    """Stop the session and the driver JVM this process launched, and
    wait for the JVM to exit; a JVM recording a CDS archive writes it
    as it exits. A JVM handed over by spark-submit keeps running."""
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    running = proc is None or proc.poll() is None
    if running:
        if SparkSession._instantiatedSession is not None:
            SparkSession._instantiatedSession.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    if proc is None:
        return
    if running:
        gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=JVM_EXIT_TIMEOUT_S)


def _publish_at_exit(gateway, launch: cds.Plan) -> None:
    """atexit hook of a recording launch: stop its JVM if still up, then
    publish the archive if the JVM exited cleanly."""
    try:
        if SparkContext._gateway is gateway:
            stop_jvm()
        code = gateway.proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return
    if code == 0:
        cds.publish(launch)
