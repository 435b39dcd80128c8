"""The reference's end-to-end pipeline, Spark-first: hit log in,
``visits`` / ``hits`` / ``visitors`` out (``main.py:209-234``).

Topology: one input scan, one shuffle and one sort (the user-key
exchange and the user-ordered pass inside ``with_session_columns``),
and one persisted frame that all three sinks read (Beam reuses
pipeline branches implicitly; Spark needs the explicit ``persist`` or
each write would recompute the scan+shuffle). ``visits`` groups and
``visitors`` de-duplicates on keys the ``user_id`` hash partitioning
already clusters, so neither adds an exchange.

The three sinks are written at the same time, one thread each, so
``visits`` and ``visitors`` are planned while the ``hits`` job
runs. Each thread inherits the caller's job group and other local
properties (``pyspark.inheritable_thread_target``), so a caller that
tags or cancels the run by job group reaches every sink job. The
persisted frame is still computed once: Spark builds a cached
relation's RDD once, and a task that needs a block another task is
writing waits for it instead of recomputing it.

Faithful-vs-sane divergences (SURVEY §4.3.3), defaulting to sane:

- visitors are ``dropDuplicates(['user_id','ibm_id','scv_id'])`` by
  default; ``dedup_visitors=False`` reproduces the reference's
  one-row-per-hit output (``main.py:157-160``).
- non-numeric timestamps drop with a counter instead of crashing
  (``main.py:93``).
- min/max on numeric ts, not lexicographic strings (``main.py:120``).

Faithful (not a divergence): the reference's visitor branch taps the
pipeline before its timestamp stage (``main.py:214`` vs ``:216``), so
a row with an unparseable ts still yields a visitor, never a hit or
visit. ``with_session_columns`` keeps such rows with a null
``visit_key``: visitors read every row of the persisted frame, hits
and visits only the keyed ones.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    DEFAULT_GAP_SECONDS,
    visits_from_hits,
    with_session_columns,
)
from web_analytics_visits_re_processing_spark.sources.hitlog import read_hitlog

# Reference output column orders (main.py:101, main.py:106, main.py:159).
VISITS_COLUMNS = ["visit_key", "user_id", "visit_start", "visit_end"]
HITS_COLUMNS = [
    "visit_key",
    "ts",
    "server",
    "tracking_code",
    "page",
    "line_number",
    "pdp_view",
    "atb",
    "bag_view",
    "checkout",
    "payment",
    "order",
]
VISITORS_COLUMNS = ["user_id", "ibm_id", "scv_id"]


@dataclass
class VisitsPipelineResult:
    hits: DataFrame
    visits: DataFrame
    visitors: DataFrame
    stamped: DataFrame  # persisted upstream; unpersist() after writes


def build_visits_pipeline(
    parsed_hits: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    dedup_visitors: bool = True,
) -> VisitsPipelineResult:
    """Parsed hit log (see ``sources.hitlog``, ideally parsed with
    ``drop_bad_ts=False``) → the three outputs, all read from one
    persisted sessionized frame.
    """
    stamped = with_session_columns(
        parsed_hits, gap_seconds=gap_seconds
    ).persist(StorageLevel.MEMORY_AND_DISK)

    hits = stamped.where(F.col("visit_key").isNotNull()).select(*HITS_COLUMNS)
    visits = visits_from_hits(stamped).select(*VISITS_COLUMNS)
    visitors = stamped.select(*VISITORS_COLUMNS)
    if dedup_visitors:
        visitors = visitors.dropDuplicates(VISITORS_COLUMNS)
    return VisitsPipelineResult(hits=hits, visits=visits, visitors=visitors, stamped=stamped)


def run_visits_pipeline(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    encoding: str = "UTF-8",
    dedup_visitors: bool = True,
    output_format: str = "csv",
    strict_reference_mode: bool = False,
) -> dict[str, int]:
    """Read → sessionize → write ``hits/`` ``visits/`` ``visitors/``.

    The three sink writes run at the same time, each on its own
    thread, and their jobs carry the caller's job group. A failed sink
    raises once all three have finished, and the persisted frame is
    released either way.

    Returns row counts per sink, read from per-sink observation
    metrics riding the write jobs themselves — no extra count jobs
    over the persisted frame (the parse-drop counters likewise stream
    through the ``hitlog_parse`` observation).
    """
    parsed = read_hitlog(
        spark, input_path, encoding, strict_reference_mode, drop_bad_ts=False
    )
    result = build_visits_pipeline(parsed, gap_seconds, dedup_visitors)
    out = output_path.rstrip("/")
    sinks = {"hits": result.hits, "visits": result.visits, "visitors": result.visitors}
    try:
        # One thread per sink, each wrapped on this thread so it starts
        # from its own copy of the caller's local properties (job
        # group, scheduler pool); leaving the pool waits for all three.
        with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
            futures = {
                name: pool.submit(
                    inheritable_thread_target(spark)(_write_sink),
                    name,
                    df,
                    f"{out}/{name}",
                    output_format,
                )
                for name, df in sinks.items()
            }
        return {name: future.result() for name, future in futures.items()}
    finally:
        result.stamped.unpersist()


def _write_sink(name: str, df: DataFrame, path: str, output_format: str) -> int:
    """Write one sink and return its row count, read from an observation
    that rides the write job itself."""
    obs = Observation(f"{name}_sink")
    writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode("overwrite")
    writer = writer.format(output_format)
    if output_format == "csv":
        writer = writer.option("header", "false")
    writer.save(path)
    return obs.get["rows"]
