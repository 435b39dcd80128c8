"""The reference's end-to-end pipeline, Spark-first: hit log in,
``visits`` / ``hits`` / ``visitors`` out (``main.py:209-234``).

Topology: one input scan, one shuffle (the user-key exchange inside
``with_session_columns``), and one persisted frame that all three
sinks read (Beam reuses pipeline branches implicitly; Spark needs the
explicit ``persist`` or each write would recompute the scan+shuffle).
``visits`` groups and ``visitors`` de-duplicates on keys the
``user_id`` hash partitioning already clusters, so neither adds an
exchange.

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

from dataclasses import dataclass

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
        parsed_hits, user_col="user_id", ts_col="ts", gap_seconds=gap_seconds
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
    counts: dict[str, int] = {}
    try:
        for name, df in (
            ("hits", result.hits),
            ("visits", result.visits),
            ("visitors", result.visitors),
        ):
            obs = Observation(f"{name}_sink")
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
            writer = observed.write.mode("overwrite").format(output_format)
            if output_format == "csv":
                writer = writer.option("header", "false")
            writer.save(f"{out}/{name}")
            counts[name] = obs.get["rows"]
    finally:
        result.stamped.unpersist()
    return counts
