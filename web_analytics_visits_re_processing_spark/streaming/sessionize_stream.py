"""Streaming sessionization — the reference's Beam pipeline was
event-time windowed batch (`window.Sessions`, ``main.py:217``); the
Spark-first generalization runs the SAME ``session_window`` expression
under Structured Streaming with a watermark (one definition, two
execution modes — the core design point of the Structured Streaming
model).

Production topology (100 TB/day feed):

    readStream (files/kafka) → withWatermark(ts, delay)
      → groupBy(user, session_window(ts, gap)) → append-mode sink

Append mode emits a session exactly once, when the watermark passes
its close — late hits inside the delay merge into their session;
later ones are dropped (``numRowsDroppedByWatermark`` in the query
progress). State per in-flight session is bounded: AQE doesn't apply
to streaming, so size ``spark.sql.shuffle.partitions`` to the expected
concurrent-session key space up front — ``REPLAY_SHUFFLE_PARTITIONS``
is that size for a ~MB-scale replay.

The registry's replay of this stream over the fixture (and of every
other streaming gate) lives in ``plans/streaming_queries.py`` on the
harness in ``streaming/replay.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    DEFAULT_GAP_SECONDS,
    visit_key_col,
)

REPLAY_SHUFFLE_PARTITIONS = "8"


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming visits aggregation: one row per closed session (append
    mode) or per session-so-far (complete/update)."""
    visits = (
        events.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark_delay)
        .groupBy(
            F.col("user_id"),
            F.session_window(F.col("ts"), f"{int(gap_seconds)} seconds"),
        )
        .agg(
            F.min("ts").alias("visit_start"),
            F.max("ts").alias("visit_end"),
            F.count(F.lit(1)).alias("n_hits"),
            F.sum(F.floor(F.col("value") * 100)).alias("total_value_cents"),
        )
    )
    return visits.select(
        visit_key_col(F.col("user_id"), F.col("visit_start")).alias("visit_key"),
        "user_id",
        "visit_start",
        "visit_end",
        "n_hits",
        "total_value_cents",
    )
