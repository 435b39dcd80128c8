"""Streaming sessionization: the paper's visits over a live feed.

The reference's Beam pipeline is event-time windowed batch
(``window.Sessions``, ``main.py:217``). Here the stream is the batch
``operators.sessionize.sessionize_visits`` expression run over a
watermarked input: one query, two execution modes (the design point of
Structured Streaming). Its visits follow the one rule of
``operators.sessionize``: a hit more than ``gap_seconds`` after its
user's previous hit (compared in epoch micros) starts a new visit, and
one exactly at the gap joins the open one.

Production topology (100 TB/day feed):

    readStream (files/kafka) → withWatermark(ts, delay)
      → sessionize_visits (non-null ts, per-user session windows)
      → append-mode sink

Append mode emits a session exactly once, when the watermark passes
its close — late hits inside the delay merge into their session;
later ones are dropped (``numRowsDroppedByWatermark`` in the query
progress). State per in-flight session is bounded.

AQE doesn't apply to streaming, so the stateful stage runs exactly
``spark.sql.shuffle.partitions`` tasks, each with its own state-store
load, checksummed commit and sink file on EVERY micro-batch, data or
not. ``REPLAY_SHUFFLE_PARTITIONS`` sizes that stage for MB-scale state
(a 15.8k-row / 12.7 MB peak in the benchmark stream): one partition
per core the process may run on, capped at 8, so the stage runs in
one wave; partitions beyond the cores only queue a second wave of
those tasks. A production stream with GB-scale state sizes it to the
concurrent-session key space instead. The first batch records the
count in the checkpoint's offset log, and a restart from that
checkpoint keeps it whatever the session conf says then.

The registry's replay of this stream over the fixture (and of every
other streaming gate) lives in ``plans/streaming_queries.py`` on the
harness in ``streaming/replay.py``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    DEFAULT_GAP_SECONDS,
    sessionize_visits,
)

REPLAY_SHUFFLE_PARTITIONS = str(min(8, len(os.sched_getaffinity(0))))


def sessionize_stream(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming visits: one row per closed session (append mode) or
    per session-so-far (complete/update), with columns ``visit_key,
    user_id, visit_start, visit_end, n_hits, total_value_cents``."""
    return sessionize_visits(
        events.withWatermark("ts", watermark_delay),
        gap_seconds=gap_seconds,
        extra_aggs=[F.sum(F.floor(F.col("value") * 100)).alias("total_value_cents")],
    )
