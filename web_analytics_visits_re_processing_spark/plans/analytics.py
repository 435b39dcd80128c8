"""Core web-analytics queries: the reference's sessionization surface
re-expressed on the driver's ``events`` fixture.

The DuckDB oracle for sessionization uses the lag/running-sum rewrite
(SURVEY §4.3.2) — DuckDB has no ``session_window``; the construction is
provably equivalent for a fixed gap, with the strict ``>`` comparison
matching Spark's merge rule (an event exactly at the previous window's
end merges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    sessionize_visits,
    with_session_columns,
)
from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.sources.tables import load_table

GAP_US = 1800 * 1_000_000

# Shared CTE: lag-based sessionizer, the ANSI-SQL equivalent of
# session_window(ts, '30 minutes') for DuckDB.
_SESSION_CTE = f"""
WITH seq AS (
    SELECT user_id, ts, event_type, value,
           CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts) > {GAP_US}
                THEN 1 ELSE 0 END AS is_new
    FROM events
    WHERE ts IS NOT NULL
), sess AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM seq
)
"""


@query(
    "sessionize_visits",
    oracle=_SESSION_CTE
    + """
SELECT CAST(user_id AS VARCHAR) || '_' || CAST(epoch_us(MIN(ts)) AS VARCHAR)
           AS visit_key,
       user_id,
       epoch_us(MIN(ts)) AS visit_start_us,
       epoch_us(MAX(ts)) AS visit_end_us,
       COUNT(*) AS n_hits,
       ROUND(SUM(value), 2) AS total_value
FROM sess
GROUP BY user_id, session_seq
""",
)
def q_sessionize_visits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R4-R8+R12: event-time 30-min-gap sessions over the events stream
    (reference ``main.py:217-232``), via ``session_window``."""
    events = load_table(spark, sf_dir, "events")
    visits = sessionize_visits(
        events,
        gap_seconds=1800,
        extra_aggs=[F.round(F.sum("value"), 2).alias("total_value")],
    )
    return visits.select(
        "visit_key",
        "user_id",
        F.unix_micros("visit_start").alias("visit_start_us"),
        F.unix_micros("visit_end").alias("visit_end_us"),
        "n_hits",
        "total_value",
    )


@query(
    "sessionize_hits",
    oracle=_SESSION_CTE
    + """
SELECT CAST(user_id AS VARCHAR) || '_' ||
           CAST(epoch_us(MIN(ts) OVER w) AS VARCHAR) AS visit_key,
       user_id,
       epoch_us(ts) AS ts_us,
       event_type,
       value
FROM sess
WINDOW w AS (PARTITION BY user_id, session_seq)
""",
)
def q_sessionize_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7+R10 without collect/explode: every hit carries its visit_key
    via the single-shuffle window-function formulation."""
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type", "value"
    )
    hits = with_session_columns(events, gap_seconds=1800)
    return hits.select(
        "visit_key",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_type",
        "value",
    )


@query(
    "tumbling_window_counts",
    oracle="""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS value_sum
FROM events
GROUP BY 1, 2
""",
)
def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed 1-hour event-time windows (`F.window`) — the same
    expression streams under a watermark (streaming/ package)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


@query(
    "sliding_window_counts",
    oracle="""
SELECT (epoch_us(ts) // 1800000000) * 1800000000
           - (s.i * 1800000000) AS window_start_us,
       COUNT(*) AS n_events
FROM events, (SELECT unnest([0, 1]) AS i) s
WHERE (epoch_us(ts) // 1800000000) - s.i >= 0
GROUP BY 1
""",
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event lands in 2
    overlapping windows (oracle replicates the window assignment by
    explicit half-hour-slot arithmetic)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
        )
    )


@query(
    "json_props_per_event_type",
    oracle="""
SELECT event_type,
       ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 2) AS avg_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction stays native (`get_json_object`) so the whole
    plan remains codegen'd — no Python in the hot path."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.round(F.avg(k), 2).alias("avg_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "window_lag_event_gaps",
    oracle="""
SELECT event_id,
       user_id,
       epoch_us(ts) - lag(epoch_us(ts))
           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
FROM events
""",
)
def q_window_lag_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-event gap (lag analytic) — the building block of
    the pure-SQL sessionizer; event_id breaks timestamp ties."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ts_us = F.unix_micros("ts")
    return events.select(
        "event_id",
        "user_id",
        (ts_us - F.lag(ts_us).over(w)).alias("gap_us"),
    )


@query(
    "asof_last_purchase_before_event",
    oracle="""
SELECT event_id,
       user_id,
       epoch_us(ts) AS ts_us,
       MAX(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_purchase_us
FROM events
""",
)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of lookup expressed as a running conditional max — no join,
    one shuffle on the user key, identical semantics to an ASOF JOIN
    of events against the purchase subset."""
    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ts_us = F.unix_micros("ts")
    return events.select(
        "event_id",
        "user_id",
        ts_us.alias("ts_us"),
        F.max(F.when(F.col("event_type") == "purchase", ts_us)).over(w).alias(
            "last_purchase_us"
        ),
    )


@query(
    "distinct_event_users",
    oracle="SELECT DISTINCT user_id FROM events",
)
def q_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates — the dedup the reference's visitors output
    needed (main.py:157-160 emits one row per hit)."""
    events = load_table(spark, sf_dir, "events")
    return events.select("user_id").dropDuplicates()


@query(
    "map_functions_props",
    oracle="""
SELECT event_id,
       array_to_string(json_keys(props), ',') AS prop_keys,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
FROM events
WHERE event_id < 1000
""",
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json → MapType + map_keys/element access (nested-type
    function surface)."""
    events = load_table(spark, sf_dir, "events")
    m = F.from_json("props", "map<string,bigint>")
    return events.where(F.col("event_id") < 1000).select(
        "event_id",
        F.array_join(F.map_keys(m), ",").alias("prop_keys"),
        F.try_element_at(m, F.lit("k")).alias("k_value"),
    )


@query(
    "explode_event_type_chars",
    oracle="""
SELECT t.ch AS ch, COUNT(*) AS n
FROM events, unnest(string_split(event_type, '')) AS t(ch)
GROUP BY t.ch
""",
)
def q_explode_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode/unnest surface: flatten an array column and aggregate
    (generator → hash agg; partial aggregation keeps the shuffle
    proportional to distinct keys, not exploded rows)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.select(F.explode(F.split("event_type", "")).alias("ch"))
        .where(F.col("ch") != "")
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# DYNAMIC-gap sessions merge on interval OVERLAP with the RUNNING
# window end — max(ts+gap) over all previous session members — not
# the previous event alone: a long-gap event can hold the session
# open across several short-gap events, so a lag-only rule would
# split sessions Spark merges. Gaps-and-islands with a running-max
# frame replays it exactly (inclusive boundary: an event exactly
# at the running end merges, the same empirical rule as fixed-gap
# session_window). Shared verbatim by the batch gate below AND the
# streaming twin (`streaming_dynamic_gap_sessions`) — one oracle,
# two execution models.
DYNGAP_ORACLE = """
WITH g AS (
    SELECT user_id, ts, event_id,
           epoch_us(ts) AS ts_us,
           CASE event_type WHEN 'click' THEN 300000000
                           WHEN 'purchase' THEN 600000000
                           ELSE 1800000000 END AS gap_us
    FROM events
    WHERE ts IS NOT NULL
), seq AS (
    SELECT user_id, ts_us,
           CASE WHEN ts_us > MAX(ts_us + gap_us) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                THEN 1 ELSE 0 END AS is_new
    FROM g
), sess AS (
    SELECT user_id, ts_us,
           SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                             ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM seq
)
SELECT user_id,
       MIN(ts_us) AS visit_start_us,
       MAX(ts_us) AS visit_end_us,
       COUNT(*) AS n_hits
FROM sess
GROUP BY user_id, session_seq
"""


@query("sessionize_dynamic_gap", oracle=DYNGAP_ORACLE)
def q_sessionize_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type DYNAMIC session gaps — ``session_window`` with a
    gap EXPRESSION (clicks time out in 5 min, purchases in 10, the
    rest in 30), the API surface the reference's fixed 1800 s cannot
    express (``main.py:207``). Same single user-keyed exchange as the
    fixed-gap sessionizer; the merge rule is interval overlap against
    the running window end, which the oracle replays with a
    running-max gaps-and-islands window."""
    events = load_table(spark, sf_dir, "events")
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .when(F.col("event_type") == "purchase", F.lit("600 seconds"))
        .otherwise(F.lit("1800 seconds"))
    )
    return (
        events.where(F.col("ts").isNotNull())
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
        .agg(
            F.min("ts").alias("_start"),
            F.max("ts").alias("_end"),
            F.count(F.lit(1)).alias("n_hits"),
        )
        .select(
            "user_id",
            F.unix_micros("_start").alias("visit_start_us"),
            F.unix_micros("_end").alias("visit_end_us"),
            "n_hits",
        )
    )


@query(
    "incremental_sessionize_visits",
    # The STRONGEST gate shape in the registry: the Spark side
    # sessionizes two time-split batches independently and merges
    # them incrementally; the oracle sessionizes the FULL stream in
    # one pass. Equality proves the incremental path reproduces
    # batch semantics exactly (boundary glue, merge-at-exactly-gap,
    # key recomputation) — not merely that both engines agree on one
    # formula.
    oracle=_SESSION_CTE
    + """
SELECT CAST(user_id AS VARCHAR) || '_' || CAST(epoch_us(MIN(ts)) AS VARCHAR)
           AS visit_key,
       user_id,
       epoch_us(MIN(ts)) AS visit_start_us,
       epoch_us(MAX(ts)) AS visit_end_us,
       COUNT(*) AS n_hits
FROM sess
GROUP BY user_id, session_seq
""",
)
def q_incremental_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental sessionization across a mid-month cutoff: history
    (< Jan 16) and the new drop (≥ Jan 16) are sessionized as
    separate batches — the daily-drop pattern that avoids re-scanning
    100 TB of history — then merged by
    ``operators/sessionize.py::merge_incremental_visits`` (one
    user-keyed lag over the visit intervals; only a user's last prior
    and first new visit can join). Gated against FULL-batch
    sessionization of all events."""
    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        merge_incremental_visits,
    )

    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    prior = sessionize_visits(events.where(F.col("ts") < cutoff), gap_seconds=1800)
    new = sessionize_visits(events.where(F.col("ts") >= cutoff), gap_seconds=1800)
    merged = merge_incremental_visits(prior, new, gap_seconds=1800)
    return merged.select(
        "visit_key",
        "user_id",
        F.unix_micros("visit_start").alias("visit_start_us"),
        F.unix_micros("visit_end").alias("visit_end_us"),
        "n_hits",
    )
