"""Streaming gates of the query registry — 22 registry queries, each
a replay of the bounded events fixture through a real file-stream
source on the shared harness in ``streaming/replay.py``:

- ``replay_append`` — the production topology: watermark → APPEND mode
  → parquet file sink, state evicted as the watermark advances and a
  sentinel row flushing the tail (sessions, tumbling/sliding windows,
  dedup, stream-stream and stream-static joins, abandoned sessions,
  the custom stateful operators of ``streaming/tws.py``);
- ``replay_upsert`` — the serving pattern: update-mode streaming
  aggregation → ``foreachBatch`` snapshot upsert (sketches, histograms,
  totals, experiment cells), read off the SERVED state.

Each result still equals its batch equivalent, so the batch DuckDB
oracles apply verbatim: the strongest batch≡streaming check the registry
can record, under real state eviction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    DEFAULT_GAP_SECONDS,
    sessionize_visits,
)
from web_analytics_visits_re_processing_spark.plans.analytics import _SESSION_CTE
from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.streaming.replay import (
    SENTINEL_EVENT_TYPE,
    SENTINEL_USER_ID,
    replay_append,
    replay_upsert,
)
from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
    sessionize_stream,
)


@query(
    "streaming_sessionize_visits",
    oracle=_SESSION_CTE
    + """
SELECT CAST(user_id AS VARCHAR) || '_' || CAST(epoch_us(MIN(ts)) AS VARCHAR)
           AS visit_key,
       user_id,
       epoch_us(MIN(ts)) AS visit_start_us,
       epoch_us(MAX(ts)) AS visit_end_us,
       COUNT(*) AS n_hits,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS total_value_cents
FROM sess
GROUP BY user_id, session_seq
""",
)
def streaming_visits_append(
    spark: SparkSession,
    sf_dir: str,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """The paper's stream (``sessionize_stream``) replayed through the
    production topology: file source → watermark → session_window agg
    → APPEND mode → parquet sink. Result equals the batch sessionizer
    (same DuckDB oracle) while state is genuinely evicted as the
    watermark advances."""
    visits = replay_append(
        spark,
        sf_dir,
        "streaming_sessionize_visits",
        lambda events: sessionize_stream(events, gap_seconds, watermark_delay),
    )
    return visits.where(F.col("user_id") != SENTINEL_USER_ID).select(
        "visit_key",
        "user_id",
        F.unix_micros("visit_start").alias("visit_start_us"),
        F.unix_micros("visit_end").alias("visit_end_us"),
        "n_hits",
        "total_value_cents",
    )


@query(
    "streaming_tumbling_counts",
    oracle="""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       event_type,
       COUNT(*) AS n_events,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS value_cents_sum
FROM events
GROUP BY 1, 2
""",
)
def streaming_tumbling_counts_append(
    spark: SparkSession, sf_dir: str, width: str = "1 hour"
) -> DataFrame:
    """Tumbling-window counts via the append-mode file-sink topology
    (windows close and evict as the watermark passes)."""

    def build(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", width), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.sum(F.floor(F.col("value") * 100)).alias("value_cents_sum"),
            )
            .select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "event_type",
                "n_events",
                "value_cents_sum",
            )
        )

    counts = replay_append(spark, sf_dir, "streaming_tumbling_counts", build)
    return counts.where(F.col("event_type") != SENTINEL_EVENT_TYPE)


@query(
    "streaming_sliding_counts",
    # identical to the batch sliding_window_counts oracle: explicit
    # half-hour-slot arithmetic replays F.window(1h, 30min) assignment.
    oracle="""
SELECT (epoch_us(ts) // 1800000000) * 1800000000
           - (s.i * 1800000000) AS window_start_us,
       COUNT(*) AS n_events
FROM events, (SELECT unnest([0, 1]) AS i) s
WHERE (epoch_us(ts) // 1800000000) - s.i >= 0
GROUP BY 1
""",
)
def streaming_sliding_counts_append(
    spark: SparkSession,
    sf_dir: str,
    width: str = "1 hour",
    slide: str = "30 minutes",
) -> DataFrame:
    """Sliding-window counts (1h windows every 30 min — each event in
    width/slide overlapping windows) under real append-mode replay
    with watermark eviction — equals the batch sliding-window oracle.

    Sentinel handling differs from tumbling: there is no event_type in
    the output schema to filter on read-back, and filtering the
    sentinel BEFORE the watermark would stop it advancing the watermark
    (Catalyst pushes pre-agg filters below the EventTimeWatermark node
    — the round-2 outer-join lesson). So the sentinel flows through the
    watermark and the window assignment, but a conditional count makes
    it weightless, and the post-agg ``n_events > 0`` filter (legal
    above a streaming agg, references an agg output so it can't be
    pushed down) drops any sentinel-only window."""

    def build(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", width, slide))
            .agg(
                F.sum(
                    F.when(F.col("event_type") != SENTINEL_EVENT_TYPE, 1).otherwise(0)
                ).alias("n_events")
            )
            .where(F.col("n_events") > 0)
            .select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "n_events",
            )
        )

    return replay_append(spark, sf_dir, "streaming_sliding_counts", build)


# The fixture's add-to-cart stand-in, and the event that converts.
TRIGGER_EVENT = "click"
CONVERT_EVENT = "purchase"


def abandoned_sessions_stream(
    events: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Abandoned sessions: the visits of ``sessionize_visits`` over the
    watermarked ``events``, with per-visit trigger and convert counts,
    kept where a trigger came and no conversion did. Columns
    ``user_id, session_start_us, session_end_us, n_trigger, n_events``.

    In append mode a session is emitted once, when the watermark passes
    its close; a hit that arrives in a later micro-batch but inside the
    watermark delay joins (or opens) its visit as in batch. Over a
    batch frame the watermark is a no-op and this is the batch result.
    """

    def count_of(event_type: str) -> Column:
        return F.sum(F.when(F.col("event_type") == event_type, 1).otherwise(0))

    visits = sessionize_visits(
        events.withWatermark("ts", watermark_delay),
        gap_seconds=gap_seconds,
        extra_aggs=[
            count_of(TRIGGER_EVENT).alias("n_trigger"),
            count_of(CONVERT_EVENT).alias("n_convert"),
        ],
    )
    return visits.where((F.col("n_trigger") > 0) & (F.col("n_convert") == 0)).select(
        "user_id",
        F.unix_micros("visit_start").alias("session_start_us"),
        F.unix_micros("visit_end").alias("session_end_us"),
        "n_trigger",
        F.col("n_hits").alias("n_events"),
    )


@query(
    "streaming_abandoned_sessions",
    # batch equivalent of the stream: sessions containing a 'click'
    # (add-to-cart stand-in) but no 'purchase'.
    oracle=_SESSION_CTE
    + """
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       epoch_us(MAX(ts)) AS session_end_us,
       SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_trigger,
       COUNT(*) AS n_events
FROM sess
GROUP BY user_id, session_seq
HAVING SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) > 0
   AND SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) = 0
""",
)
def q_streaming_abandoned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abandoned-session detection replayed through the append-mode
    topology: one row per closed session that saw an add-to-cart-class
    event but no purchase. Hash-gated against the batch-sessionization
    oracle."""
    abandoned = replay_append(
        spark, sf_dir, "streaming_abandoned_sessions", abandoned_sessions_stream
    )
    return abandoned.where(F.col("user_id") != SENTINEL_USER_ID)


@query(
    "streaming_dedup_events",
    oracle="""
SELECT DISTINCT user_id, event_type,
       epoch_us(date_trunc('minute', ts)) AS ts_min_us
FROM events
""",
)
def streaming_dedup_append(
    spark: SparkSession, sf_dir: str, watermark_delay: str = "1 hour"
) -> DataFrame:
    """Streaming DEDUPLICATION under a watermark: ``dropDuplicates``
    keyed on (user_id, event_type, minute-truncated event time) via
    the append-mode file-sink topology ≡ batch DISTINCT.

    The truncated event-time column is part of the dedup key — that is
    what lets Spark EVICT key state once the watermark passes the
    minute bucket (a dedup key set without an event-time member is
    retained forever, the unbounded-state trap). Duplicate-key rows
    are suppressed at first sight, so append output = the distinct key
    set and the batch DISTINCT oracle applies verbatim."""

    def build(events: DataFrame) -> DataFrame:
        return (
            events.withColumn("ts_min", F.date_trunc("minute", F.col("ts")))
            .withWatermark("ts_min", watermark_delay)
            .dropDuplicates(["user_id", "event_type", "ts_min"])
            .select(
                "user_id",
                "event_type",
                F.unix_micros("ts_min").alias("ts_min_us"),
            )
        )

    deduped = replay_append(spark, sf_dir, "streaming_dedup_events", build)
    return deduped.where(F.col("event_type") != SENTINEL_EVENT_TYPE)


@query(
    "streaming_interval_join",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) AS purchase_ts_us
FROM events c
JOIN events p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTES
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
""",
)
def streaming_interval_join_append(
    spark: SparkSession,
    sf_dir: str,
    max_gap_minutes: int = 30,
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """STREAM-STREAM join with an event-time interval bound: purchases
    joined to same-user clicks at most ``max_gap_minutes`` earlier,
    append-mode through the file-sink topology ≡ the batch
    time-bounded self-join oracle.

    The watermark is declared on the RAW stream before the event-type
    filters so the sentinel row still advances it (and flushes join
    state); the interval condition is what bounds each side's state —
    clicks older than watermark − gap are evicted, the mechanism that
    makes stream-stream joins feasible at all. Inner-join rows emit as
    matches arrive; with ``how="left_outer"`` an unmatched click emits
    its null-padded row only once the watermark proves no purchase can
    still arrive — either way the batch self-join oracle applies
    verbatim (the sentinel flushes the tail)."""

    def build(events: DataFrame) -> DataFrame:
        def side(etype: str) -> DataFrame:
            # The event-type filter KEEPS the sentinel row: Catalyst
            # pushes deterministic filters below the EventTimeWatermark
            # node, so a filter that dropped the sentinel would stop it
            # from ever advancing the watermark — observed as the last
            # unmatched rows never flushing in the outer-join variant.
            # The sentinel has user_id = -1 and so matches nothing; it
            # is dropped from the read-back instead.
            return events.withWatermark("ts", watermark_delay).where(
                (F.col("event_type") == etype)
                | (F.col("user_id") == SENTINEL_USER_ID)
            )

        clicks = side("click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user_id"),
            F.col("ts").alias("click_ts"),
        )
        purchases = side("purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        return clicks.join(
            purchases,
            F.expr(
                f"""
                click_user_id = purchase_user_id
                AND purchase_ts >= click_ts
                AND purchase_ts <= click_ts + INTERVAL {max_gap_minutes} MINUTES
                """
            ),
            how,
        ).select(
            "click_id",
            "purchase_id",
            # coalesce, not click_user_id alone: with how="full_outer"
            # an unmatched PURCHASE emits null click columns, and a
            # null user_id would make the sentinel read-back filter
            # drop the row (null comparison) — the purchase side
            # carries the id.
            F.coalesce(F.col("click_user_id"), F.col("purchase_user_id")).alias(
                "user_id"
            ),
            F.unix_micros("click_ts").alias("click_ts_us"),
            F.unix_micros("purchase_ts").alias("purchase_ts_us"),
        )

    joined = replay_append(spark, sf_dir, f"streaming_interval_join_{how}", build)
    return joined.where(F.col("user_id") != SENTINEL_USER_ID)


@query(
    "streaming_foreach_batch_upsert",
    oracle="""
SELECT user_id, event_type, epoch_us(ts) AS ts_us, value FROM (
    SELECT user_id, event_type, ts, value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
""",
)
def q_streaming_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch upsert sink under the gate: the stream-maintained
    latest-state serving table (versioned-snapshot merge,
    streaming/upsert_sink.py) must equal the batch latest-per-key
    oracle. maxFilesPerTrigger splits the replay into several
    micro-batches, so multiple incremental merges — not one big batch
    — produce the final state; the merge being idempotent
    latest-per-key makes the result invariant to the batch split. (The
    stream has no aggregation, so update mode emits each row once,
    as append would.)"""
    latest = replay_upsert(
        spark,
        sf_dir,
        "streaming_foreach_batch_upsert",
        lambda events: events.select("event_id", "user_id", "event_type", "ts", "value"),
        key_cols=["user_id", "event_type"],
        order_cols=["ts", "event_id"],
        max_files_per_trigger=4,
    )
    return latest.select(
        "user_id", "event_type", F.unix_micros("ts").alias("ts_us"), "value"
    )


def _cms_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.extended import CMS_ORACLE

    return CMS_ORACLE


def streaming_cms_state(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 64,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Count-min sketch built INCREMENTALLY from the event stream:
    stream → (j, bucket) explode → streaming count agg (update mode)
    → foreachBatch upsert into the versioned serving snapshot.

    The whole point of a sketch on a stream: the streaming-agg state
    AND the serving table are both ≤ depth×width rows no matter how
    many events flow through — heavy-hitter counting whose state never
    grows. Update-mode batches deliver changed buckets' new CUMULATIVE
    counts; counts only grow, so latest-per-key ordered by the count
    itself is the correct merge. The finished sketch must equal the
    batch-built one bucket-for-bucket (same portable hash), which the
    shared SQL oracle checks."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        count_min_table,
    )

    return replay_upsert(
        spark,
        sf_dir,
        "streaming_cms_event_counts",
        lambda events: count_min_table(events, "event_type", depth, width),
        key_cols=["j", "bucket"],
        order_cols=["c"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query("streaming_cms_event_counts", oracle=_cms_oracle())
def q_streaming_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch maintained from the STREAM (update-mode
    streaming agg → foreachBatch upsert snapshot): sketch state is
    ≤ depth×width rows regardless of stream length, and the finished
    sketch equals the batch build bucket-for-bucket — so the batch CMS
    oracle gates the whole streaming path verbatim."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        cms_estimate,
    )
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    cms = streaming_cms_state(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    keys = ev.select("event_type").distinct()
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return cms_estimate(cms, keys, "event_type").join(exact, "event_type")


@query(
    "streaming_interval_join_left",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       c.user_id,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) AS purchase_ts_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTES
""",
)
def q_streaming_interval_join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: unmatched clicks must emit a
    null-padded row exactly once — and only after the watermark proves
    no in-window purchase can still arrive (the hard emission rule
    outer stream joins add over inner ones). ≡ the batch left join."""
    return streaming_interval_join_append(spark, sf_dir, how="left_outer")


def _hll_regs_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.extended import (
        HLL_REGISTERS_ORACLE,
    )

    return HLL_REGISTERS_ORACLE


def streaming_hll_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """HyperLogLog register table maintained INCREMENTALLY from the
    event stream: stream → (group, register) streaming MAX agg
    (update mode) → foreachBatch upsert into the versioned serving
    snapshot.

    Same constant-state contract as ``streaming_cms_state``: the
    streaming-agg state and the serving table are both ≤ m rows per
    group forever. Register rho values only ever grow, so
    latest-per-key ordered by rho itself is the correct monotone
    merge, and the finished register table equals the batch-built one
    register-for-register (same portable hash) — the batch HLL oracle
    gates the whole streaming path verbatim."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_registers,
    )

    return replay_upsert(
        spark,
        sf_dir,
        "streaming_hll_registers",
        lambda events: hll_registers(events, "user_id", ("event_type",)),
        key_cols=["event_type", "r_idx"],
        order_cols=["r_rho"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query("streaming_hll_registers", oracle=_hll_regs_oracle())
def q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user registers maintained from the STREAM
    (update-mode MAX agg → foreachBatch upsert snapshot): state is
    ≤ 64 rows per event_type forever, rho merges are monotone, and
    the finished register table equals the batch build
    register-for-register — the batch HLL oracle gates the streaming
    path verbatim."""
    return streaming_hll_state(spark, sf_dir).select("event_type", "r_idx", "r_rho")


@query(
    "streaming_interval_join_full",
    oracle="""
SELECT c.event_id AS click_id,
       p.event_id AS purchase_id,
       COALESCE(c.user_id, p.user_id) AS user_id,
       epoch_us(c.ts) AS click_ts_us,
       epoch_us(p.ts) AS purchase_ts_us
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts
 AND p.ts <= c.ts + INTERVAL 30 MINUTES
""",
)
def q_streaming_interval_join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER stream-stream interval join — both emission rules at
    once: unmatched clicks AND unmatched purchases each surface their
    null-padded row exactly once, only after the watermark proves no
    in-window partner can still arrive; state on both sides is evicted
    by the interval bound. ≡ the batch full join verbatim (the
    sentinel flushes both tails)."""
    return streaming_interval_join_append(spark, sf_dir, how="full_outer")


# --- transformWithStateInPandas (runtime-conditional) ------------------------
#
# The transformWithState state-server protocol speaks protobuf. Since
# round 12 the repo vendors a clean-room minimal protobuf runtime
# (``vendor/protoshim``) that serves ``google.protobuf`` when the real
# distribution is absent, so the probe now passes in the no-install
# container too and this gate registers everywhere; the conditional
# stays as an honest guard for a runtime where neither works. Batch
# equivalence: the timer-emitted set equals the batch groupBy verbatim
# (order-free aggregates), which is what makes a custom-stateful
# streaming operator SQL-oracle-able at all.

from web_analytics_visits_re_processing_spark.streaming.tws import (  # noqa: E402
    transform_with_state_available,
)

if transform_with_state_available():

    @query(
        "streaming_tws_user_lifetime",
        oracle="""
SELECT user_id,
       epoch_us(MIN(ts)) AS first_ts_us,
       epoch_us(MAX(ts)) AS last_ts_us,
       COUNT(*) AS n_events,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS value_cents
FROM events
GROUP BY user_id
""",
    )
    def q_streaming_tws_user_lifetime(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user lifetime aggregates via transformWithStateInPandas
        (ValueState merge + re-armed event-time timer, emitted exactly
        once per user when the watermark passes last_event + gap — see
        ``streaming.tws``), replayed append-mode with the sentinel
        flushing every timer. Runs its OWN minimal stream
        (``user_lifetime_replay``: ValueState + timers only), so each
        call pays for this gate's state machinery alone (per-call
        numbers in OPTIMIZATION_r13.md)."""
        from web_analytics_visits_re_processing_spark.streaming.tws import (
            user_lifetime_replay,
        )

        return user_lifetime_replay(spark, sf_dir).select(
            "user_id", "first_ts_us", "last_ts_us", "n_events", "value_cents"
        )

    @query(
        "streaming_tws_type_rollup",
        oracle="""
WITH t AS (
    SELECT user_id, event_type,
           COUNT(*)::BIGINT AS n_events,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS value_cents
    FROM events GROUP BY 1, 2
), u AS (
    SELECT user_id, SUM(n_events)::BIGINT AS log_total FROM t GROUP BY 1
)
SELECT t.user_id, t.event_type, t.n_events, t.value_cents, u.log_total
FROM t JOIN u USING (user_id)
""",
    )
    def q_streaming_tws_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user per-event-type rollup via transformWithStateInPandas
        MAP state + a ListState batch log (``streaming.tws.
        TypeRollupProcessor``) — exists to wire-verify, through the
        real JVM state server, the state-client protocol paths the
        ValueState operator never touches (MapState GetValue /
        ContainsKey / UpdateValue / Iterator with KeyAndValuePair
        pagination; ListState AppendValue / paged ListStateGet). The
        emitted set equals the batch ``groupBy(user, type)`` verbatim,
        and ``log_total`` (ListState-derived) must equal the per-user
        batch count — a cross-state consistency the oracle checks for
        free. Runs its OWN minimal stream (``user_type_rollup_replay``
        — MapState/ListState only); the pagination pytests drive the
        same replay."""
        from web_analytics_visits_re_processing_spark.streaming.tws import (
            user_type_rollup_replay,
        )

        return user_type_rollup_replay(spark, sf_dir).select(
            "user_id", "event_type", "n_events", "value_cents", "log_total"
        )


@query(
    "streaming_static_enrich",
    # batch equivalent: same left join against the customer dim, same
    # tumbling-hour arithmetic as the streaming_tumbling oracle.
    oracle="""
SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
       COALESCE(c.c_mktsegment, 'NONE') AS segment,
       COUNT(*) AS n_events,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS value_cents_sum
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
)
def streaming_static_enrich_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC LEFT join + windowed per-segment agg under real
    append-mode replay; equals the batch join verbatim. Completes the
    streaming join matrix: stream-stream inner/left/full interval
    joins + stream-static. The event stream is enriched against a
    static dimension (the customer table as the user→market-segment
    dim), then windowed per segment. Stream-static joins are
    STATELESS on the stream side (no join state, no watermark
    requirement for the join itself — the static side is just there,
    re-broadcast per micro-batch if small), which is exactly why the
    topology matters: it is the cheap enrichment path a 100 TB
    pipeline uses for dimension stamps, keeping stateful machinery
    for stream-stream correlation only.

    LEFT join (stream side preserved) so un-enriched users surface in
    a 'NONE' bucket instead of vanishing. Sentinel handling follows
    the sliding-window lesson (filtering before the watermark node
    would stop it advancing): the sentinel flows through join and
    window, a conditional count makes it weightless, and the post-agg
    ``n_events > 0`` drops its window."""
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    not_sentinel = F.col("event_type") != SENTINEL_EVENT_TYPE

    def build(events: DataFrame) -> DataFrame:
        return (
            events.withWatermark("ts", "1 hour")
            .join(dim, "user_id", "left")
            .groupBy(
                F.window("ts", "1 hour"),
                F.coalesce("segment", F.lit("NONE")).alias("segment"),
            )
            .agg(
                F.sum(F.when(not_sentinel, 1).otherwise(0)).alias("n_events"),
                F.sum(
                    F.when(
                        not_sentinel, F.floor(F.col("value") * 100)
                    ).otherwise(0)
                ).alias("value_cents_sum"),
            )
            .where(F.col("n_events") > 0)
            .select(
                F.unix_micros(F.col("window.start")).alias("window_start_us"),
                "segment",
                "n_events",
                "value_cents_sum",
            )
        )

    return replay_append(spark, sf_dir, "streaming_static_enrich", build)


def streaming_histogram_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """(type, cent-bin) histogram counts maintained INCREMENTALLY from
    the event stream — the streaming face of the mergeable-quantile
    design (`histogram_quantiles_by_type`): binning commutes with
    streaming aggregation, so the running state is exactly the batch
    histogram at every point in time. That mergeability is the whole
    argument for histogram quantiles over GK sketches at 100 TB —
    bins merge across micro-batches, executors AND days with plain
    addition.

    Topology = the CMS/HLL serving pattern: stream → (type, bin)
    streaming count agg (update mode; state = bin domain, constant in
    row count) → foreachBatch upsert into the versioned snapshot,
    latest-per-key ordered by the monotone count. Quantile read-off
    (smallest bin whose cumulative count reaches ceil(p·n)) happens on
    the SERVED state — exactly how a dashboard consumes it."""
    return replay_upsert(
        spark,
        sf_dir,
        "streaming_histogram_quantiles",
        lambda events: events.groupBy(
            "event_type", F.floor(F.col("value") * 100).cast("long").alias("bin")
        ).agg(F.count(F.lit(1)).alias("c")),
        key_cols=["event_type", "bin"],
        order_cols=["c"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query(
    "streaming_histogram_quantiles",
    # identical oracle to the batch histogram_quantiles_by_type —
    # binning commutes with streaming aggregation, so the served
    # state must equal the batch histogram bin-for-bin.
    oracle="""
WITH b AS (
    SELECT event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS bin,
           COUNT(*)::BIGINT AS c
    FROM events GROUP BY event_type, bin
),
cum AS (
    SELECT event_type, bin, c,
           SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS n
    FROM b
)
SELECT event_type, MAX(n)::BIGINT AS n,
       MIN(CASE WHEN cum * 2 >= n THEN bin END)::BIGINT AS p50_cents,
       MIN(CASE WHEN cum * 10 >= n * 9 THEN bin END)::BIGINT AS p90_cents,
       MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END)::BIGINT AS p99_cents
FROM cum GROUP BY event_type
""",
)
def q_streaming_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distribution quantiles maintained ON the stream: (type, bin)
    counts accumulate through update-mode streaming agg + snapshot
    upsert (state = bin domain, constant in row count), and p50/p90/
    p99 read off the SERVED state with the cross-multiplied integer
    cumulative rule. The mergeable histogram is the design that makes
    streaming quantiles possible at all — GK sketch state is neither
    inspectable nor engine-portable; bins add. Gate: the streamed
    state must reproduce the batch histogram exactly, then the same
    quantile read-off."""
    b = streaming_histogram_state(spark, sf_dir)
    wc = Window.partitionBy("event_type").orderBy("bin")
    wn = Window.partitionBy("event_type")
    cum = b.select(
        "event_type",
        "bin",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("bin"))).alias(
            "p50_cents"
        ),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("bin"))
        ).alias("p90_cents"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * 99, F.col("bin"))
        ).alias("p99_cents"),
    )


def streaming_user_totals_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Per-user cumulative value maintained INCREMENTALLY from the
    event stream (update-mode sum agg → snapshot upsert; totals only
    grow, so latest-per-key ordered by the total itself is the
    correct merge — the CMS/HLL/histogram serving pattern's fourth
    instance). The leaderboard read (top-k on the SERVED state) stays
    batch-side: maintaining top-k INSIDE the stream would need
    arbitrary stateful processing for no benefit — the served table
    is already small."""
    return replay_upsert(
        spark,
        sf_dir,
        "streaming_topk_user_leaderboard",
        lambda events: events.groupBy("user_id").agg(
            F.sum(F.floor(F.col("value") * 100)).alias("total_cents"),
            F.count(F.lit(1)).alias("n_events"),
        ),
        key_cols=["user_id"],
        order_cols=["total_cents"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query(
    "streaming_topk_user_leaderboard",
    oracle="""
SELECT user_id,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS total_cents,
       COUNT(*)::BIGINT AS n_events,
       ROW_NUMBER() OVER (ORDER BY SUM(FLOOR(value * 100)::BIGINT) DESC,
                          user_id) AS rk
FROM events
GROUP BY user_id
QUALIFY rk <= 10
""",
)
def q_streaming_topk_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming top-k leaderboard: per-user cumulative value rides
    the update-mode agg + snapshot-upsert serving pattern; the top-10
    ranks on the SERVED state (keeping top-k inside the stream would
    need arbitrary stateful processing for nothing — the served table
    is already per-key). Gate: the streamed totals must equal batch
    totals exactly, then the same deterministic rank."""
    t = streaming_user_totals_state(spark, sf_dir)
    # TakeOrdered top-10 first, then rank the bounded result — r9
    # single-partition-window retirement (the state table is
    # user-grain and grows with the data).
    w = Window.orderBy(F.col("total_cents").desc(), F.col("user_id"))
    return (
        t.orderBy(F.col("total_cents").desc(), F.col("user_id"))
        .limit(10)
        .withColumn("rk", F.row_number().over(w))
        .select("user_id", "total_cents", "n_events", "rk")
    )


def streaming_heatmap_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """(weekday, hour) activity-cell counts maintained INCREMENTALLY
    from the event stream — the load-shape heatmap served live. Same
    argument as the histogram replay: calendar bucketing commutes
    with streaming aggregation, so the running state equals the batch
    heatmap at every point in time, and the state is CONSTANT at
    ≤ 168 cells no matter how much traffic streams through. Topology
    = the CMS/HLL/histogram/totals serving pattern (update-mode agg →
    foreachBatch snapshot upsert, latest-per-key by the monotone
    count)."""
    return replay_upsert(
        spark,
        sf_dir,
        "streaming_activity_heatmap",
        lambda events: events.groupBy(
            F.weekday("ts").cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hour"),
        ).agg(F.count(F.lit(1)).alias("c")),
        key_cols=["dow", "hour"],
        order_cols=["c"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query(
    "streaming_activity_heatmap",
    # identical oracle to the batch heatmap — calendar bucketing
    # commutes with streaming aggregation, so the served state must
    # equal the batch cells count-for-count; shares read off the
    # SERVED state.
    oracle="""
WITH cell AS (
    SELECT (isodow(ts) - 1)::BIGINT AS dow,
           EXTRACT(hour FROM ts)::BIGINT AS hour,
           COUNT(*)::BIGINT AS n_events
    FROM events GROUP BY 1, 2
)
SELECT dow, hour, n_events,
       ((n_events * 1000000) // SUM(n_events) OVER ())::BIGINT
           AS share_ppm
FROM cell
""",
)
def q_streaming_activity_heatmap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The weekday × hour load-shape heatmap maintained ON the stream
    (18th streaming replay): (dow, hour) cells accumulate through the
    update-mode agg + snapshot-upsert serving pattern — state is
    CONSTANT at ≤ 168 rows no matter the traffic volume, the extreme
    case of the bounded-state argument every sketch replay makes.
    Traffic shares read off the SERVED state, exactly how a live ops
    dashboard consumes it. Gate: streamed cells must equal the batch
    heatmap count-for-count."""
    cells = streaming_heatmap_state(spark, sf_dir)
    wall = Window.partitionBy()
    return cells.select(
        "dow",
        "hour",
        F.col("c").alias("n_events"),
        F.expr(
            "(c * 1000000) div sum(c) over ()"
        ).alias("share_ppm"),
    )


def streaming_benford_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """First-digit counts of event value cents maintained
    INCREMENTALLY — the Benford fraud screen served live, and the
    serving pattern's smallest possible state: NINE rows, period.
    Same update-mode agg → snapshot-upsert topology as the
    CMS/HLL/histogram/totals/heatmap replays."""

    def build(events: DataFrame) -> DataFrame:
        return events.where(F.floor(F.col("value") * 100) >= 1).groupBy(
            F.substring(
                F.floor(F.col("value") * 100).cast("string"), 1, 1
            ).cast("long").alias("digit")
        ).agg(F.count(F.lit(1)).alias("c"))

    return replay_upsert(
        spark,
        sf_dir,
        "streaming_benford_digits",
        build,
        key_cols=["digit"],
        order_cols=["c"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query(
    "streaming_benford_digits",
    # identical oracle to a batch first-digit count over value cents
    # ≥ 1 — digit bucketing commutes with streaming aggregation; the
    # served state is NINE rows no matter the volume.
    oracle="""
SELECT CAST(substring(CAST(FLOOR(value * 100)::BIGINT AS VARCHAR),
                      1, 1) AS BIGINT) AS digit,
       COUNT(*)::BIGINT AS n
FROM events WHERE FLOOR(value * 100) >= 1
GROUP BY 1
""",
)
def q_streaming_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Benford first-digit screen maintained ON the stream (19th
    streaming replay) — the serving pattern's limit case: state is
    NINE rows, full stop, which makes it the cheapest possible
    always-on fraud monitor (the batch audit `benford_first_digit_audit`
    compares these counts to the log-law expectation). Gate: streamed
    digit counts must equal the batch count-for-count."""
    d = streaming_benford_state(spark, sf_dir)
    return d.select("digit", F.col("c").alias("n"))


def streaming_count_min_state(
    spark: SparkSession,
    sf_dir: str,
    depth: int = 4,
    width: int = 256,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Count-Min sketch maintained INCREMENTALLY on the event stream:
    each event fans out to ``depth`` (row, md5-bucket) cells
    (stateless projection), an update-mode count agg accumulates the
    counters, and the snapshot-upsert sink serves them (counters only
    grow, so latest-per-key ordered by the counter itself is the
    correct merge — the same serving rule as totals/HLL/histogram).
    This is the CM MERGEABILITY property made operational: per-batch
    partial counters add associatively, so the streamed sketch equals
    the batch sketch cell-for-cell, which is exactly what the gate
    pins. State is depth×width rows — CONSTANT in traffic volume, the
    bounded-state argument in its purest form."""
    from web_analytics_visits_re_processing_spark.functions.text import hash64

    def build(events: DataFrame) -> DataFrame:
        return (
            events.select(
                F.col("user_id"),
                F.explode(
                    F.array(*[F.lit(i).cast("long") for i in range(depth)])
                ).alias("r"),
            )
            .select(
                "r",
                (
                    hash64(
                        F.concat_ws(
                            ":",
                            F.col("r").cast("string"),
                            F.col("user_id").cast("string"),
                        )
                    )
                    % width
                ).alias("bucket"),
            )
            .groupBy("r", "bucket")
            .agg(F.count(F.lit(1)).alias("counter"))
        )

    return replay_upsert(
        spark,
        sf_dir,
        "streaming_count_min_sketch",
        build,
        key_cols=["r", "bucket"],
        order_cols=["counter"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query(
    "streaming_count_min_sketch",
    # Identical oracle to count_min_heavy_hitters: CM counters merge
    # associatively across micro-batches (the sketch's defining
    # property, Cormode & Muthukrishnan 2005 §4), so the INCREMENTAL
    # sketch must equal the batch sketch cell-for-cell — the gate
    # probes the streamed cells with the batch top-20 and every
    # estimate must hash-match the one-shot build.
    oracle="""
WITH u AS (
    SELECT user_id, COUNT(*)::BIGINT AS cnt FROM events GROUP BY user_id
), rows_ AS (SELECT range::BIGINT AS r FROM range(0, 4)),
cells AS (
    SELECT r.r,
           ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':'
                || CAST(u.user_id AS VARCHAR)), 1, 15))::BIGINT
               % 256 AS bucket,
           SUM(u.cnt)::BIGINT AS counter
    FROM u CROSS JOIN rows_ r
    GROUP BY 1, 2
), top AS (
    SELECT user_id, cnt,
           ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rk
    FROM u
), est AS (
    SELECT t.user_id, t.cnt, t.rk,
           MIN(c.counter)::BIGINT AS cm_estimate
    FROM top t
    JOIN rows_ r ON TRUE
    JOIN cells c
      ON c.r = r.r
     AND c.bucket = ('0x' || substring(md5(CAST(r.r AS VARCHAR) || ':'
            || CAST(t.user_id AS VARCHAR)), 1, 15))::BIGINT % 256
    WHERE t.rk <= 20
    GROUP BY 1, 2, 3
)
SELECT user_id, cnt AS true_count, cm_estimate, rk,
       ((cm_estimate - cnt) * 1000000 // cnt)::BIGINT AS overestimate_ppm
FROM est
""",
)
def q_streaming_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch maintained ON the stream (20th streaming
    replay) — the mergeability thesis made operational: per-batch
    partial counters add associatively, so the incrementally-built
    sketch must equal ``count_min_heavy_hitters``' one-shot build
    CELL-FOR-CELL, and this gate proves it by probing the SERVED
    streamed cells with the batch top-20 heavy hitters and hashing
    the identical readout. State inside the stream is 4×256 counters
    — constant in traffic volume (the heatmap argument, one further:
    the sketch answers frequency queries about an UNBOUNDED key set
    from bounded state). Serving read and ranking stay batch-side,
    as with the top-k leaderboard."""
    from web_analytics_visits_re_processing_spark.functions.text import hash64
    from web_analytics_visits_re_processing_spark.plans.webanalytics import (
        _events,
    )

    cells = streaming_count_min_state(spark, sf_dir)
    u = _events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # TakeOrdered top-20 first, then rank the bounded result — r9
    # single-partition-window retirement (mirrors the batch
    # count_min_heavy_hitters fix).
    top = (
        u.orderBy(F.col("cnt").desc(), "user_id")
        .limit(20)
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "user_id")
            ),
        )
    )
    rows_ = spark.range(4).select(F.col("id").alias("r"))
    probe = top.crossJoin(F.broadcast(rows_)).select(
        "user_id",
        "cnt",
        "rk",
        "r",
        (
            hash64(
                F.concat_ws(
                    ":",
                    F.col("r").cast("string"),
                    F.col("user_id").cast("string"),
                )
            )
            % 256
        ).alias("bucket"),
    )
    est = (
        probe.join(F.broadcast(cells), ["r", "bucket"])
        .groupBy("user_id", "cnt", "rk")
        .agg(F.min("counter").cast("long").alias("cm_estimate"))
    )
    return est.select(
        "user_id",
        F.col("cnt").alias("true_count"),
        "cm_estimate",
        "rk",
        F.expr("(cm_estimate - cnt) * 1000000 div cnt").alias(
            "overestimate_ppm"
        ),
    )


def _obf_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.webanalytics_r8 import (
        OBF_ORACLE_SQL,
    )

    return OBF_ORACLE_SQL


def streaming_obf_cells_state(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Group-sequential experiment cells maintained INCREMENTALLY:
    per (look-period, arm) trial/conversion counts from the event
    stream — the state an experimentation platform's live monitor
    actually holds. ≤ 10 rows CONSTANT in traffic volume (5 day-cut
    periods × 2 arms); counts only grow, so latest-per-key ordered by
    the monotone n is the correct snapshot merge — the same
    update-mode agg → snapshot-upsert topology as the
    CMS/HLL/heatmap/Benford replays. Period cutting commutes with
    streaming aggregation, so the served cells equal the batch
    rollup at every point in time."""

    def build(events: DataFrame) -> DataFrame:
        return events.groupBy(
            F.expr(
                "case when dayofmonth(ts) <= 6 then 1"
                " when dayofmonth(ts) <= 12 then 2"
                " when dayofmonth(ts) <= 18 then 3"
                " when dayofmonth(ts) <= 24 then 4 else 5 end"
            ).cast("long").alias("p"),
            (F.col("user_id") % 2).alias("arm"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("k"),
        )

    return replay_upsert(
        spark,
        sf_dir,
        "streaming_obf_monitor",
        build,
        key_cols=["p", "arm"],
        order_cols=["n"],
        max_files_per_trigger=max_files_per_trigger,
    )


@query(
    "streaming_obf_monitor",
    # Identical oracle to obf_sequential_looks: period cutting
    # commutes with streaming aggregation, so the monitor built from
    # the SERVED streamed cells must produce the exact same look
    # table — the gate hashes the full five-look readout.
    oracle=_obf_oracle(),
)
def q_streaming_obf_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential experiment monitoring ON the stream (21st
    streaming replay) — what an experimentation platform's live
    peeking guard actually runs: the ≤10 (look-period × arm)
    trial/conversion cells accumulate incrementally through the
    update-mode agg → snapshot-upsert topology (counts are monotone,
    so latest-per-key by n is the correct snapshot merge), and the
    OBF look table — cumulative z², pinned O'Brien–Fleming e4
    criticals, first_cross_look — is computed from the SERVED cells
    by the same shared pipeline as the batch gate. Because period
    bucketing commutes with streaming aggregation, the streamed
    readout must equal ``obf_sequential_looks`` row-for-row, which is
    exactly what the shared oracle pins. State is constant in traffic
    volume; the inference is a ≤10-row computation at serve time."""
    from web_analytics_visits_re_processing_spark.plans.webanalytics_r8 import (
        obf_looks_from_periods,
    )

    cells = streaming_obf_cells_state(spark, sf_dir)
    periods = cells.select(
        "p", "arm", F.col("n").cast("long").alias("n"),
        F.col("k").cast("long").alias("k"),
    )
    return obf_looks_from_periods(spark, periods)


def _dyngap_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.analytics import (
        DYNGAP_ORACLE,
    )

    return DYNGAP_ORACLE


@query("streaming_dynamic_gap_sessions", oracle=_dyngap_oracle())
def streaming_dynamic_gap_append(
    spark: SparkSession,
    sf_dir: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming sessionization with a per-event-type DYNAMIC gap
    expression (clicks 5 min, purchases 10, rest 30) — the streaming
    twin of ``sessionize_dynamic_gap``, SAME oracle text: per-row
    timeout policy rides ``session_window(ts, gap_expr)`` under a
    watermark with no custom state operator, through the production
    append-mode file-sink topology (sentinel flush) with genuine state
    eviction. The hash proves the streaming dynamic merge rule
    (interval overlap against the running window end) equals batch
    semantics exactly."""
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .when(F.col("event_type") == "purchase", F.lit("600 seconds"))
        .otherwise(F.lit("1800 seconds"))
    )

    def build(events: DataFrame) -> DataFrame:
        return (
            events.where(F.col("ts").isNotNull())
            .withWatermark("ts", watermark_delay)
            .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
            .agg(
                F.min("ts").alias("_start"),
                F.max("ts").alias("_end"),
                F.count(F.lit(1)).alias("n_hits"),
            )
            .select("user_id", "_start", "_end", "n_hits")
        )

    visits = replay_append(spark, sf_dir, "streaming_dynamic_gap_sessions", build)
    return visits.where(F.col("user_id") != SENTINEL_USER_ID).select(
        "user_id",
        F.unix_micros("_start").alias("visit_start_us"),
        F.unix_micros("_end").alias("visit_end_us"),
        "n_hits",
    )


def _cross_device_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.round10 import (
        _CROSS_DEVICE_ORACLE,
    )

    return _CROSS_DEVICE_ORACLE


@query("streaming_cross_device_sessionize", oracle=_cross_device_oracle())
def streaming_cross_device_append(
    spark: SparkSession,
    sf_dir: str,
    watermark_delay: str = "1 hour",
) -> DataFrame:
    """Streaming ENRICH-THEN-SESSIONIZE: the event stream joins the
    batch-computed stitched-visitor map (stream⋈static on user_id),
    then sessionizes at the VISITOR grain under a watermark — the
    production shape for cross-device analytics, where the identity
    graph refreshes on a slow cadence while events stream. Gated
    against the batch ``cross_device_sessionize`` oracle VERBATIM: the
    recursive stitch, the stream-static join AND the streaming
    session-window semantics must all hold for the hash to match.

    The sentinel row advances the event-time watermark even though
    the inner join drops it (watermarks track the stream's event-time
    column, not join survivors), so the tail still flushes. The
    per-session device count is a BITMASK (r14): each user gets a
    dense index within its visitor cluster on the STATIC side
    (``_stitched_clusters_indexed``) and the stream aggregates
    ``bit_count(bit_or(1 << idx))`` — a flat LONG aggregation buffer
    instead of ``collect_set``'s object buffer, which forced the
    whole session store through ObjectHashAggregate object
    serialization (profiled r14: 1.1 s removals + 0.8 s commit per
    batch over 83k sessions vs ~0.4 s for the flat-buffer peers).
    Value-identical: ``bit_count(bit_or(1<<idx)) =
    size(collect_set(user_id))`` for distinct per-user indices; the
    arm is COUNT-BANDED on the real max cluster size (one cached agg
    job) and falls back to the exact collect_set arm past 64 devices
    per visitor — streaming aggregations reject COUNT(DISTINCT), and
    the set is bounded by the cluster size either way."""
    from web_analytics_visits_re_processing_spark.plans.round10 import (
        _stitched_clusters_indexed,
        _stitched_max_cluster_size,
    )

    clusters = _stitched_clusters_indexed(spark, sf_dir)
    if _stitched_max_cluster_size(spark, sf_dir) <= 64:
        n_devices = F.expr(
            "bit_count(bit_or(shiftleft(CAST(1 AS BIGINT), _didx)))"
        ).alias("n_devices")
    else:  # >64 devices/visitor: exact object-set arm (tests pin both)
        n_devices = F.size(F.collect_set("user_id")).alias("n_devices")

    def build(events: DataFrame) -> DataFrame:
        return (
            events.where(F.col("ts").isNotNull())
            .withWatermark("ts", watermark_delay)
            .join(clusters, "user_id")
            .groupBy(F.col("visitor"), F.session_window(F.col("ts"), "30 minutes"))
            .agg(
                F.min("ts").alias("_start"),
                F.max("ts").alias("_end"),
                F.count(F.lit(1)).alias("n_events"),
                n_devices,
                # integer cents — no float SUM under the exact-hash gate
                F.sum(F.expr("CAST(FLOOR(value * 100) AS BIGINT)")).alias(
                    "total_value_cents"
                ),
            )
            .select(
                "visitor", "_start", "_end", "n_events", "n_devices",
                "total_value_cents",
            )
        )

    sessions = replay_append(spark, sf_dir, "streaming_cross_device_sessionize", build)
    return sessions.select(
        "visitor",
        F.unix_micros("_start").alias("visit_start_us"),
        F.unix_micros("_end").alias("visit_end_us"),
        "n_events",
        F.col("n_devices").cast("long").alias("n_devices"),
        "total_value_cents",
    )
