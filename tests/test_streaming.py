"""Streaming semantics: batch ≡ streaming on the same input (the
append-mode replays of ``plans/streaming_queries.py``), and append-mode
emission with a watermark (sessions emit once closed)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    sessionize_visits,
)
from web_analytics_visits_re_processing_spark.sources.tables import load_table
from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
    sessionize_stream,
)


def run_stream_to_memory(
    result,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 300,
) -> None:
    """Replay a bounded stream to completion into an in-memory table.
    Raises on timeout instead of silently returning a
    partially-populated table."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    finished = q.awaitTermination(timeout_s)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"stream {query_name!r} did not finish within {timeout_s}s; "
            "memory table would be partial"
        )
    q.stop()


def test_scoped_conf_restores_set_unsets_unset_even_on_raise(spark):
    """The replay conf scoper: a key that was set gets its value back,
    a key that was unset is unset again, and both hold when the block
    raises."""
    import pytest

    from web_analytics_visits_re_processing_spark.streaming.replay import (
        scoped_conf,
    )

    set_key = "spark.sql.shuffle.partitions"
    unset_key = "spark.webanalytics.test.scopedConf"
    before = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with scoped_conf(spark, {set_key: "3", unset_key: "x"}):
        assert (spark.conf.get(set_key), spark.conf.get(unset_key)) == ("3", "x")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError, match="inside the block"):
        with scoped_conf(spark, {set_key: "5", unset_key: "y"}):
            raise RuntimeError("inside the block")
    assert spark.conf.get(set_key) == before
    assert spark.conf.get(unset_key, None) is None


def test_append_mode_emits_closed_sessions_once(spark, tmp_path):
    """With watermark delay D, a session whose end + gap + D is behind
    the max seen event time is closed and emitted in append mode; the
    newest session stays open (not emitted)."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: an early closed session, then a much later session that
    # keeps the watermark high
    for s in (0, 1, 2):
        rows.append((s, base + dt.timedelta(seconds=s), 1, "view", 1.0, "{}"))
    rows.append((9, base + dt.timedelta(days=2), 1, "view", 1.0, "{}"))
    src = tmp_path / "stream_src"
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).write.parquet(str(src))

    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
        ).parquet(str(src))
    )
    visits = sessionize_stream(stream, gap_seconds=1800, watermark_delay="1 hour")
    run_stream_to_memory(visits, "append_visits", output_mode="append")
    out = spark.table("append_visits").collect()
    # only the early session (3 hits) closed; the day-2 session is open
    assert len(out) == 1
    assert out[0]["n_hits"] == 3


def test_append_replay_matches_batch_and_evicts_state(spark, sf_dir):
    """The gated append-mode replay equals the batch sessionizer AND
    actually evicts session state as the watermark advances (the
    complete-mode replay it replaced kept all state forever)."""
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_visits_append,
    )
    from web_analytics_visits_re_processing_spark.streaming.replay import (
        LAST_APPEND_PROGRESS,
    )

    batch = sessionize_visits(
        load_table(spark, sf_dir, "events"),
        extra_aggs=[F.sum(F.floor(F.col("value") * 100)).alias("total_value_cents")],
    ).select(
        "visit_key",
        F.unix_micros("visit_start").alias("visit_start_us"),
        F.unix_micros("visit_end").alias("visit_end_us"),
        "n_hits",
        "total_value_cents",
    )
    stream = streaming_visits_append(spark, sf_dir).select(
        "visit_key", "visit_start_us", "visit_end_us", "n_hits", "total_value_cents"
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in stream.collect()}
    assert b == s and len(b) > 0

    # real eviction: sessions were removed from the state store, and at
    # most the sentinel's own session is left at the end. The peak
    # tracker (numRowsTotalMax, read by scale_probe --streaming-state)
    # must have seen at least every emitted session pass through state.
    assert LAST_APPEND_PROGRESS["numRowsRemoved"] >= len(b)
    assert LAST_APPEND_PROGRESS["numRowsTotal"] <= 1
    assert LAST_APPEND_PROGRESS["numRowsTotalMax"] >= len(b)


def test_stateful_abandonment_across_batches(spark, tmp_path):
    """applyInPandasWithState carries session state ACROSS micro-batches
    (maxFilesPerTrigger=1): an abandoned session split over two files
    emits exactly once, a converted session emits nothing, and the
    final session emits via event-time timeout."""
    import datetime as dt

    from web_analytics_visits_re_processing_spark.streaming.stateful import (
        abandoned_sessions_stream,
    )

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = tmp_path / "src"
    # file 1: user 1 clicks twice (session A, first half)
    spark.createDataFrame(
        [(1, base, 1, "click", 1.0, "{}"), (2, base + dt.timedelta(minutes=5), 1, "click", 1.0, "{}")],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))
    # file 2: session A second half (view, still no purchase), then much
    # later session B (click + purchase → converted), then a flush event
    spark.createDataFrame(
        [
            (3, base + dt.timedelta(minutes=10), 1, "view", 1.0, "{}"),
            (4, base + dt.timedelta(hours=6), 1, "click", 1.0, "{}"),
            (5, base + dt.timedelta(hours=6, minutes=2), 1, "purchase", 9.0, "{}"),
            (9, base + dt.timedelta(days=3), 99, "view", 0.0, "{}"),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    )
    result = abandoned_sessions_stream(stream, gap_seconds=1800)
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        result.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()

    rows = spark.read.parquet(out_dir).where(F.col("user_id") == 1).collect()
    assert len(rows) == 1  # session A abandoned; session B converted
    r = rows[0]
    us = lambda d: int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert r["session_start_us"] == us(base)
    assert r["session_end_us"] == us(base + dt.timedelta(minutes=10))
    assert (r["n_trigger"], r["n_events"]) == (2, 3)


def test_streaming_dedup_equals_batch_distinct_with_eviction(spark, sf_dir):
    """Watermarked dropDuplicates == batch DISTINCT on the same keys,
    and dedup key state is actually evicted (the event-time member of
    the key is what permits it)."""
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_dedup_append,
    )
    from web_analytics_visits_re_processing_spark.streaming.replay import (
        LAST_APPEND_PROGRESS,
    )

    got = {
        tuple(r)
        for r in streaming_dedup_append(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.date_trunc("minute", F.col("ts"))).alias("ts_min_us"),
        )
        .distinct()
        .collect()
    }
    assert got == want and len(got) > 0
    assert LAST_APPEND_PROGRESS["numRowsRemoved"] > 0


def test_streaming_interval_join_equals_batch_join(spark, sf_dir):
    """Stream-stream interval join == the batch time-bounded self-join
    (inner join emits on match; watermark+interval bound the state)."""
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_interval_join_append,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("cu"),
        F.col("ts").alias("cts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("pu"),
        F.col("ts").alias("pts"),
    )
    want = {
        tuple(r)
        for r in clicks.join(
            purchases,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "click_id",
            "purchase_id",
            F.col("cu").alias("user_id"),
            F.unix_micros("cts").alias("click_ts_us"),
            F.unix_micros("pts").alias("purchase_ts_us"),
        )
        .collect()
    }
    got = {
        tuple(r) for r in streaming_interval_join_append(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_sliding_append_replay_equals_batch_and_evicts(spark, sf_dir):
    """The sliding-window append replay equals the batch sliding
    aggregate (sentinel weightless via conditional count) and windows
    are genuinely evicted from state as the watermark advances."""
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_sliding_counts_append,
    )
    from web_analytics_visits_re_processing_spark.streaming.replay import (
        LAST_APPEND_PROGRESS,
    )

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            "n_events",
        )
    )
    b = {tuple(r) for r in batch.collect()}
    s = {tuple(r) for r in streaming_sliding_counts_append(spark, sf_dir).collect()}
    assert b == s and len(b) > 0
    assert LAST_APPEND_PROGRESS["numRowsRemoved"] >= len(b)
    # at most the sentinel's own (unclosed) windows remain in state
    assert LAST_APPEND_PROGRESS["numRowsTotal"] <= 2


def test_tumbling_append_replay_equals_batch(spark, sf_dir):
    """The append-mode replay of the tumbling-window counts (windows
    evicted as the watermark passes, sentinel window dropped on
    read-back) equals the batch windowed aggregate."""
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_tumbling_counts_append,
    )

    got = {
        tuple(r) for r in streaming_tumbling_counts_append(spark, sf_dir).collect()
    }
    want = {
        tuple(r)
        for r in load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
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
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_static_enrich_buckets_and_sentinel(spark):
    """Stream-static join replay at sf0.001: every customer-matched
    user lands in a real market segment, user ids outside the dim
    fall in 'NONE', and no sentinel-only window leaks (the flush row
    sits 10 days out - its window must be dropped by the weightless
    count rule)."""
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.sources.tables import load_table
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_static_enrich_append,
    )

    sf = "/root/testdata/sf0.001"
    out = streaming_static_enrich_append(spark, sf).cache()
    segs = {r["segment"] for r in out.select("segment").distinct().collect()}
    assert segs - {"NONE"}, segs  # at least one real segment
    ev = load_table(spark, sf, "events")
    n_total = ev.count()
    assert out.agg(F.sum("n_events")).first()[0] == n_total
    max_ev_us = ev.agg(F.max(F.unix_micros("ts"))).first()[0]
    assert out.agg(F.max("window_start_us")).first()[0] <= max_ev_us


def test_cross_device_bitmask_equals_collect_set_arm(spark, sf_dir):
    """r14: the streaming cross-device gate's bitmask device count
    (``bit_count(bit_or(1 << _didx))``, flat long agg buffer) must
    emit EXACTLY the rows of the collect_set arm it replaced — both
    arms run the full replay on the fixture and compare."""
    from web_analytics_visits_re_processing_spark.plans import round10
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_cross_device_append,
    )

    real = round10._stitched_max_cluster_size
    assert real(spark, sf_dir) <= 64  # fixture takes the bitmask arm
    bitmask = sorted(
        map(tuple, streaming_cross_device_append(spark, sf_dir).collect())
    )
    round10._stitched_max_cluster_size = lambda s, d: 999  # force set arm
    try:
        asset = sorted(
            map(tuple, streaming_cross_device_append(spark, sf_dir).collect())
        )
    finally:
        round10._stitched_max_cluster_size = real
    assert bitmask == asset and len(bitmask) > 0
