"""Streaming semantics: batch ≡ streaming on the same input (the
append-mode replays of ``plans/streaming_queries.py``), and append-mode
emission with a watermark (sessions emit once closed)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    sessionize_visits,
)
from web_analytics_visits_re_processing_spark.sources.tables import load_table
from web_analytics_visits_re_processing_spark.streaming.replay import scoped_conf
from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
    REPLAY_SHUFFLE_PARTITIONS,
    sessionize_stream,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
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
    # one state partition per core, capped at 8: the stateful stage
    # runs in one wave
    width = int(REPLAY_SHUFFLE_PARTITIONS)
    assert LAST_APPEND_PROGRESS["numStateStoreInstances"] == width
    assert width <= min(8, len(os.sched_getaffinity(0)))


def _write_event_files(src, files, first: int = 0) -> None:
    """One parquet file per list of ``(event_id, ts, user_id, value)``
    rows, numbered in order from ``first`` and written with pyarrow (no
    Spark job)."""
    os.makedirs(src, exist_ok=True)
    for i, rows in enumerate(files, first):
        event_id, ts, user_id, value = (list(c) for c in zip(*rows))
        table = pa.table(
            {
                "event_id": pa.array(event_id, pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                "user_id": pa.array(user_id, pa.int64()),
                "event_type": ["view"] * len(rows),
                "value": pa.array(value, pa.float64()),
                "props": ["{}"] * len(rows),
            }
        )
        pq.write_table(table, os.path.join(src, f"part-{i:05d}.parquet"))


def _run_sessionize(spark, src, root) -> tuple[str, list]:
    """Drain ``sessionize_stream`` over the files in ``src`` into an
    append parquet sink under ``root`` (checkpoint beside it) with
    availableNow; returns the run id and the progress of the triggers
    that ran a micro-batch."""
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(str(src))
    q = (
        sessionize_stream(stream)
        .writeStream.format("parquet")
        .option("path", os.path.join(root, "out"))
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    return str(q.runId), [p for p in q.recentProgress if "addBatch" in p["durationMs"]]


def test_file_stream_lists_new_files_on_the_driver(spark, tmp_path):
    """A trigger's new files are listed on the driver: a micro-batch
    over 40 new files (more than Spark's default listing threshold of
    32 paths) runs the stream's one job and no file-listing job with
    one task per path."""
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    files = [
        [(i, base + dt.timedelta(minutes=i), i % 5, 1.0)] for i in range(40)
    ]
    _write_event_files(str(tmp_path / "src"), files)
    run_id, executed = _run_sessionize(spark, tmp_path / "src", str(tmp_path))
    assert executed and executed[0]["numInputRows"] == 40
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(run_id)
    assert len(jobs) == len(executed), (len(jobs), len(executed))


def test_restart_keeps_state_width_and_emits_each_session_once(spark, tmp_path):
    """Kill and restart on one checkpoint: a stream started with 8
    state partitions over half the files, with sessions open across
    the stop, restarts under ``REPLAY_SHUFFLE_PARTITIONS`` with the 8
    partitions its checkpoint recorded, and its sink equals the batch
    sessionizer exactly once."""
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    step = dt.timedelta(minutes=20)  # inside the 30-minute gap
    files = []
    for k in range(12):
        rows = []
        for u in range(1, 31):
            # every third user skips files 4-7, so it has two sessions
            # and the first is open at the stop; u > 25 only appears in
            # the first file, so its session is emitted before the stop
            if (u % 3 == 0 and 4 <= k <= 7) or (u > 25 and k > 0):
                continue
            rows.append((k * 100 + u, base + k * step + dt.timedelta(seconds=u), u, u / 10))
        files.append(rows)
    events = [r for rows in files for r in rows]
    sentinel = [(-1, base + dt.timedelta(days=10), -1, 0.0)]
    src, root = str(tmp_path / "src"), str(tmp_path)
    _write_event_files(src, files[:6])

    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "8"}):
        _run_sessionize(spark, src, root)
    emitted_before_stop = spark.read.parquet(os.path.join(root, "out")).count()

    # the stream is stopped, so the rest can be written in place
    _write_event_files(src, files[6:] + [sentinel], first=6)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": REPLAY_SHUFFLE_PARTITIONS}):
        _, executed = _run_sessionize(spark, src, root)
    widths = {op["numStateStoreInstances"] for p in executed for op in p["stateOperators"]}
    assert widths == {8}

    cols = ["visit_key", "user_id", "visit_start", "visit_end", "n_hits", "total_value_cents"]
    got = (
        spark.read.parquet(os.path.join(root, "out"))
        .where(F.col("user_id") != -1)
        .select(cols)
        .collect()
    )
    want = sessionize_visits(
        spark.createDataFrame(
            [(e, ts, u, "view", v, "{}") for e, ts, u, v in events], EVENTS_SCHEMA
        ),
        extra_aggs=[F.sum(F.floor(F.col("value") * 100)).alias("total_value_cents")],
    ).select(cols).collect()
    assert 0 < emitted_before_stop < len(want)
    assert len({r["visit_key"] for r in got}) == len(got)
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_stateful_abandonment_across_batches(spark, tmp_path):
    """The abandoned-session stream carries session state ACROSS
    micro-batches (maxFilesPerTrigger=1): an abandoned session split
    over two files emits exactly once, a converted session emits
    nothing, and the final session emits when the watermark passes it."""
    import datetime as dt

    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
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
    result = abandoned_sessions_stream(stream)
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


def test_abandonment_late_click_inside_watermark_opens_its_own_visit(spark, tmp_path):
    """A click that arrives one micro-batch late, 40 minutes before the
    user's open session and inside the watermark, is its own visit as
    in batch: the stream emits the same two abandoned visits as the
    same expression over the batch frame, each with its start at or
    before its end."""
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        abandoned_sessions_stream,
    )

    base = dt.datetime(2024, 3, 1, 12, 0, 0)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    src = tmp_path / "src"
    batches = [
        [(1, base, 1, "click", 1.0, "{}")],
        # 11:20: after the watermark (12:00 - 1 h), 40 min before the
        # open session, so more than the gap from it
        [(2, base - dt.timedelta(minutes=40), 1, "click", 1.0, "{}")],
        [(9, base + dt.timedelta(days=3), 99, "view", 0.0, "{}")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(str(src))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(str(src))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        abandoned_sessions_stream(stream)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    q.stop()

    got = sorted(map(tuple, spark.read.parquet(out_dir).collect()))
    us = lambda d: int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    late, first = us(base - dt.timedelta(minutes=40)), us(base)
    assert dropped == 0
    assert got == [(1, late, late, 1, 1), (1, first, first, 1, 1)]
    batch = abandoned_sessions_stream(
        spark.createDataFrame([r for rows in batches for r in rows], schema)
    )
    assert got == sorted(map(tuple, batch.collect()))


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
