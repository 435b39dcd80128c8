"""Streaming operability: checkpoint recovery (exactly-once across a
stop/restart) and the foreachBatch upsert sink (stream → latest-state
serving table)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _write_events(spark, path: str, rows):
    spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(path)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop a file-source stream, add more input, restart with the
    SAME checkpoint + sink: previously-processed files are not
    re-emitted and new files are — exactly-once output across the
    restart."""
    import datetime as dt

    input_dir = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    schema = "event_id long, user_id long, ts timestamp, value double"
    base = dt.datetime(2024, 1, 1)

    def run_once():
        q = (
            spark.readStream.schema(schema)
            .parquet(input_dir)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        q.stop()

    _write_events(
        spark, input_dir, [(i, i % 3, base, 1.0) for i in range(10)]
    )
    run_once()
    got1 = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got1 == list(range(10))

    _write_events(
        spark, input_dir, [(i, i % 3, base, 2.0) for i in range(10, 25)]
    )
    run_once()
    got2 = sorted(r["event_id"] for r in spark.read.parquet(out).collect())
    assert got2 == list(range(25))  # no duplicates, nothing dropped


def test_foreach_batch_upsert_latest_state(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1) upsert into the
    versioned snapshot; the final state equals the batch
    latest-per-key result, later batches overriding earlier ones."""
    import datetime as dt

    from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
        read_state,
        run_upsert_stream,
    )

    input_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    base = dt.datetime(2024, 1, 1)
    t = lambda s: base + dt.timedelta(seconds=s)  # noqa: E731

    # file 1: users 1,2; file 2 (later ts): user 2 update + user 3
    _write_events(spark, input_dir, [(1, 1, t(0), 10.0), (2, 2, t(1), 20.0)])
    _write_events(spark, input_dir, [(3, 2, t(5), 99.0), (4, 3, t(6), 30.0)])

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, ts timestamp, value double"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(input_dir)
    )
    run_upsert_stream(
        stream, state, ckpt, key_cols=["user_id"], order_cols=["ts", "event_id"]
    )
    got = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in read_state(spark, state).collect()
    }
    assert got == {1: (1, 10.0), 2: (3, 99.0), 3: (4, 30.0)}

    # idempotent re-merge: replaying the same data changes nothing
    _write_events(spark, input_dir, [(3, 2, t(5), 99.0)])
    run_upsert_stream(
        stream, state, ckpt, key_cols=["user_id"], order_cols=["ts", "event_id"]
    )
    got2 = {
        r["user_id"]: (r["event_id"], r["value"])
        for r in read_state(spark, state).collect()
    }
    assert got2 == got


def test_python_streaming_source_contiguous_offsets(spark):
    """Custom Python STREAMING data source: micro-batches advance the
    tracked offset, delivered rows are gap-free and duplicate-free
    (the exactly-once offset contract), and values follow the
    generator formula."""
    import time

    from web_analytics_visits_re_processing_spark.sources.pysource import (
        register_stream,
    )

    register_stream(spark)
    df = (
        spark.readStream.format("synthetic_events_stream")
        .option("batch", "7")
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName("synth_ticks")
        .outputMode("append")
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 30
        while time.time() < deadline:
            if spark.table("synth_ticks").count() >= 14:  # ≥2 batches
                break
            time.sleep(0.3)
    finally:
        q.stop()
    rows = {r["event_id"]: r for r in spark.table("synth_ticks").collect()}
    n = len(rows)
    assert n >= 14
    assert sorted(rows) == list(range(n))  # contiguous, no dupes/gaps
    for i, r in rows.items():
        assert (r["user_id"], r["value"]) == (i % 50, (i * 7 % 100) / 10.0)


def test_streaming_cms_constant_state_across_batches(spark, sf_dir):
    """The stream-built CMS equals the batch-built sketch
    bucket-for-bucket, the serving snapshot never exceeds depth×width
    rows, and the replay genuinely ran as MULTIPLE incremental merges
    (versioned snapshots), not one big batch."""
    import os

    from web_analytics_visits_re_processing_spark.operators.sketch import (
        count_min_table,
    )
    from web_analytics_visits_re_processing_spark.sources.tables import load_table
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_cms_state,
    )
    from web_analytics_visits_re_processing_spark.streaming.replay import (
        replay_workdir,
    )

    got = streaming_cms_state(spark, sf_dir, max_files_per_trigger=1)
    want = count_min_table(
        load_table(spark, sf_dir, "events"), "event_type"
    )
    g = {(r["j"], r["bucket"]): r["c"] for r in got.collect()}
    w = {(r["j"], r["bucket"]): r["c"] for r in want.collect()}
    assert g == w and len(g) > 0
    assert len(g) <= 4 * 64

    state = os.path.join(replay_workdir("streaming_cms_event_counts", sf_dir), "state")
    versions = [d for d in os.listdir(state) if d.startswith("v")]
    assert len(versions) >= 2, "expected multiple incremental merges"


def test_transform_with_state_lifetime_stats(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (ValueState + event-time
    timers): per-user lifetime stats emitted once per user when the
    watermark passes last_event + gap, equal to the batch groupBy.
    The state-server protocol needs ``google.protobuf``: served by the
    real package where installed, else by the vendored clean-room shim
    (``vendor/protoshim``) — the skip now only fires where neither
    can load."""
    import pytest

    from web_analytics_visits_re_processing_spark.streaming.tws import (
        transform_with_state_available,
        user_lifetime_replay,
    )

    if not transform_with_state_available():
        pytest.skip("google.protobuf unavailable: transformWithState "
                    "state-server protocol cannot start in this container")

    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    got = {
        r["user_id"]: (r["first_ts_us"], r["last_ts_us"], r["n_events"], r["value_cents"])
        for r in user_lifetime_replay(spark, sf_dir).collect()
    }
    exact = {
        r["user_id"]: (r["f"], r["l"], r["n"], r["c"])
        for r in load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("f"),
            F.unix_micros(F.max("ts")).alias("l"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("value") * 100)).alias("c"),
        )
        .collect()
    }
    assert got == exact
