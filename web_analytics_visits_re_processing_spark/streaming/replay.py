"""Fixture-replay harness for the registry's streaming gates.

Every streaming gate (``plans/streaming_queries.py``,
``streaming/tws.py``) replays the bounded events fixture
through a real file-stream source and reads the result back as a batch
frame, so the batch DuckDB oracle applies verbatim. The decisions that
replay shares live here, once:

- **workdir** — ``.tmp/<gate name>/<fixture basename>`` (``replay_workdir``);
- **staging** — the fixture hardlinked into ``<workdir>/input`` plus ONE
  sentinel row 10 days past the last event, whose watermark flushes
  every real session, window and timer (``_prepare_replay_input``);
- **reader** — ``readStream`` with ``ts`` normalized to session-tz
  TimestampType whatever the fixture's layout (``_read_replay_stream``);
- **conf** — replay-scoped shuffle partitions and progress retention,
  saved, set and restored by ``scoped_conf``;
- **read-back** — a batch read of the sink with the stream's own schema.

Two entry points:

- ``replay_append`` — the production topology: watermark → append mode
  → parquet file sink. ``build`` receives the raw stream, sentinel
  included (a filter that dropped it would stop it advancing the
  watermark); the caller drops the sentinel from the read-back.
- ``replay_upsert`` — the serving pattern: update-mode streaming
  aggregation → ``foreachBatch`` latest-per-key snapshot upsert
  (``streaming.upsert_sink``). No watermark is in play, so the sentinel
  is dropped before ``build`` sees the stream.
"""

from __future__ import annotations

import datetime
import os
import shutil
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
    REPLAY_SHUFFLE_PARTITIONS,
)
from web_analytics_visits_re_processing_spark.streaming.upsert_sink import (
    read_state,
    run_upsert_stream,
)

SENTINEL_USER_ID = -1
SENTINEL_EVENT_TYPE = "_watermark_flush"

_TMP_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp",
)

#: stateOperators summary of the last append replay, for tests to
#: assert real state eviction (numRowsRemoved > 0, ~nothing left) and
#: the stateful stage's width (numStateStoreInstances).
LAST_APPEND_PROGRESS: dict[str, int] = {}

# Stateful-stage width: a stateful stream runs one state partition per
# ``spark.sql.shuffle.partitions`` and records that count in its
# checkpoint at the first batch; a restart from the checkpoint keeps
# it. The session-wide 32 would mean 32 state-store loads,
# checksummed commits and sink files per micro-batch of pure fixed
# cost over a ~MB-scale fixture. ``REPLAY_SHUFFLE_PARTITIONS`` is one
# partition per core, capped at 8, so the stateful stage runs in one
# wave. Every gate's output is independent of the count: state
# metrics are summed across partitions and rows are compared as sets.
#
# recentProgress retains only the last numRecentProgressUpdates
# (default 100) updates — a chunked replay with more micro-batches
# than the retention cap would silently under-report peak state and
# eviction counts, so it is raised well past any probe's batch count
# for the lifetime of the query.
_PROGRESS_RETENTION = 10000
_TIMEOUT_S = 300
_REPLAY_CONFS = {
    "spark.sql.shuffle.partitions": REPLAY_SHUFFLE_PARTITIONS,
    "spark.sql.streaming.numRecentProgressUpdates": str(_PROGRESS_RETENTION),
}


def replay_workdir(name: str, sf_dir: str) -> str:
    """The one workdir convention: ``.tmp/<name>/<fixture basename>``,
    where ``name`` is the gate's registry name — two gates never share
    a checkpoint, sink or snapshot dir."""
    return os.path.join(_TMP_ROOT, name, os.path.basename(sf_dir.rstrip("/")) or "sf")


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the block, then restore each key
    to its previous value — or unset it if it was unset — also when
    the block raises."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _fixture_files(src: str) -> list[str]:
    if os.path.isdir(src):
        return sorted(
            os.path.join(src, f)
            for f in os.listdir(src)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
    return [src]


def _max_event_ts(files: list[str]):
    """Max of the ``ts`` column across the fixture's parquet files from
    ROW-GROUP FOOTER STATISTICS — no data scan; falls back to reading
    just the ts column where a writer omitted stats. Returns a naive
    datetime (timestamp layouts) or int (raw int64 layouts)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    best = None
    for f in files:
        md = pq.read_metadata(f)
        names = [md.schema.column(j).name for j in range(md.num_columns)]
        idx = names.index("ts")
        file_max = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                file_max = None
                break
            file_max = st.max if file_max is None else max(file_max, st.max)
        if file_max is None:
            file_max = pc.max(pq.read_table(f, columns=["ts"]).column("ts")).as_py()
        best = file_max if best is None else max(best, file_max)
    return best


def _prepare_replay_input(spark: SparkSession, sf_dir: str, workdir: str) -> str:
    """Stage the events fixture as a stream-source dir and add ONE
    sentinel row timestamped 10 days past the fixture's max event time.

    Append mode emits a session only when the watermark (max seen ts −
    delay) passes the session close; without the sentinel every session
    within ``delay`` of the fixture's end would stay in state forever
    and the replay would under-produce. The sentinel pushes the final
    watermark beyond all real sessions — the exact flush a production
    pipeline gets for free from the next day's data. (10 days, not 1:
    the longest window any replay uses is the 1-day session gap in
    ``streaming/tws.py``, and the sentinel must out-run gap + delay.)

    ZERO data movement: the fixture file(s) are HARDLINKED into the
    input dir (copied only if the link fails, e.g. cross-device), the
    max event time comes from parquet row-group footer statistics, and
    the sentinel is one pyarrow-written row in the fixture's own
    physical schema — whatever its timestamp layout. No Spark job runs.
    The previous staging (Spark read → int64-nanos rewrite → write)
    cost ~5 s of every streaming bench entry at sf0.1, because the
    cache below is keyed on fixture mtime and the fixtures regenerate
    every round. Downstream readers must therefore probe the layout —
    use ``_read_replay_stream``, never a hard-coded schema.

    The staged input is cached per source mtime/size; the sink,
    checkpoint and snapshot dirs are always cleaned (a stale checkpoint
    would make the replay a no-op)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = f"{sf_dir}/events.parquet"
    for sub in ("out", "ckpt", "state"):
        shutil.rmtree(os.path.join(workdir, sub), ignore_errors=True)
    input_dir = os.path.join(workdir, "input")
    marker = os.path.join(workdir, "_INPUT_META")
    try:
        meta = f"{src}:{os.path.getmtime(src)}:{os.path.getsize(src)}"
    except OSError:
        meta = f"{src}:unknown"
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == meta:
                return input_dir
    shutil.rmtree(input_dir, ignore_errors=True)
    os.makedirs(input_dir)
    files = _fixture_files(src)
    for i, f in enumerate(files):
        dst = os.path.join(input_dir, f"part-{i:05d}.parquet")
        try:
            os.link(f, dst)
        except OSError:
            shutil.copyfile(f, dst)
    schema = pq.read_schema(files[0]).remove_metadata()
    max_ts = _max_event_ts(files)
    if isinstance(max_ts, datetime.datetime):
        sentinel_ts = max_ts + datetime.timedelta(days=10)
    else:  # raw int64 epoch-nanos layout
        sentinel_ts = int(max_ts) + 10 * 86_400 * 10**9
    values = {
        "event_id": -1,
        "ts": sentinel_ts,
        "user_id": SENTINEL_USER_ID,
        "event_type": SENTINEL_EVENT_TYPE,
        "value": 0.0,
        "props": "{}",
    }
    sentinel = pa.Table.from_arrays(
        [pa.array([values[f.name]], type=f.type) for f in schema], schema=schema
    )
    pq.write_table(sentinel, os.path.join(input_dir, "part-sentinel.parquet"))
    os.makedirs(workdir, exist_ok=True)
    with open(marker, "w") as f:
        f.write(meta)
    return input_dir


def _read_replay_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over a staged replay dir with ``ts`` normalized to
    session-tz TimestampType whatever the fixture's physical layout
    (legacy TIMESTAMP(NANOS) arrives as int64 under the nanosAsLong
    conf; newer naive timestamp[us] arrives as TIMESTAMP_NTZ, which
    ``session_window``/``unix_micros`` reject) — the streaming twin of
    ``sources.tables.normalize_timestamps``. The schema probe is a
    batch footer read, no data scan."""
    from web_analytics_visits_re_processing_spark.sources.tables import (
        _table_schema,
        ensure_nanos_conf,
    )

    ensure_nanos_conf(spark)
    # metadata-cache the staged dir's schema (keyed on dir mtime/size,
    # which the staging step bumps) — the per-call inference pass was
    # ~150 ms of pure fixed cost on every streaming gate invocation
    batch_schema = _table_schema(spark, input_dir)
    reader = spark.readStream.schema(batch_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(input_dir)
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def _run_append(result: DataFrame, workdir: str) -> tuple[str, dict[str, int]]:
    """Append-mode → parquet file sink in ``<workdir>/out`` (checkpoint
    in ``<workdir>/ckpt``), drained with availableNow under the
    replay-scoped conf; returns the output path and a state-eviction
    summary from the query progress."""
    out = os.path.join(workdir, "out")
    with scoped_conf(result.sparkSession, _REPLAY_CONFS):
        q = (
            result.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", os.path.join(workdir, "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            if not q.awaitTermination(_TIMEOUT_S):
                raise TimeoutError(f"append replay did not finish within {_TIMEOUT_S}s")
            progress = list(q.recentProgress)
        finally:
            q.stop()
    assert len(progress) < _PROGRESS_RETENTION, (
        "progress buffer hit the retention cap - peak-state metrics "
        "would be truncated; raise numRecentProgressUpdates"
    )
    stats = {
        "numRowsTotal": 0,
        "numRowsRemoved": 0,
        "numRowsTotalMax": 0,
        "numStateStoreInstances": 0,
    }
    for p in progress:
        for op in p.get("stateOperators", []):
            stats["numRowsTotal"] = op.get("numRowsTotal", 0)
            stats["numStateStoreInstances"] = op.get("numStateStoreInstances", 0)
            stats["numRowsRemoved"] += op.get("numRowsRemoved", 0)
            # Peak state across micro-batches — what the scale probe
            # reads to verify state stays watermark-bounded (the
            # final-batch numRowsTotal only shows the post-eviction
            # residual).
            stats["numRowsTotalMax"] = max(
                stats["numRowsTotalMax"], op.get("numRowsTotal", 0)
            )
    LAST_APPEND_PROGRESS.clear()
    LAST_APPEND_PROGRESS.update(stats)
    return out, stats


def replay_append(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[DataFrame], DataFrame],
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay the staged fixture through ``build`` (raw stream →
    watermarked streaming result) into an append-mode parquet sink and
    return the sink as a batch frame. The sentinel row is in the input
    and may be in the output: the caller filters it from the read-back
    (or makes it weightless inside ``build``)."""
    workdir = replay_workdir(name, sf_dir)
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    result = build(_read_replay_stream(spark, input_dir, max_files_per_trigger))
    out, _ = _run_append(result, workdir)
    # the file sink wrote exactly ``result.schema`` — re-inferring it
    # from part-file footers would be a pure per-call fixed cost
    return spark.read.schema(result.schema).parquet(out)


def replay_upsert(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[DataFrame], DataFrame],
    key_cols: list[str],
    order_cols: list[str],
    max_files_per_trigger: int,
) -> DataFrame:
    """Replay the staged fixture (sentinel dropped — no watermark is in
    play, so the pre-agg filter is safe) through ``build`` in UPDATE
    mode into the ``foreachBatch`` snapshot upsert in
    ``<workdir>/state`` — latest row per ``key_cols`` by ``order_cols``
    — and return the served snapshot. ``maxFilesPerTrigger`` splits
    the replay into several incremental merges."""
    workdir = replay_workdir(name, sf_dir)
    input_dir = _prepare_replay_input(spark, sf_dir, workdir)
    state = os.path.join(workdir, "state")
    events = _read_replay_stream(spark, input_dir, max_files_per_trigger).where(
        F.col("event_type") != SENTINEL_EVENT_TYPE
    )
    with scoped_conf(spark, _REPLAY_CONFS):
        run_upsert_stream(
            build(events),
            state,
            os.path.join(workdir, "ckpt"),
            key_cols,
            order_cols,
            output_mode="update",
        )
    return read_state(spark, state)
