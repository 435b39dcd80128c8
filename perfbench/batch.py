"""``batch_reprocess``: the paper's daily job, closed loop, one job at a time.

Each job is ``pipeline.run_visits_pipeline(encoding="ISO-8859-1",
output_format="csv")`` over one generated "day" of the upstream feed
(``gen.make_hitlog``: gzipped Latin-1 10-column TSV). The first job in
the process is timed apart as the cold job; warm jobs then repeat for
``seconds`` (at least ``MIN_WARM``). The traced run then repeats the warm jobs in a new
SparkContext of the same JVM with the event log on, with one untraced
job in a context of its own before and after them (the baseline of the
tracing overhead), adds one call per layer under its own job group, the
read side's query mix (``analytics``) and one job at ``local[1]``.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

import analytics
import common
import eventlog
import gen

N_USERS = 5_000
N_FILES = 8
N_BOTS = 3
BOT_HITS = 5_000
ENCODING = "ISO-8859-1"
MIN_WARM = 3

# Sink layouts (FIXTURES.md §A "Expected output schemas").
VISITS_CSV = ["visit_key", "user_id", "visit_start", "visit_end"]
HITS_CSV = [
    "visit_key", "ts", "server", "tracking_code", "page", "line_number",
    "pdp_view", "atb", "bag_view", "checkout", "payment", "order",
]


class Jobs:
    def __init__(self, spark, in_dir: str, out_dir: str, result: common.Result):
        self.spark, self.in_dir, self.out_dir, self.result = spark, in_dir, out_dir, result
        self.counts: list[dict] = []

    def one(self, group: str | None) -> float | None:
        from web_analytics_visits_re_processing_spark.pipeline import run_visits_pipeline

        common.job_group(self.spark, group)
        t0 = time.perf_counter()
        counts = self.result.attempt(
            lambda: run_visits_pipeline(
                self.spark, self.in_dir, self.out_dir, encoding=ENCODING, output_format="csv"
            )
        )
        if counts is None:
            return None
        self.counts.append(counts)
        return time.perf_counter() - t0

    def warm(self, seconds: float, group: str | None) -> list[float]:
        """Warm jobs for ``seconds`` (at least MIN_WARM)."""
        warm: list[float] = []
        t0 = time.perf_counter()
        while len(warm) < MIN_WARM or time.perf_counter() - t0 < seconds:
            t = self.one(group)
            if t is None:
                break
            warm.append(t)
        return warm


def _read_csv(path: str, names: list[str], types: dict) -> pa.Table:
    """The ``types`` columns of a Spark csv sink directory."""
    read = pacsv.ReadOptions(column_names=names)
    convert = pacsv.ConvertOptions(column_types=types, include_columns=list(types))
    return pa.concat_tables(
        pacsv.read_csv(f, read_options=read, convert_options=convert)
        for f in sorted(glob.glob(f"{path}/part-*"))
    )


def check_outputs(result: common.Result, truth: gen.HitlogTruth, jobs: Jobs) -> None:
    want = {"hits": truth.hits, "visits": truth.visits, "visitors": truth.visitors}
    for counts in jobs.counts:
        result.check(counts == want, f"sink rows {counts} != truth {want}")
    visits = _read_csv(
        f"{jobs.out_dir}/visits", VISITS_CSV,
        {"visit_start": pa.int64(), "visit_end": pa.int64()},
    )
    got = (visits.num_rows, pc.sum(visits["visit_start"]).as_py(), pc.sum(visits["visit_end"]).as_py())
    want_v = (truth.visits, truth.visit_start_sum, truth.visit_end_sum)
    result.check(got == want_v, f"visits (rows, start sum, end sum) {got} != {want_v}")
    hits = _read_csv(f"{jobs.out_dir}/hits", HITS_CSV, {"page": pa.string(), "order": pa.int64()})
    got = (
        hits.num_rows,
        pc.sum(hits["order"]).as_py(),
        pc.sum(pc.equal(hits["page"], gen.LATIN1_PAGE)).as_py(),
    )
    want_h = (truth.hits, truth.order_flags, truth.latin1_page_hits)
    result.check(got == want_h, f"hits (rows, order flags, Latin-1 pages) {got} != {want_h}")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def layer_calls(spark, in_dir: str, out_dir: str, result: common.Result, truth) -> dict:
    """One call into each layer under its own job group: parse alone,
    parse + window sessionize, then the whole pipeline."""
    from pyspark.sql import Observation

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        with_session_columns,
    )
    from web_analytics_visits_re_processing_spark.pipeline import run_visits_pipeline
    from web_analytics_visits_re_processing_spark.sources.hitlog import read_hitlog

    common.job_group(spark, "hitlog")
    obs = Observation("perfbench_hitlog")
    t0 = time.perf_counter()
    common.noop(read_hitlog(spark, in_dir, ENCODING, observation=obs, drop_bad_ts=False))
    parse_s = time.perf_counter() - t0
    seen = obs.get
    got = (seen["rows_in"], seen["short_rows"], seen["bad_timestamp_rows"], seen["dropped_rows"])
    want = (truth.lines, truth.short_rows, truth.bad_ts_rows, truth.short_rows)
    result.check(got == want, f"parse counters {got} != truth {want}")

    common.job_group(spark, "sessionize")
    t0 = time.perf_counter()
    common.noop(with_session_columns(read_hitlog(spark, in_dir, ENCODING, drop_bad_ts=False)))
    sessionize_s = time.perf_counter() - t0

    common.job_group(spark, "pipeline")
    t0 = time.perf_counter()
    counts = run_visits_pipeline(spark, in_dir, out_dir, encoding=ENCODING, output_format="csv")
    pipeline_s = time.perf_counter() - t0
    return {
        "hitlog.parse_s": parse_s,
        "hitlog.rows_in": seen["rows_in"],
        "hitlog.short_rows": seen["short_rows"],
        "hitlog.bad_ts_rows": seen["bad_timestamp_rows"],
        "hitlog.rows_dropped": seen["dropped_rows"],
        "sessionize.self_s": sessionize_s - parse_s,
        "pipeline.sinks_self_s": pipeline_s - sessionize_s,
        "pipeline.output_bytes": _dir_bytes(out_dir),
        "pipeline.rows_hits": counts["hits"],
        "pipeline.rows_visits": counts["visits"],
        "pipeline.rows_visitors": counts["visitors"],
    }


def restarted(jobs: Jobs, work: str, **session) -> Jobs:
    """Point ``jobs`` at a new SparkContext in the same JVM."""
    jobs.spark.stop()
    jobs.spark, _ = common.start_spark(work, **session)
    return jobs


def run(seed: int, seconds: float, trace: bool) -> common.Result:
    result = common.Result()
    work = common.workdir("batch_reprocess")
    spark, setup = common.start_spark(work)
    in_dir, out_dir = f"{work}/in", f"{work}/out"
    truth = gen.make_hitlog(in_dir, seed, N_USERS, N_FILES, N_BOTS, BOT_HITS)
    common.log(
        f"input: {truth.lines} lines, {truth.visits} planted visits, "
        f"{N_FILES} gz files, {truth.input_bytes} bytes"
    )
    jobs = Jobs(spark, in_dir, out_dir, result)
    with common.RssSampler() as rss:
        cold = jobs.one(None)
        warm = jobs.warm(seconds, None)
    common.log(f"host drift probe {common.anchor(spark):.3f} s")
    if cold is None or not warm:
        spark.stop()
        return result
    warm_s = common.median(warm)
    common.log(
        f"reprocess_hits_per_s {truth.lines / warm_s:.1f} hits/s, "
        f"latency {warm_s:.3f} s (n={len(warm)} warm jobs); "
        f"reprocess_cold_s {cold:.3f} s (n=1); setup_s {setup['setup_s']:.3f} s (n=1); "
        f"peak_rss_mb {rss.peak_mb:.1f} MB"
    )
    if not trace:
        spark.stop()
        check_outputs(result, truth, jobs)
        result.metrics = {
            "setup_s": setup["setup_s"],
            "peak_rss_mb": rss.peak_mb,
            "throughput_per_s": truth.lines / warm_s,
            "latency_p50_s": warm_s,
            "cold_s": cold,
        }
        return result

    # Traced: the warm jobs in a new SparkContext of the same, now warm,
    # JVM with the event log on, then one call per layer and the read
    # side's query mix. One job before and one after them, each in a
    # context with the event log off, give the untraced baseline; it is
    # compared with the first traced job, as each is the first job of
    # its context.
    base = [restarted(jobs, work).one(None)]
    log_dir = f"{work}/eventlog"
    traced_warm = restarted(jobs, work, event_log_dir=log_dir).warm(seconds, "warm")
    layers = layer_calls(jobs.spark, in_dir, out_dir, result, truth)
    reads, passes = analytics.read_side(jobs.spark, work, seed, seconds, result)
    base.append(restarted(jobs, work).one(None))
    stages = eventlog.read(log_dir)
    one_core = restarted(jobs, work, master="local[1]").one(None)
    jobs.spark.stop()
    check_outputs(result, truth, jobs)
    base_s = sum(base) / len(base)
    traced_s = traced_warm[0]
    common.log(f"trace overhead: first job of a context {base_s:.3f} (n={len(base)}) -> {traced_s:.3f} s")

    hitlog = eventlog.totals(stages, {"hitlog"})
    sess = eventlog.totals(stages, {"sessionize"})
    result.metrics = {
        "session.get_spark_s": setup["get_spark_s"],
        "session.first_action_s": setup["first_action_s"],
        **layers,
        **reads,
        "analytics.shuffle_bytes_per_pass": analytics.shuffle_bytes_per_pass(stages, passes),
        "hitlog.cpu_s": hitlog.cpu_s,
        "hitlog.input_bytes": hitlog.input_bytes,
        "sessionize.shuffle_write_bytes": sess.shuffle_write_bytes,
        "sessionize.spill_bytes": sess.spill_bytes,
        "sessionize.task_skew": sess.task_skew,
        **eventlog.engine_metrics(
            eventlog.totals(stages, {"warm"}), sum(traced_warm), common.CORES, len(traced_warm)
        ),
        "reprocess.speedup_vs_1core": (one_core or 0.0) / base_s,
        "trace.delta_throughput_per_s": truth.lines / traced_s - truth.lines / base_s,
        "trace.delta_latency_p50_s": traced_s - base_s,
    }
    return result
