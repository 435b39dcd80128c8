"""The read side: registry queries (``plans``) over generated events.

Measured per layer inside the traced run of ``batch_reprocess`` (the
day's analysts after the daily job). One client runs a seeded order of
four registry queries that read only the ``events`` table, against a
generated events-only directory. The first pass collects every result
and compares it with the query's DuckDB oracle (``plans.ORACLES``);
then each query is materialized with a ``noop`` write, pass after pass,
for ``seconds``, each query under its own job group.
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import common
import eventlog
import gen

MIX = (
    "sessionize_visits",
    "funnel_stage_counts",
    "session_length_percentiles",
    "sessions_per_user_histogram",
)
N_USERS = 4_000
FIRST_WINDOW_S = 28 * gen.DAY_S
MAX_BETWEEN_S = 2 * gen.DAY_S
MIN_PASSES = 1


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype("int64")
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def mismatch(mine: pd.DataFrame, oracle: pd.DataFrame) -> str | None:
    """Why two results differ, or None: same columns, same rows in any
    order, floats within 1e-9 relative, integers never against floats."""
    if sorted(mine.columns) != sorted(oracle.columns):
        return f"columns {sorted(mine.columns)} vs {sorted(oracle.columns)}"
    if len(mine) != len(oracle):
        return f"rows {len(mine)} vs {len(oracle)}"
    a, b = _normalize(mine), _normalize(oracle)
    for c in a.columns:
        x, y = a[c], b[c]
        fx, fy = pd.api.types.is_float_dtype(x), pd.api.types.is_float_dtype(y)
        numeric = all(
            pd.api.types.is_integer_dtype(v) or pd.api.types.is_float_dtype(v) for v in (x, y)
        )
        if numeric and fx != fy:
            return f"column {c}: dtype {x.dtype} vs {y.dtype}"
        if fx or fy:
            same = np.allclose(x.astype(float), y.astype(float), rtol=1e-9, atol=0, equal_nan=True)
        else:
            same = bool((x.astype(str) == y.astype(str)).all())
        if not same:
            return f"column {c}: values differ"
    return None


class Client:
    def __init__(self, spark, data_dir: str, order: list[str], result: common.Result):
        from web_analytics_visits_re_processing_spark.plans import QUERIES

        self.spark, self.data_dir, self.order, self.result = spark, data_dir, order, result
        self.queries = QUERIES

    def check_pass(self, con) -> None:
        """Collect every query once and compare it with its oracle."""
        from web_analytics_visits_re_processing_spark.plans import ORACLES

        common.job_group(self.spark, "read-side-check")
        for name in self.order:
            mine = self.result.attempt(
                lambda: self.queries[name](self.spark, self.data_dir).toPandas()
            )
            if mine is not None:
                why = mismatch(mine, con.sql(ORACLES[name]).df())
                self.result.check(why is None, f"{name} != oracle: {why}")

    def passes(self, seconds: float) -> list[dict[str, tuple[float, float]]]:
        """Passes for ``seconds`` (at least MIN_PASSES), each query under
        its own job group; each pass maps a query to its (build,
        execute) seconds."""
        passes = []
        t0 = time.perf_counter()
        while len(passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            times = {}
            for name in self.order:
                common.job_group(self.spark, f"q:{name}")
                times[name] = self.result.attempt(self._one, name)
            if None in times.values():
                break
            passes.append(times)
        return passes

    def _one(self, name: str) -> tuple[float, float]:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, self.data_dir)
        t1 = time.perf_counter()
        common.noop(df)
        return t1 - t0, time.perf_counter() - t1


def read_side(spark, work: str, seed: int, seconds: float, result: common.Result):
    """Run the query mix in a session whose event log is on: one checked
    pass, then timed passes for ``seconds``. Returns the per-layer
    metrics measured in Python and the number of timed passes."""
    data_dir = f"{work}/events"
    os.makedirs(data_dir)
    events = gen.make_events(seed, N_USERS, FIRST_WINDOW_S, MAX_BETWEEN_S)
    path = f"{data_dir}/events.parquet"
    pq.write_table(gen.events_table(events), path)
    order = [MIX[i] for i in np.random.default_rng(seed).permutation(len(MIX))]
    common.log(f"read side: {events.num_rows} events; query order {' '.join(order)}")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    client = Client(spark, data_dir, order, result)
    client.check_pass(con)
    passes = client.passes(seconds)
    if not passes:
        return {}, 0
    return {
        **{f"analytics.{n}_s": common.median(sum(p[n]) for p in passes) for n in MIX},
        "analytics.build_s": common.median(sum(b for b, _ in p.values()) for p in passes),
        "analytics.exec_s": common.median(sum(e for _, e in p.values()) for p in passes),
    }, len(passes)


def shuffle_bytes_per_pass(stages: dict, passes: int) -> float:
    """Shuffle bytes the query mix wrote, per timed pass (the checked
    pass runs outside the query job groups)."""
    groups = {f"q:{name}" for name in MIX}
    return eventlog.totals(stages, groups).shuffle_write_bytes / max(passes, 1)
