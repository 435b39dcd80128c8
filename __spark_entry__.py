"""Driver contract facade (see repo docstring history for the spec).

``entry(spark)`` — flagship sessionization at sf0.001.
``queries()`` / ``oracle_sql()`` — the declared operator inventory,
populated from ``web_analytics_visits_re_processing_spark.plans``.
"""

from __future__ import annotations

import functools
import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# Make the package importable no matter the driver's cwd: here, and in
# the session's Python workers (``_ship``).
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from web_analytics_visits_re_processing_spark.plans import ORACLES, QUERIES  # noqa: E402


def _ship(spark: SparkSession) -> None:
    """Put this checkout on the PYTHONPATH of ``spark``'s Python
    workers. A worker imports the package when it unpickles a UDF, a
    data source or a stateful processor, and it starts in the JVM's
    working directory, not here. ``sc.environment`` is copied into every
    Python function wrapped after this call, so it reaches task workers
    and the transformWithState driver worker alike."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _REPO not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_REPO, *paths])


def _shipped(
    fn: Callable[[SparkSession, str], DataFrame],
) -> Callable[[SparkSession, str], DataFrame]:
    @functools.wraps(fn)
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ship(spark)
        return fn(spark, sf_dir)

    return run


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: sessionize the sf0.001 events stream into visits."""
    _ship(spark)
    return QUERIES["sessionize_visits"](spark, "/root/testdata/sf0.001")


def _sampling_history() -> tuple[dict[str, int], set[str]]:
    """From the committed CORRECTNESS_r*.json artifacts:
    (last_pass, latest_bad).

    ``last_pass[name]`` = newest round in which the driver fully
    verified the query. "Verified" means hash-green for oracle-gated
    queries; for designed rows-only queries (no ``ORACLES`` entry,
    e.g. sketch internals) the driver records ``err: 'no_oracle'`` and
    runs the weaker rows-only check — that IS their pass, so it counts.
    A gated query whose record says ``no_oracle`` (sampled before its
    oracle existed) does NOT count as passed and stays in the
    never-verified tier until a hash-green row lands.

    ``latest_bad`` = queries whose LATEST-round record is a genuine
    failure (error or mismatch) — a regression needs a fresh hard
    signal the round after the fix."""
    import glob
    import json
    import re

    last_pass: dict[str, int] = {}
    latest_bad: set[str] = set()
    paths = sorted(
        glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")),
        key=lambda p: int(re.search(r"r(\d+)", os.path.basename(p)).group(1)),
    )
    for i, path in enumerate(paths):
        rnd = int(re.search(r"r(\d+)", os.path.basename(path)).group(1))
        try:
            with open(path) as f:
                payload = json.load(f)
        except (OSError, ValueError):
            continue
        rows = payload.get("queries", payload) if isinstance(payload, dict) else {}
        if not isinstance(rows, dict):
            continue
        for name, rec in rows.items():
            if not isinstance(rec, dict):
                continue
            # record shape: {err, rows_match, schema_match, hash_match,
            # spark_rows, oracle_rows}; None = not applicable.
            if name in ORACLES:
                ok = (
                    not rec.get("err")
                    and rec.get("hash_match") is True
                    and rec.get("rows_match") is not False
                    and rec.get("schema_match") is not False
                )
            else:
                ok = rec.get("err") in (None, "no_oracle")
            if ok:
                last_pass[name] = rnd
            elif i == len(paths) - 1:
                latest_bad.add(name)
    return last_pass, latest_bad


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ordered for the driver's 50-query-prefix sample:
    (1) queries genuinely failing in the LATEST driver round — a
    regression fix needs a fresh hard signal the round after;
    (2) queries NEVER driver-verified (never sampled, or sampled only
    before their oracle existed) — converts local-only signals into
    driver-hash rows;
    (3) everything already verified, stalest pass first — so hard
    signals keep rotating across the whole registry.
    Ties keep registry order. Self-maintaining: any future regression
    automatically re-enters tier 1."""
    last_pass, latest_bad = _sampling_history()

    def prio(name: str) -> tuple[int, int]:
        if name in latest_bad:
            return (0, 0)
        if name not in last_pass:
            return (1, 0)
        return (2, last_pass[name])

    ordered = sorted(QUERIES, key=prio)  # stable: registry order within ties
    return {name: _shipped(QUERIES[name]) for name in ordered}


def oracle_sql() -> dict[str, str]:
    order = {name: i for i, name in enumerate(queries())}
    return dict(sorted(ORACLES.items(), key=lambda kv: order[kv[0]]))
