"""``sources.layout.staged`` / ``memo``: the one cache for intermediates
the registry derives from a fixture. One build per (session, fixture
state); a fixture rewritten in place builds again, and its superseded
staging dir is deleted."""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.oracle_utils import assert_matches_oracle
from web_analytics_visits_re_processing_spark.plans import ORACLES, QUERIES
from web_analytics_visits_re_processing_spark.sources import layout


def _fixture(tmp_path, payload: bytes) -> str:
    d = tmp_path / "fx"
    d.mkdir(exist_ok=True)
    (d / "t.parquet").write_bytes(payload)
    return str(d)


def _staged_dir(df) -> str:
    """The ``wavrp_stage_*`` dir above the staged frame's files."""
    (d,) = {os.path.dirname(urlparse(p).path) for p in df.inputFiles()}
    return os.path.dirname(d)


def test_staged_builds_once_per_fixture_state(spark, tmp_path):
    fx = _fixture(tmp_path, b"one")
    builds = []

    def build():
        builds.append(1)
        return spark.range(len(builds) * 3)

    first = layout.staged("cache_contract", spark, fx, build)
    again = layout.staged("cache_contract", spark, fx, build)
    assert again is first and len(builds) == 1 and first.count() == 3
    old_dir = _staged_dir(first)
    assert os.path.basename(old_dir).startswith("wavrp_stage_")

    _fixture(tmp_path, b"rewritten")
    fresh = layout.staged("cache_contract", spark, fx, build)
    assert len(builds) == 2 and fresh.count() == 6
    assert not os.path.exists(old_dir)
    assert os.path.isdir(_staged_dir(fresh))


def test_memo_recomputes_after_a_rewrite(tmp_path):
    fx = _fixture(tmp_path, b"one")
    calls = []

    def compute():
        calls.append(1)
        return len(calls)

    assert layout.memo("cache_contract_n", fx, compute) == 1
    assert layout.memo("cache_contract_n", fx, compute) == 1
    _fixture(tmp_path, b"rewritten")
    assert layout.memo("cache_contract_n", fx, compute) == 2
    assert layout.memo("cache_contract_n", fx, compute) == 2


def test_recursion_bases_follow_a_fixture_rewritten_in_place(spark, sf_dir, tmp_path):
    """EWMA and Croston recurse over staged daily sequences; after the
    events and lineitem files are rewritten in place they must match
    the oracle over the new files, not the sequences of the old."""
    fx = str(tmp_path / "sf")
    shutil.copytree(sf_dir, fx, copy_function=shutil.copyfile)

    def check():
        for name in ("ewma_daily_revenue", "croston_intermittent_demand"):
            assert_matches_oracle(QUERIES[name](spark, fx), ORACLES[name], fx)

    check()
    events = pq.read_table(f"{fx}/events.parquet")
    even = pc.equal(pc.bit_wise_and(events["event_id"], 1), 0)
    pq.write_table(events.filter(even), f"{fx}/events.parquet")
    lineitem = pq.read_table(f"{fx}/lineitem.parquet")
    pq.write_table(lineitem.slice(0, lineitem.num_rows // 2), f"{fx}/lineitem.parquet")
    check()
