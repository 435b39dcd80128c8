"""Property tests (SURVEY §5.2.3) for the sessionizer on random event
streams: gap invariants, min/max ordering, count preservation, and
equivalence of the two formulations (session_window groupBy vs
lag/running-sum window functions)."""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    sessionize_visits,
    visits_from_hits,
    with_session_columns,
)

GAP = 1800


def _random_events(seed: int, n_users: int = 8, n_events: int = 400):
    rng = random.Random(seed)
    base = dt.datetime(2024, 1, 1)
    rows = []
    t = {u: 0 for u in range(n_users)}
    for i in range(n_events):
        u = rng.randrange(n_users)
        # mix of intra-session steps, exact-gap edges, and big jumps
        step = rng.choice([1, 10, 600, 1799, 1800, 1801, 5000, 90000])
        t[u] += step
        rows.append((i, base + dt.timedelta(seconds=t[u]), u, rng.random()))
    return rows


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_session_invariants(spark, seed):
    df = spark.createDataFrame(
        _random_events(seed), "event_id long, ts timestamp, user_id long, value double"
    )
    visits = sessionize_visits(df, gap_seconds=GAP).collect()
    stamped = with_session_columns(df, gap_seconds=GAP)
    hits = stamped.collect()
    hit_visits = visits_from_hits(stamped).collect()

    # count preservation: every input event lands in exactly one session
    assert len(hits) == df.count()
    assert sum(v["n_hits"] for v in visits) == len(hits)
    assert len({v["visit_key"] for v in visits}) == len(visits)

    # per-visit: start = min ts <= max ts = end
    for v in visits:
        assert v["visit_start"] <= v["visit_end"]

    # the two formulations agree exactly: per visit, the hits stamped
    # with its key (their count and visit_start) and the visit-level
    # start/end/count that visits_from_hits aggregates from them
    by_key = {v["visit_key"]: [v["visit_start"], v["visit_end"], v["n_hits"]] for v in visits}
    assert {
        v["visit_key"]: [v["visit_start"], v["visit_end"], v["n_hits"]] for v in hit_visits
    } == by_key
    from_hits = {}
    for h in hits:
        s = from_hits.setdefault(h["visit_key"], [h["visit_start"], 0])
        assert h["visit_start"] == s[0]
        s[1] += 1
    assert {k: [s, n] for k, (s, _, n) in by_key.items()} == from_hits
    for h in hits:
        start, end, _ = by_key[h["visit_key"]]
        assert start <= h["ts"] <= end

    # gap semantics per user: consecutive hits within a session differ
    # by <= GAP; consecutive sessions are separated by > GAP
    by_user: dict[int, list] = {}
    for h in sorted(hits, key=lambda r: (r["user_id"], r["ts"])):
        by_user.setdefault(h["user_id"], []).append(h)
    for seq in by_user.values():
        for a, b in zip(seq, seq[1:]):
            delta = (b["ts"] - a["ts"]).total_seconds()
            if b["visit_key"] == a["visit_key"]:
                assert delta <= GAP
            else:
                assert delta > GAP


def test_hot_key_sessionization_completes_and_is_correct(spark):
    """Power-law reality check: one bot user with 30k hits among
    normal users — the window formulation must spill/sort through it
    and produce exactly the sessions the gap rule implies."""
    import datetime as dt

    base = dt.datetime(2024, 5, 1)
    rows = []
    # bot: 30k hits, one every 2s → ONE giant session
    for i in range(30_000):
        rows.append((i, base + dt.timedelta(seconds=2 * i), 0, 1.0))
    # normal users: 3 hits each, two sessions
    for u in range(1, 20):
        rows.append((100_000 + u * 10, base, u, 1.0))
        rows.append((100_000 + u * 10 + 1, base + dt.timedelta(seconds=60), u, 1.0))
        rows.append((100_000 + u * 10 + 2, base + dt.timedelta(hours=3), u, 1.0))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    visits = sessionize_visits(df).collect()
    by_user = {}
    for v in visits:
        by_user.setdefault(v["user_id"], []).append(v)
    assert len(by_user[0]) == 1 and by_user[0][0]["n_hits"] == 30_000
    for u in range(1, 20):
        assert sorted(v["n_hits"] for v in by_user[u]) == [1, 2]
