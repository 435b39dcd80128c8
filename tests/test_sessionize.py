"""Session numbering and keys: with_session_columns against a
plain-Python gap walk, and Spark's native session_window against both,
on adversarial inputs; plus the incremental merge and the null-ts
policy."""

from __future__ import annotations


def _gap_walk(rows, gap):
    """Plain-Python sessions of ``(event_id, user, t)`` rows, ``t`` an
    integer: per user in ``(t, event_id)`` order, a row more than
    ``gap`` after the previous one starts the next session. Maps each
    event_id to its session's number and start ``t``."""
    sessions, last = {}, {}
    for event_id, user, t in sorted(rows, key=lambda r: (r[1], r[2], r[0])):
        prev = last.get(user)
        if prev is None:
            seq, start = 0, t
        elif t - prev[0] > gap:
            seq, start = prev[1] + 1, t
        else:
            seq, start = prev[1], prev[2]
        last[user] = (t, seq, start)
        sessions[event_id] = (seq, start)
    return sessions


def _walk(users_steps):
    """(event_id, user, t) rows from ``(user, start, step)`` draws:
    each user's t is its start plus its running step sum."""
    rows, t = [], {}
    for event_id, (user, start, step) in enumerate(users_steps):
        t[user] = t.get(user, start) + step
        rows.append((event_id, user, t[user]))
    return rows


def test_lag_formulation_equals_session_window_fuzz(spark):
    """Property: with_session_columns (the lag/running-sum numbering
    the DuckDB oracles spell in SQL) numbers sessions exactly as a
    plain-Python gap walk and keys each hit ``user_<visit start>``, and
    Spark's native session_window aggregate (sessionize_visits) cuts
    the same visits under the same keys. Steps land exactly at the
    gap (merge, not split), 1 µs or 1 s either side, at half the gap,
    or on a tie; inputs are integral epoch seconds and sub-second
    timestamps, also in a year where a double compare would blur 1 µs."""
    import datetime as dt

    from hypothesis import example, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import types as T

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        sessionize_visits,
        with_session_columns,
    )

    gap = 60  # seconds, small so fuzz steps straddle it
    gap_us = gap * 1_000_000
    steps_s = st.sampled_from([0, 1, gap // 2, gap - 1, gap, gap + 1, 5 * gap])
    steps_us = st.sampled_from(
        [0, 1, gap_us // 2, gap_us - 1, gap_us, gap_us + 1, 5 * gap_us]
    )

    def numbered(df):
        """event_id → (session_seq, visit_key)."""
        got = with_session_columns(df, gap_seconds=gap, order_cols=["event_id"])
        return {r["event_id"]: (r["session_seq"], r["visit_key"]) for r in got.collect()}

    def expected(rows, gap_t, key_time=lambda t: t):
        """The walk's sessions, keyed ``user_<key_time(start)>``: epoch
        seconds as they are, or a timestamp's epoch micros."""
        users = {i: u for i, u, _ in rows}
        return {
            i: (seq, f"{users[i]}_{key_time(start)}")
            for i, (seq, start) in _gap_walk(rows, gap_t).items()
        }

    @given(st.lists(st.tuples(st.integers(0, 2), st.integers(1_700_000_000, 1_700_000_100), steps_s),
                    min_size=1, max_size=25))
    @settings(max_examples=10, deadline=None)
    def check_seconds(evs):
        rows = _walk(evs)
        df = spark.createDataFrame(rows, "event_id long, user_id long, ts long")
        assert numbered(df) == expected(rows, gap)

    # In 2400, epoch micros exceed 2**53: a double of them, or of epoch
    # seconds, no longer tells a step of gap + 1 µs from one of gap.
    bases = st.sampled_from([dt.datetime(2024, 1, 1), dt.datetime(2400, 1, 1)])

    @given(bases, st.lists(st.tuples(st.integers(0, 2), st.integers(0, 999_999), steps_us),
                           min_size=1, max_size=25))
    @example(dt.datetime(2400, 1, 1), [(0, 0, 0), (0, 0, gap_us + 1)])
    @settings(max_examples=15, deadline=None)
    def check_micros(base, evs):
        rows = _walk(evs)
        df = spark.createDataFrame(
            [(i, u, base + dt.timedelta(microseconds=t)) for i, u, t in rows],
            "event_id long, user_id long, ts timestamp",
        )
        # A start's epoch micros as PySpark converts the datetime.
        want = expected(
            rows, gap_us, lambda t: T.TimestampType().toInternal(base + dt.timedelta(microseconds=t))
        )
        assert numbered(df) == want
        sessions = {}
        for i, u, t in rows:
            sessions.setdefault((want[i][1], u), []).append(t)
        assert {
            (r["visit_key"], r["user_id"], r["visit_start"], r["visit_end"], r["n_hits"])
            for r in sessionize_visits(df, gap_seconds=gap).collect()
        } == {
            (key, u, base + dt.timedelta(microseconds=min(ts)),
             base + dt.timedelta(microseconds=max(ts)), len(ts))
            for (key, u), ts in sessions.items()
        }

    check_seconds()
    check_micros()


def test_session_seq_rejects_a_ts_it_cannot_compare_in_integers(spark):
    import pytest

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        with_session_columns,
    )

    df = spark.createDataFrame([(1, 1.5)], "user_id long, ts double")
    with pytest.raises(TypeError, match="ts must be a timestamp or integral"):
        with_session_columns(df)


def test_dynamic_gap_running_end_merges_past_short_gap(spark):
    """A long-gap event holds the session open across later short-gap
    events: with view(gap 30m)@t0, click(gap 5m)@t400s, click@t900s the
    lag-only rule would split at t900 (500s > click's 300s gap), but
    the session window end is still t0+30m — Spark merges all three.
    Pins the running-max semantics the dynamic-gap oracle replays."""
    from pyspark.sql import functions as F

    events = spark.createDataFrame(
        [
            (1, "view", 0),
            (2, "click", 400),
            (3, "click", 900),
        ],
        "event_id long, event_type string, t long",
    ).select("event_id", "event_type", F.timestamp_seconds("t").alias("ts"),
             F.lit(7).alias("user_id"))
    gap = (
        F.when(F.col("event_type") == "click", F.lit("300 seconds"))
        .otherwise(F.lit("1800 seconds"))
    )
    got = (
        events.groupBy("user_id", F.session_window("ts", gap))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert len(got) == 1 and got[0]["n"] == 3, got


def test_incremental_merge_equals_full_batch(spark):
    """Boundary matrix for merge_incremental_visits: merge at EXACTLY
    the gap, split at gap+1s, prior-only and new-only users, multiple
    interior sessions both sides — incremental must equal full batch."""
    import datetime as dt

    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        merge_incremental_visits,
        sessionize_visits,
    )

    cut = dt.datetime(2024, 1, 16)
    m = lambda mins: cut + dt.timedelta(minutes=mins)  # noqa: E731
    rows = [
        # user 1: prior session ending exactly 30 min before the first
        # new event -> MUST merge (merge-at-exactly-gap rule)
        (1, m(-120)), (1, m(-90)), (1, m(-30)), (1, m(0)), (1, m(5)),
        # user 2: boundary gap 30 min + 1 s -> must NOT merge
        (2, m(-31)), (2, dt.datetime(2024, 1, 16, 0, 0, 1)),
        # user 3: prior-only (two sessions)
        (3, m(-300)), (3, m(-200)),
        # user 4: new-only
        (4, m(10)), (4, m(100)),
        # user 5: interior sessions on both sides + mergeable boundary
        (5, m(-500)), (5, m(-400)), (5, m(-20)), (5, m(1)), (5, m(90)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    prior = sessionize_visits(ev.where(F.col("ts") < F.lit(cut)))
    new = sessionize_visits(ev.where(F.col("ts") >= F.lit(cut)))
    inc = merge_incremental_visits(prior, new)
    full = sessionize_visits(ev)
    cols = ["visit_key", "user_id", "visit_start", "visit_end", "n_hits"]
    assert sorted(map(tuple, inc.select(*cols).collect())) == sorted(
        map(tuple, full.select(*cols).collect())
    )
    got = {(r["user_id"], r["visit_start"]): r["n_hits"] for r in inc.collect()}
    # user 1: {-120,-90} merge (exactly-gap), -30 splits off, then the
    # boundary glues {-30, 0, +5} across the cutoff.
    assert got[(1, m(-120))] == 2
    assert got[(1, m(-30))] == 3
    assert got[(2, m(-31))] == 1 and got[(2, dt.datetime(2024, 1, 16, 0, 0, 1))] == 1


def test_incremental_merge_of_epoch_seconds_visits(spark):
    """The hit-log path's visits carry integral epoch seconds: merged
    across a cutoff they equal one pass over all the hits, gluing at
    exactly the gap and splitting at gap + 1 s."""
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        merge_incremental_visits,
        visits_from_hits,
        with_session_columns,
    )

    cut = 1_705_363_200  # 2024-01-16 00:00:00 UTC
    rows = [
        (1, cut - 3000), (1, cut - 1800), (1, cut), (1, cut + 60),  # glue at the gap
        (2, cut - 1801), (2, cut),  # gap + 1 s: two visits
        (3, cut - 9000),  # prior only
        (4, cut + 10),  # new only
    ]
    hits = spark.createDataFrame(rows, "user_id long, ts long")

    def visits(df):
        return visits_from_hits(with_session_columns(df))

    inc = merge_incremental_visits(
        visits(hits.where(F.col("ts") < cut)), visits(hits.where(F.col("ts") >= cut))
    )
    cols = ["visit_key", "user_id", "visit_start", "visit_end", "n_hits"]
    got = sorted(map(tuple, inc.select(*cols).collect()))
    assert got == sorted(map(tuple, visits(hits).select(*cols).collect()))
    assert got == [
        (f"1_{cut - 3000}", 1, cut - 3000, cut + 60, 4),
        (f"2_{cut - 1801}", 2, cut - 1801, cut - 1801, 1),
        (f"2_{cut}", 2, cut, cut, 1),
        (f"3_{cut - 9000}", 3, cut - 9000, cut - 9000, 1),
        (f"4_{cut + 10}", 4, cut + 10, cut + 10, 1),
    ]


def test_incremental_merge_equals_one_pass_fuzz(spark):
    """Property: a generated feed cut at any time and sessionized on
    each side merges into the visits of one pass over the whole feed,
    for timestamps (``sessionize_visits``) and for integral epoch
    seconds (``visits_from_hits`` over ``with_session_columns``, the
    hit-log path). The examples put a step of exactly the gap and one
    of gap + 1 astride the cut, after a visit of more than one hit."""
    from hypothesis import example, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        merge_incremental_visits,
        sessionize_visits,
        visits_from_hits,
        with_session_columns,
    )

    gap, t0 = 60, 1_700_000_000
    steps = st.sampled_from([0, 1, gap // 2, gap - 1, gap, gap + 1, 5 * gap])
    feeds = st.lists(
        st.tuples(st.integers(0, 2), st.integers(t0, t0 + 100), steps), min_size=1, max_size=25
    )
    cols = ["visit_key", "user_id", "visit_start", "visit_end", "n_hits"]

    def one_pass(df):
        if df.schema["ts"].dataType.typeName() == "timestamp":
            return sessionize_visits(df, gap_seconds=gap)
        return visits_from_hits(with_session_columns(df, gap_seconds=gap))

    def check(df, cut):
        inc = merge_incremental_visits(
            one_pass(df.where(F.col("ts") < cut)),
            one_pass(df.where(F.col("ts") >= cut)),
            gap_seconds=gap,
        )
        assert sorted(map(tuple, inc.select(*cols).collect())) == sorted(
            map(tuple, one_pass(df).select(*cols).collect())
        )

    @given(feeds, st.integers(0, 1500))
    # Across the cut, user 0's two-hit visit glues at exactly the gap
    # after its end, and user 1's splits at gap + 1.
    @example([(u, t0, step) for u, last in ((0, gap), (1, gap + 1)) for step in (0, gap // 2, last)],
             gap // 2 + gap)
    @example([(0, t0, 0), (0, t0, gap + 1), (0, t0, gap)], gap + 1)
    @settings(max_examples=8, deadline=None)
    def check_both(evs, cut_offset):
        cut = F.lit(t0 + cut_offset)
        longs = spark.createDataFrame(_walk(evs), "event_id long, user_id long, ts long")
        check(longs, cut)
        check(longs.withColumn("ts", F.timestamp_seconds("ts")), F.timestamp_seconds(cut))

    check_both()


def test_null_ts_rows_kept_without_joining_a_visit(spark):
    """Null-ts rows sort first in the user window (NULLS FIRST). They
    must come back with null session columns, never share the first
    visit's session_seq, and leave every other row's visit_key as it is
    without them; visits_from_hits skips them, and its visits (with
    visit_end, an aggregate of the visit) are sessionize_visits'."""
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        sessionize_visits,
        visits_from_hits,
        with_session_columns,
    )

    good = [
        (1, "u", 100), (2, "u", 200), (3, "u", 5000), (4, "u", 5100),
        (5, "v", 10), (6, "v", 9000),
    ]
    nulls = [(7, "u", None), (8, "u", None), (9, "w", None)]
    schema = "event_id long, user_id string, ts long"
    session_cols = ("session_seq", "visit_start", "visit_key")

    def stamp(rows):
        return with_session_columns(spark.createDataFrame(rows, schema), gap_seconds=1800)

    mixed = stamp(good + nulls)
    by_id = {r["event_id"]: r for r in mixed.collect()}
    assert set(by_id) == {r[0] for r in good + nulls}
    for event_id, _, _ in nulls:
        assert all(by_id[event_id][c] is None for c in session_cols), by_id[event_id]
    keys_alone = {r["event_id"]: r["visit_key"] for r in stamp(good).collect()}
    assert {i: by_id[i]["visit_key"] for i in keys_alone} == keys_alone
    assert keys_alone[1] == "u_100" and keys_alone[3] == "u_5000"

    visits = sorted(tuple(r) for r in visits_from_hits(mixed).collect())
    assert visits == [
        ("u_100", "u", 100, 200, 2),
        ("u_5000", "u", 5000, 5100, 2),
        ("v_10", "v", 10, 10, 1),
        ("v_9000", "v", 9000, 9000, 1),
    ]
    windowed = sessionize_visits(
        spark.createDataFrame(good + nulls, schema).withColumn("ts", F.timestamp_seconds("ts")),
        gap_seconds=1800,
    ).select(
        "user_id",
        F.unix_seconds("visit_start"),
        F.unix_seconds("visit_end"),
        "n_hits",
    )
    assert sorted(tuple(r) for r in windowed.collect()) == [v[1:] for v in visits]
