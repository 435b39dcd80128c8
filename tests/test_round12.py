"""Round-12 pins: the MP4/ISO-BMFF container walk — hand-built boxes
the fixture generator NEVER emits (64-bit largesize, to-EOF size-0,
mvhd version 1, missing ftyp, truncated box, unknown top-level box),
so the decoder is verified beyond the oracle-replayable subset."""

from __future__ import annotations

from pyspark.sql import types as T

from web_analytics_visits_re_processing_spark.operators.multimodal import (
    MP4_META_SCHEMA,
    decode_mp4_container_meta,
)

SF_DIR = "/root/testdata/sf0.001"


def _box(fourcc: bytes, body: bytes) -> bytes:
    return (8 + len(body)).to_bytes(4, "big") + fourcc + body


def _ftyp() -> bytes:
    return _box(b"ftyp", b"isom" + b"\x00\x00\x02\x00" + b"isom" + b"mp42")


def _mvhd_v0(ts: int, dur: int) -> bytes:
    return _box(
        b"mvhd",
        b"\x00" * 12 + ts.to_bytes(4, "big") + dur.to_bytes(4, "big")
        + b"\x00" * 80,
    )


def _mvhd_v1(ts: int, dur: int) -> bytes:
    # version 1: 64-bit creation/modification/duration
    return _box(
        b"mvhd",
        b"\x01\x00\x00\x00" + b"\x00" * 16 + ts.to_bytes(4, "big")
        + dur.to_bytes(8, "big") + b"\x00" * 80,
    )


def _decode(spark, blobs):
    df = spark.createDataFrame(
        [(i, b) for i, b in enumerate(blobs)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("mp4", T.BinaryType()),
            ]
        ),
    )
    rows = decode_mp4_container_meta(df).collect()
    return {r["doc_id"]: r for r in sorted(rows, key=lambda r: r["doc_id"])}


def test_mp4_largesize_and_size0_and_v1(spark):
    ts, dur = 600, 3000
    moov = _box(b"moov", _mvhd_v0(ts, dur))
    moov_v1 = _box(b"moov", _mvhd_v1(ts, dur))
    payload = b"\x00" * 32

    # doc 0: mdat with 64-bit largesize (size field 1 + 8-byte size)
    large_mdat = (
        (1).to_bytes(4, "big") + b"mdat"
        + (16 + len(payload)).to_bytes(8, "big") + payload
    )
    blob0 = _ftyp() + large_mdat + moov

    # doc 1: trailing mdat with size 0 (extends to end of file)
    blob1 = _ftyp() + moov + ((0).to_bytes(4, "big") + b"mdat" + payload)

    # doc 2: version-1 mvhd (64-bit duration)
    blob2 = _ftyp() + moov_v1 + _box(b"mdat", payload)

    got = _decode(spark, [blob0, blob1, blob2])
    for i in range(3):
        assert got[i]["status"] == "ok", got[i]
        assert got[i]["timescale"] == ts and got[i]["duration"] == dur
        assert got[i]["duration_ms"] == dur * 1000 // ts  # 5000
    assert got[0]["moov_offset"] == 24 + 16 + len(payload)
    assert got[1]["moov_offset"] == 24
    assert got[0]["n_top_boxes"] == got[1]["n_top_boxes"] == 3


def test_mp4_malformed_conventions(spark):
    moov = _box(b"moov", _mvhd_v0(600, 3000))

    # doc 0: no ftyp first
    blob0 = moov + _box(b"mdat", b"x")
    # doc 1: truncated box (declares more bytes than exist)
    blob1 = _ftyp() + (100).to_bytes(4, "big") + b"moov" + b"\x00" * 4
    # doc 2: undersized box (size < header)
    blob2 = _ftyp() + (4).to_bytes(4, "big") + b"moov"
    # doc 3: unknown top-level box is SKIPPED, moov still found
    blob3 = _ftyp() + _box(b"wide", b"") + moov + _box(b"mdat", b"x")

    got = _decode(spark, [blob0, blob1, blob2, blob3])
    assert got[0]["status"] == "no_ftyp" and got[0]["moov_offset"] == -1
    assert got[1]["status"] == "corrupt" and got[1]["timescale"] == -1
    assert got[2]["status"] == "corrupt"
    assert got[3]["status"] == "ok"
    assert got[3]["moov_offset"] == 24 + 8
    assert got[3]["n_top_boxes"] == 4


def test_mp4_fixture_walk_matches_generation_rule(spark):
    """The decoder's values on the real fixture equal the generation
    arithmetic doc-for-doc (the oracle's replay, pinned locally), and
    the schema constant matches the decoder output."""
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    df = QUERIES["mp4_container_meta"](spark, SF_DIR)
    assert df.schema == T._parse_datatype_string(MP4_META_SCHEMA)
    rows = df.collect()
    assert rows and all(r["status"] == "ok" for r in rows)
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    n_by_doc = {
        r["doc_id"]: len(r["text"].encode())
        for r in load_table(spark, SF_DIR, "documents").collect()
    }
    for r in rows:
        n = n_by_doc[r["doc_id"]]
        k, m = n % 3, n % 5 + 1
        expect_off = 24 + k * (m + 8) + ((n + 8) if (n >> 1) & 1 else 0)
        assert r["moov_offset"] == expect_off, (n, dict(r.asDict()))
        assert r["n_top_boxes"] == 3 + k
        assert r["n_tracks"] == n % 2 + 1
        assert r["handlers"] == ("vide" if n % 2 == 0 else "vide,soun")
        assert r["codecs"] == ("avc1" if n % 2 == 0 else "avc1,mp4a")
        assert r["duration_ms"] == (n % 9000 + 1000) * 1000 // (n % 900 + 100)


def test_order_reconciliation_zero_join_exchange(spark):
    """order_value_reconciliation is the bucketed layout's third
    consumer (r11 verdict item 8): the per-order line rollup groups on
    the bucket key and the header LEFT join runs as co-located
    SortMergeJoin — ZERO hash exchange in the whole plan (the only
    exchange is the final single-row aggregate)."""
    import re

    from web_analytics_visits_re_processing_spark.plans import QUERIES

    df = QUERIES["order_value_reconciliation"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert len(re.findall(r"SortMergeJoin.*LeftOuter", plan)) == 1, plan
    assert "SelectedBucketsCount: 8 out of 8" in plan, plan


# --- SCC ------------------------------------------------------------------------


def test_scc_planted_structure(spark):
    """Hand-built directed graph with known SCCs: a 3-cycle {1,2,3},
    a mutual pair {10,11}, a one-way bridge 3->10 (must NOT merge the
    components), and an isolated sink 20."""
    from web_analytics_visits_re_processing_spark.operators.graph import (
        strongly_connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11), (11, 10), (3, 10), (11, 20)],
        ["src", "dst"],
    )
    rows = {
        r["node"]: (r["scc_id"], r["scc_size"])
        for r in strongly_connected_components(edges).collect()
    }
    assert rows[1] == rows[2] == rows[3] == (1, 3)
    assert rows[10] == rows[11] == (10, 2)
    assert rows[20] == (20, 1)
    assert len(rows) == 6


def test_scc_long_cycle_needs_squaring(spark):
    """A directed 9-cycle: the closure needs ceil(log2(9)) squaring
    rounds — a single-hop 'mutual edge' shortcut would leave every
    node a singleton. All 9 nodes must land in one SCC."""
    from web_analytics_visits_re_processing_spark.operators.graph import (
        strongly_connected_components,
    )

    n = 9
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], ["src", "dst"]
    )
    rows = strongly_connected_components(edges).collect()
    assert {r["scc_id"] for r in rows} == {0}
    assert all(r["scc_size"] == n for r in rows)


# --- Jonckheere-Terpstra ---------------------------------------------------------


def test_jonckheere_matches_bruteforce(spark):
    """The histogram-keyed U2 equals the O(n^2) pairwise definition on
    the real fixture (small enough at sf0.001 to brute-force), tie
    handling included."""
    from itertools import combinations

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    rows = QUERIES["jonckheere_trend_priority"](spark, SF_DIR).collect()
    data = {}
    for r in (
        load_table(spark, SF_DIR, "orders")
        .selectExpr(
            "CAST(substring(o_orderpriority, 1, 1) AS INT) AS g",
            "CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents",
        )
        .collect()
    ):
        data.setdefault(r["g"], []).append(r["cents"])
    expect = {}
    for gi, gj in combinations(sorted(data), 2):
        u2 = sum(
            2 * sum(1 for x in data[gi] if x < y)
            + sum(1 for x in data[gi] if x == y)
            for y in data[gj]
        )
        expect[(gi, gj)] = u2
    got = {(r["gi"], r["gj"]): r["u2"] for r in rows}
    assert got == expect
    jt2 = {r["jt2"] for r in rows}
    ejt2 = {r["ejt2"] for r in rows}
    assert jt2 == {sum(expect.values())}
    assert ejt2 == {
        sum(
            len(data[a]) * len(data[b])
            for a, b in combinations(sorted(data), 2)
        )
    }


# --- Friedman ---------------------------------------------------------------------


def test_friedman_matches_fraction_reference(spark):
    """Q recomputed independently with exact Fractions and classic
    midranks from the raw day-by-type cells."""
    from collections import Counter
    from fractions import Fraction

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    rows = QUERIES["friedman_daily_type_ranks"](spark, SF_DIR).collect()
    q_e6 = {r["q_e6"] for r in rows}
    assert len(q_e6) == 1
    cells = {}
    for r in (
        load_table(spark, SF_DIR, "events")
        .selectExpr(
            "CAST(ts AS DATE) AS day",
            "event_type",
            "CAST(FLOOR(value * 100) AS BIGINT) AS c",
        )
        .groupBy("day", "event_type")
        .agg({"c": "sum"})
        .collect()
    ):
        cells.setdefault(str(r["day"]), {})[r["event_type"]] = r["sum(c)"]
    complete = {d: v for d, v in cells.items() if len(v) == 5}
    k = 5
    b = len(complete)
    rsum = Counter()
    for _d, byt in complete.items():
        vals = sorted(byt.values())
        for t, v in byt.items():
            less = sum(1 for x in vals if x < v)
            ties = sum(1 for x in vals if x == v)
            rsum[t] += Fraction(2 * less + ties + 1, 2)
    q = Fraction(12, b * k * (k + 1)) * sum(v**2 for v in rsum.values()) - 3 * b * (
        k + 1
    )
    got = next(iter(q_e6)) / 1e6
    assert abs(got - float(q)) < 0.01, (got, float(q))
    assert {r["n_days"] for r in rows} == {b}


# --- HTML boilerplate extraction ---------------------------------------------------


def test_html_extract_entity_and_empty_edge_cases(spark):
    """Texts the fixture never contains: entity-bearing (& < >, which
    must escape into the page and round-trip back exactly), empty
    text (zero paragraphs), and a 64-char boundary (exactly one full
    paragraph, no ragged tail)."""
    from web_analytics_visits_re_processing_spark.plans.round12 import (
        q_html_boilerplate_extract,
    )
    from unittest import mock

    texts = [
        "a & b < c > d && <<tag>> &amp; already",
        "",
        "x" * 64,
        "y" * 65,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    with mock.patch(
        "web_analytics_visits_re_processing_spark.plans.round12.load_table",
        return_value=df,
    ):
        rows = {
            r["doc_id"]: r
            for r in q_html_boilerplate_extract(spark, "ignored").collect()
        }
    for i, t in enumerate(texts):
        assert rows[i]["extract_ok"] is True, (i, dict(rows[i].asDict()))
        assert rows[i]["main_chars"] == len(t)
    amp, lt, gt = (texts[0].count(c) for c in "&<>")
    n_esc = len(texts[0]) + 4 * amp + 3 * lt + 3 * gt
    assert rows[0]["para_chars"] == n_esc
    assert rows[0]["n_paragraphs"] == (n_esc + 63) // 64
    assert rows[1]["n_paragraphs"] == 0 and rows[1]["para_chars"] == 0
    assert rows[2]["n_paragraphs"] == 1
    assert rows[3]["n_paragraphs"] == 2
    # boilerplate budget: header + j nav links + footer
    for i, t in enumerate(texts):
        assert rows[i]["boiler_chars"] == 43 + 23 * (len(t) % 4) + 39


# --- runs test ---------------------------------------------------------------------


def test_runs_test_matches_python_reference(spark):
    """R, the sign counts, and the run-length histogram recomputed
    independently in Python from the raw fixture."""
    from collections import Counter

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    rows = QUERIES["runs_test_daily_revenue"](spark, SF_DIR).collect()
    daily = sorted(
        (str(r["day"]), r["c"])
        for r in load_table(spark, SF_DIR, "events")
        .selectExpr("CAST(ts AS DATE) AS day", "CAST(FLOOR(value*100) AS BIGINT) AS v")
        .groupBy("day")
        .agg({"v": "sum"})
        .withColumnRenamed("sum(v)", "c")
        .collect()
    )
    vals = sorted(c for _d, c in daily)
    m = vals[(len(vals) + 1) // 2 - 1]
    signs = [1 if c > m else 0 for _d, c in daily if c != m]
    runs = []
    for s in signs:
        if runs and runs[-1][0] == s:
            runs[-1][1] += 1
        else:
            runs.append([s, 1])
    hist = Counter((s, ln) for s, ln in runs)
    got_hist = {(r["sgn"], r["run_len"]): r["n_runs"] for r in rows}
    assert got_hist == dict(hist)
    n1, n0 = sum(signs), len(signs) - sum(signs)
    assert {r["r"] for r in rows} == {len(runs)}
    assert {(r["n1"], r["n0"]) for r in rows} == {(n1, n0)}
    assert {r["e_r_e6"] for r in rows} == {
        1_000_000 + 2_000_000 * n1 * n0 // (n1 + n0)
    }


# --- Page's L -----------------------------------------------------------------------


def test_pages_l_matches_fraction_reference(spark):
    """L recomputed with exact Fractions and classic midranks; the
    monotone-trend weighting j*R_j distinguishes it from Friedman."""
    from fractions import Fraction

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    rows = QUERIES["pages_l_trend_monthly_priority"](spark, SF_DIR).collect()
    cells = {}
    for r in (
        load_table(spark, SF_DIR, "orders")
        .selectExpr(
            "date_format(CAST(o_orderdate AS DATE), 'yyyy-MM') AS mon",
            "CAST(substring(o_orderpriority,1,1) AS INT) AS g",
            "CAST(FLOOR(o_totalprice*100) AS BIGINT) AS v",
        )
        .groupBy("mon", "g")
        .agg({"v": "sum"})
        .collect()
    ):
        cells.setdefault(r["mon"], {})[r["g"]] = r["sum(v)"]
    complete = {m: v for m, v in cells.items() if len(v) == 5}
    rsum = {}
    for _m, byg in complete.items():
        vals = sorted(byg.values())
        for g, v in byg.items():
            less = sum(1 for x in vals if x < v)
            ties = sum(1 for x in vals if x == v)
            rsum[g] = rsum.get(g, Fraction(0)) + Fraction(2 * less + ties + 1, 2)
    l_exact = sum(g * rv for g, rv in rsum.items())
    got_r2 = {r["g"]: r["r2"] for r in rows}
    assert got_r2 == {g: int(2 * rv) for g, rv in rsum.items()}
    assert {r["l2"] for r in rows} == {int(2 * l_exact)}
    b = len(complete)
    assert {r["e_l2"] for r in rows} == {b * 5 * 36 // 2}
    assert {r["n_months"] for r in rows} == {b}


# --- transformWithState MapState/ListState rollup -----------------------------


def test_tws_type_rollup_equals_batch(spark):
    """The MapState/ListState rollup replay equals the batch
    groupBy(user, type) verbatim, and the ListState-derived log_total
    equals the per-user event count (cross-state consistency)."""
    import pytest
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.streaming.tws import (
        transform_with_state_available,
        user_type_rollup_replay,
    )

    if not transform_with_state_available():
        pytest.skip("no protobuf runtime (real or shim)")
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    got = {
        (r["user_id"], r["event_type"]): (r["n_events"], r["value_cents"], r["log_total"])
        for r in user_type_rollup_replay(spark, SF_DIR).collect()
    }
    ev = load_table(spark, SF_DIR, "events").where(F.col("ts").isNotNull())
    per_type = {
        (r["user_id"], r["event_type"]): (r["n"], r["c"])
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.floor(F.col("value") * 100)).alias("c"))
        .collect()
    }
    per_user = {
        r["user_id"]: r["n"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(got) == set(per_type)
    for (u, t), (n, c, lt) in got.items():
        assert (n, c) == per_type[(u, t)]
        assert lt == per_user[u]


def test_tws_rollup_paginated_state_fetch(spark):
    """Force the state server to PAGE its list/map responses
    (maxStateRecordsPerBatch=2 → requireNextFetch=True on every
    multi-entry ListStateGet / MapState Iterator response) and re-run
    the rollup replay: exercises the pagination arm of
    StateResponseWithListGet / StateResponseWithMapIterator through
    the vendored protobuf shim, which the default 10000-per-page
    config never reaches. Results must be identical to the unpaged
    run (the sweep-gated values)."""
    import os
    import shutil

    import pytest

    from web_analytics_visits_re_processing_spark.streaming.tws import (
        transform_with_state_available,
        user_type_rollup_replay,
    )

    if not transform_with_state_available():
        pytest.skip("no protobuf runtime (real or shim)")
    key = "spark.sql.execution.arrow.transformWithStateInPySpark.maxStateRecordsPerBatch"
    prev = spark.conf.get(key)
    # fresh checkpoint so the paged run re-executes instead of
    # replaying the committed sink
    from web_analytics_visits_re_processing_spark.streaming.replay import (
        replay_workdir,
    )

    workdir = replay_workdir("streaming_tws_type_rollup", SF_DIR)
    spark.conf.set(key, "2")
    try:
        shutil.rmtree(os.path.join(workdir, "out"), ignore_errors=True)
        shutil.rmtree(os.path.join(workdir, "ckpt"), ignore_errors=True)
        paged = {
            (r["user_id"], r["event_type"]): (
                r["n_events"], r["value_cents"], r["log_total"]
            )
            for r in user_type_rollup_replay(spark, SF_DIR).collect()
        }
    finally:
        spark.conf.set(key, prev)
        shutil.rmtree(os.path.join(workdir, "out"), ignore_errors=True)
        shutil.rmtree(os.path.join(workdir, "ckpt"), ignore_errors=True)
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    ev = load_table(spark, SF_DIR, "events").where(F.col("ts").isNotNull())
    expect = {
        (r["user_id"], r["event_type"]): (r["n"], r["c"])
        for r in ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.floor(F.col("value") * 100)).alias("c"))
        .collect()
    }
    assert set(paged) == set(expect)
    assert all(paged[k][:2] == expect[k] for k in expect)
