"""Planted-case tests for the round-8 additions: the Kaplan–Meier
integer recursion (hand-computed survival through a censored cohort)
and Apriori-pruned GSP (a fixture where the (a,c) prune removes
candidates the bare F2⋈F2 join would have scanned). Each test drives
the REGISTERED query callable — the same code path the driver gates."""

from __future__ import annotations

import datetime as dt

from web_analytics_visits_re_processing_spark.plans import QUERIES

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write_events(spark, tmp_path, rows):
    """rows: (event_id, minutes_after_t0, user_id, event_type, value,
    props)"""
    df = spark.createDataFrame(
        [
            (eid, T0 + dt.timedelta(minutes=m), uid, et, val, props)
            for (eid, m, uid, et, val, props) in rows
        ],
        EV_SCHEMA,
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    return str(tmp_path)


def test_km_survival_hand_computed(spark, tmp_path):
    """Same cohort as the churn-hazard test (u1 churns at t=0, u2 at
    t=2, u3 censored at t=5): S(0) = 1e6 − 333333 = 666667;
    S(1) = 666667 (h=0); S(2) = 666667·500000 div 1e6 = 333333 (the
    truncating step — a float product would carry .5); S(3..5) stay
    333333."""
    day = 1440
    rows = [
        (1, 0, 1, "view", 0.0, "{}"),
        (2, 0, 2, "view", 0.0, "{}"), (3, 2 * day, 2, "view", 0.0, "{}"),
        (4, 0, 3, "view", 0.0, "{}"), (5, 12 * day, 3, "view", 0.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["t"]: (r["n_at_risk"], r["hazard_ppm"], r["survival_ppm"])
        for r in QUERIES["km_survival_curve"](spark, sf).collect()
    }
    assert got == {
        0: (3, 333333, 666667),
        1: (2, 0, 666667),
        2: (2, 500000, 333333),
        3: (1, 0, 333333),
        4: (1, 0, 333333),
        5: (1, 0, 333333),
    }


def test_km_monotone_and_consistent_with_hazard(spark, sf_dir):
    """On the driver fixture: S is non-increasing, bounded by
    (0, 1e6], and each step equals the integer product rule applied
    to the gated hazard table — the recursion and the hazard gate can
    never drift apart."""
    rows = sorted(
        QUERIES["km_survival_curve"](spark, sf_dir).collect(),
        key=lambda r: r["t"],
    )
    assert rows, "empty survival curve"
    prev = 1_000_000
    for r in rows:
        expected = (prev * (1_000_000 - r["hazard_ppm"])) // 1_000_000
        assert r["survival_ppm"] == expected, r
        assert 0 < r["survival_ppm"] <= prev
        prev = r["survival_ppm"]


def _gsp_fixture(spark, tmp_path, view="view", click="click", purchase="purchase"):
    """4 users, each with symbol sequence [b, c, a, b] where
    b=view:0 (k<25), c=click:1 (25≤k<50), a=purchase:2 (50≤k<75).
    min support 85% of 4 users → a pattern must hit ALL 4."""
    rows, eid = [], 0
    for u in range(1, 5):
        for m, (et, k) in enumerate(
            [(view, 3), (click, 30), (purchase, 60), (view, 9)]
        ):
            rows.append((eid, m, u, et, 0.0, '{"k": %d}' % k))
            eid += 1
    return _write_events(spark, tmp_path, rows)


def test_gsp_apriori_prunes_and_counts_exactly(spark, tmp_path):
    """Hand-enumerated lattice for [b,c,a,b]: F1 = 3 symbols,
    F2 = 6 of 9 ordered pairs, the GSP join (F2⋈F2 on the middle
    symbol) yields 13 candidates of which the Apriori (a,c)-prune
    removes 3 — e.g. (a,b)+(b,c) dies because (a,c) is infrequent —
    so n_c3 = 10; of those exactly 4 are frequent: (b,a,b), (b,c,a),
    (b,c,b), (c,a,b), each in all 4 sequences."""
    sf = _gsp_fixture(spark, tmp_path)
    rows = QUERIES["gsp_apriori_sequences"](spark, sf).collect()
    assert all(
        (r["n_f1"], r["n_f2"], r["n_c3"]) == (3, 6, 10) for r in rows
    ), rows
    got = {
        (r["a"], r["b"], r["c"]): (r["support"], r["support_ppm"])
        for r in rows
    }
    b, c, a = "view:0", "click:1", "purchase:2"
    lv = "(levels)"
    assert got == {
        (b, a, b): (4, 1_000_000),
        (b, c, a): (4, 1_000_000),
        (b, c, b): (4, 1_000_000),
        (c, a, b): (4, 1_000_000),
        (lv, lv, lv): (0, 0),   # the always-on audit row
    }


def test_gsp_symbols_with_backslashes_and_quotes_round_trip(spark, tmp_path):
    """The F1 dictionary is built from typed literals, never spliced
    into SQL text: event types holding a backslash-b (an escape to
    the SQL parser), a double backslash and a single quote mine the
    same lattice as the plain fixture and come back byte-identical."""
    view, click, purchase = "vi\\bew", "cl\\\\ick", "pur'chase"
    sf = _gsp_fixture(spark, tmp_path, view, click, purchase)
    rows = QUERIES["gsp_apriori_sequences"](spark, sf).collect()
    b, c, a = f"{view}:0", f"{click}:1", f"{purchase}:2"
    lv = "(levels)"
    assert {(r["a"], r["b"], r["c"]) for r in rows} == {
        (b, a, b), (b, c, a), (b, c, b), (c, a, b), (lv, lv, lv)
    }, rows
    assert all((r["n_f1"], r["n_f2"], r["n_c3"]) == (3, 6, 10) for r in rows)


def test_gsp_fixture_pruning_is_selective(spark, sf_dir):
    """Non-degeneracy at the smallest fixture: F2 must be a STRICT
    subset of F1×F1 (the 85% threshold actually cuts) and C3 a strict
    subset of F1³ — an all-or-none threshold would make the Apriori
    machinery decorative. The '(levels)' audit row must always be
    present (at sf0.01/sf0.1 F3 is legitimately empty and the audit
    row is what keeps the gate non-vacuous); at sf0.001 the mined
    triples emit alongside it."""
    rows = QUERIES["gsp_apriori_sequences"](spark, sf_dir).collect()
    audit = [r for r in rows if r["a"] == "(levels)"]
    mined = [r for r in rows if r["a"] != "(levels)"]
    assert len(audit) == 1
    assert mined, "no frequent 3-sequences at sf0.001"
    n_f1, n_f2, n_c3 = rows[0]["n_f1"], rows[0]["n_f2"], rows[0]["n_c3"]
    assert 0 < n_f2 < n_f1 * n_f1, (n_f1, n_f2)
    assert 0 < n_c3 < n_f1 ** 3, (n_f1, n_c3)
    assert len(mined) <= n_c3


EMB_SCHEMA = "vec_id long, embedding array<float>, label string"


def test_ndcg_perfect_when_retrieval_is_exact(spark, tmp_path):
    """30 near-identical vectors (first-dim nudges, all in one LSH
    bucket): all pairwise cosines round to the same 4-dp value, both
    rankings fall back to the shared vec_id tiebreak, the LSH list
    equals the exact list — nDCG must be EXACTLY 1e6 for all 10
    queries and dcg_e6 must equal the IDCG constant."""
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _NDCG_IDCG,
    )

    base = [1.0] * 64
    rows = [
        (i, [base[0] + i * 0.0001] + base[1:], "x") for i in range(30)
    ]
    spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    out = QUERIES["ndcg_at_10_ann"](spark, str(tmp_path)).collect()
    assert len(out) == 10
    assert all(r["ndcg_ppm"] == 1_000_000 for r in out), out
    assert all(r["dcg_e6"] == _NDCG_IDCG for r in out), out


def test_ndcg_matches_python_replay(spark, sf_dir):
    """Independent replay of the gate aggregation: recompute nDCG in
    Python from the two operator outputs (exact ranks + LSH
    positions) with the pinned weight literals — every per-query
    value must match the registered query exactly, including any
    query scored 0 via the exact-side spine."""
    from web_analytics_visits_re_processing_spark.operators.similarity import (
        cosine_topk_bruteforce,
        cosine_topk_lsh,
    )
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _NDCG_IDCG,
        _NDCG_W,
        _emb,
    )
    from pyspark.sql import functions as F

    emb = _emb(spark, sf_dir)
    qs = emb.where(F.col("vec_id") < 10)
    erk = {
        (r["query_id"], r["vec_id"]): r["rk"]
        for r in cosine_topk_bruteforce(emb, qs, k=10).collect()
    }
    dcg = {q: 0 for q, _ in erk}
    for r in cosine_topk_lsh(emb, qs, k=10, dim=64).collect():
        q = r["query_id"]
        gain = 11 - erk.get((q, r["vec_id"]), 11)
        dcg[q] = dcg.get(q, 0) + gain * _NDCG_W[r["rk"] - 1]
    expected = {
        q: (d, d * 1_000_000 // _NDCG_IDCG) for q, d in dcg.items()
    }
    got = {
        r["query_id"]: (r["dcg_e6"], r["ndcg_ppm"])
        for r in QUERIES["ndcg_at_10_ann"](spark, sf_dir).collect()
    }
    assert got == expected


CUST_SCHEMA = (
    "c_custkey long, c_name string, c_nationkey long, "
    "c_acctbal double, c_mktsegment string"
)


def test_t_closeness_hand_computed(spark, tmp_path):
    """Global mix: 7 debt + 7 high (N=14). Class A (nation 1) is ALL
    debt — l-diversity would see l=1, but even were bands mixed the
    EMD pins the skew: t = (|5·14−7·5| + |5·14−7·5|)·1e6 //
    (2·5·14) = 500000 → flagged. Class C (nation 3) mirrors the
    global mix exactly (2 debt + 2 high) → t = 0 → clean."""
    rows = []
    for i in range(5):   # class A: all debt
        rows.append((i, f"c{i}", 1, -10.0, "SEG"))
    for i in range(5, 10):  # class B: all high
        rows.append((i, f"c{i}", 2, 9000.0, "SEG"))
    for i in range(10, 12):  # class C: 2 debt
        rows.append((i, f"c{i}", 3, -10.0, "SEG"))
    for i in range(12, 14):  # class C: 2 high
        rows.append((i, f"c{i}", 3, 9000.0, "SEG"))
    spark.createDataFrame(rows, CUST_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "customer.parquet"))
    got = {
        r["c_nationkey"]: (r["n"], r["t_ppm"], r["at_risk_skewed"])
        for r in QUERIES["t_closeness_audit"](spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (5, 500_000, 1),
        2: (5, 500_000, 1),
        3: (4, 0, 0),
    }


def test_t_closeness_fixture_nondegenerate(spark, sf_dir):
    """Both flag directions at the smallest fixture, and t bounded in
    [0, 1e6] everywhere."""
    rows = QUERIES["t_closeness_audit"](spark, sf_dir).collect()
    assert rows
    assert all(0 <= r["t_ppm"] <= 1_000_000 for r in rows)
    assert any(r["at_risk_skewed"] == 1 for r in rows), "no skewed class"
    assert any(r["at_risk_skewed"] == 0 for r in rows), "no clean class"


def test_calibration_hand_computed_holdout(spark, tmp_path):
    """Low band: train (even users) converts 4/10 → pred 400000; test
    (odd users) converts 6/10 → obs 600000, gap 200000. High band:
    8/10 both splits → gap 0. ECE = (10·200000 + 10·0) div 20 =
    100000. A day-20 purchase must NOT count as conversion."""
    rows, eid = [], 0
    # low band: score 5 (5 clicks, days 1-5); high band: score 20
    for u in range(100, 120):      # low: even 100..118 train, odd test
        nclick, conv_day = 5, 17
        is_train = u % 2 == 0
        rank = (u - 100) // 2
        converts = (rank < 4) if is_train else (rank < 6)
        for d in range(1, nclick + 1):
            rows.append((eid, d * 1440, u, "click", 0.0, "{}")); eid += 1
        rows.append((eid, (conv_day if converts else 20) * 1440, u,
                     "purchase", 1.0, "{}")); eid += 1
    for u in range(200, 220):      # high band
        is_train = u % 2 == 0
        rank = (u - 200) // 2
        converts = rank < 8
        for d in range(1, 21):
            rows.append((eid, d * 1440 + u, u, "click", 0.0, "{}")); eid += 1
        rows.append((eid, (17 if converts else 20) * 1440, u,
                     "purchase", 1.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["band"]: (r["n_train"], r["k_train"], r["n_test"], r["k_test"],
                    r["pred_ppm"], r["obs_ppm"], r["gap_ppm"], r["ece_ppm"])
        for r in QUERIES["score_calibration_by_band"](spark, sf).collect()
    }
    assert got == {
        "0-11": (10, 4, 10, 6, 400_000, 600_000, 200_000, 100_000),
        "16+": (10, 8, 10, 8, 800_000, 800_000, 0, 100_000),
    }


def test_calibration_fixture_nondegenerate(spark, sf_dir):
    """At the smallest fixture: ≥2 bands populated on BOTH splits and
    at least one band with a non-saturated test rate."""
    rows = QUERIES["score_calibration_by_band"](spark, sf_dir).collect()
    both = [r for r in rows if r["n_train"] > 0 and r["n_test"] > 0]
    assert len(both) >= 2, rows
    assert any(0 < r["k_test"] < r["n_test"] or 0 < r["k_train"] < r["n_train"]
               for r in both), rows


def test_holt_winters_perfect_periodicity_zero_error(spark, tmp_path):
    """A series that repeats week 1 exactly (zero trend) is a fixed
    point of the additive HW recursion when the week-1 sum divides by
    7: level stays at the mean, trend at 0, each seasonal deviation
    reproduces itself exactly through the ×10 div 10 update — so
    every one-step-ahead forecast from day 8 is EXACT."""
    week = [700, 1400, 2100, 2800, 3500, 4200, 6300]  # mean 3000 cents
    rows = [
        (d, d * 1440, 1, "purchase", week[d % 7] / 100.0, "{}")
        for d in range(21)
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = QUERIES["holt_winters_dow_backtest"](spark, sf).collect()
    assert len(got) == 14
    assert all(r["abs_err_cents"] == 0 for r in got), got
    assert all(r["level_cents"] == 3000 for r in got)
    assert all(r["trend_cents"] == 0 for r in got)


def test_holt_winters_matches_python_replay(spark, sf_dir):
    """Truncation-aware Python replay of the full recursion from the
    fixture's daily revenue — every emitted (forecast, level, trend,
    error) must match exactly (div truncates toward zero in BOTH
    engines; Python // floors, so the replay uses explicit
    truncating division)."""
    import datetime as _dt

    from pyspark.sql import functions as F
    from web_analytics_visits_re_processing_spark.plans.webanalytics import (
        _events,
    )

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    daily = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("x"))
        .orderBy("d")
        .collect()
    )
    xs = [r["x"] for r in daily]
    m = tdiv(sum(xs[:7]), 7)
    l, b, seas = m, 0, [x - m for x in xs[:7]]
    expected = []
    for n in range(8, len(xs) + 1):
        x = xs[n - 1]
        f = l + b + seas[0]
        l2 = tdiv(2 * (x - seas[0]) + 8 * (l + b), 10)
        b2 = tdiv(3 * (l2 - l) + 7 * b, 10)
        s2 = tdiv(2 * (x - l2) + 8 * seas[0], 10)
        seas = seas[1:] + [s2]
        l, b = l2, b2
        expected.append((n, x, f, abs(x - f), l, b))
    got = [
        (r["day_n"], r["revenue_cents"], r["forecast_cents"],
         r["abs_err_cents"], r["level_cents"], r["trend_cents"])
        for r in QUERIES["holt_winters_dow_backtest"](
            spark, sf_dir).collect()
    ]
    assert got == expected


def test_time_windowed_greedy_trap_and_window_edges(spark, tmp_path):
    """The exactness case: u1 has view@0h, click@2h, click@23h,
    purchase@30h — greedy-through-first-click fails (30−2 = 28h > 24)
    but the SECOND click works (23 ≤ 24, 30−23 = 7 ≤ 24), so the
    existential scan MUST count u1. u2's chain has a 25 h first gap —
    supported unconstrained, NOT within the window. u3 has view and
    click at the same instant — never a sequence (strict time
    order)."""
    rows = [
        (0, 0, 1, "view", 0.0, "{}"),
        (1, 2 * 60, 1, "click", 0.0, "{}"),
        (2, 23 * 60, 1, "click", 0.0, "{}"),
        (3, 30 * 60, 1, "purchase", 0.0, "{}"),
        (4, 0, 2, "view", 0.0, "{}"),
        (5, 25 * 60, 2, "click", 0.0, "{}"),
        (6, 26 * 60, 2, "purchase", 0.0, "{}"),
        (7, 0, 3, "view", 0.0, "{}"),
        (8, 0, 3, "click", 0.0, "{}"),
        (9, 60, 3, "purchase", 0.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        (r["a"], r["b"], r["c"]): (r["support"], r["support_gap"],
                                   r["gap_retention_ppm"])
        for r in QUERIES["time_windowed_sequence_support"](
            spark, sf).collect()
    }
    # u1 and u2 support it unconstrained; ONLY u1 within the window
    # (u3's simultaneous view/click never forms the prefix)
    assert got[("view", "click", "purchase")] == (2, 1, 500_000)
    # u3: click→(nothing strictly later but purchase)→... the pair
    # (click, purchase) prefix works for u1 (2h→30h? 28h>24 via first,
    # 23h→30h ✓) — spot-check one more triple for window math
    assert got[("click", "click", "purchase")] == (1, 1, 1_000_000)


def test_time_windowed_fixture_nondegenerate(spark, sf_dir):
    """At sf0.001 the 24 h window must BITE (some pattern loses
    support) without zeroing everything."""
    rows = QUERIES["time_windowed_sequence_support"](spark, sf_dir).collect()
    assert rows
    assert all(r["support_gap"] <= r["support"] for r in rows)
    assert any(r["support_gap"] < r["support"] for r in rows), "window never binds"
    assert any(r["support_gap"] > 0 for r in rows), "window zeroes everything"


def test_count_min_overestimates_never_under(spark, sf_dir):
    """The CM guarantee: min-over-rows estimate ≥ true count, always;
    top-20 ranked by true count with deterministic tiebreak."""
    rows = QUERIES["count_min_heavy_hitters"](spark, sf_dir).collect()
    assert 0 < len(rows) <= 20
    assert all(r["cm_estimate"] >= r["true_count"] for r in rows), rows
    assert all(r["overestimate_ppm"] >= 0 for r in rows)
    by_rk = sorted(rows, key=lambda r: r["rk"])
    counts = [r["true_count"] for r in by_rk]
    assert counts == sorted(counts, reverse=True)


def test_count_min_exact_when_no_collisions(spark, tmp_path):
    """3 users among 256 buckets × 4 rows: a collision in ALL four
    rows is (3/256)⁴-improbable and deterministically absent for
    these ids — estimates equal true counts exactly, overestimate 0."""
    rows = []
    eid = 0
    for u, n in ((1, 5), (2, 3), (3, 7)):
        for i in range(n):
            rows.append((eid, i, u, "view", 0.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: (r["true_count"], r["cm_estimate"],
                       r["overestimate_ppm"])
        for r in QUERIES["count_min_heavy_hitters"](spark, sf).collect()
    }
    assert got == {1: (5, 5, 0), 2: (3, 3, 0), 3: (7, 7, 0)}


def test_count_min_collision_inflates_one_sided(spark, tmp_path):
    """Python replay of the md5 rule: rebuild all 4×256 counters for
    the fixture's users and verify the query's estimate equals the
    replayed min-over-rows for every reported user — the full sketch
    pipeline, not just the inequality."""
    import hashlib

    def h(r, u):
        return int(
            hashlib.md5(f"{r}:{u}".encode()).hexdigest()[:15], 16
        ) % 256

    counts = {u: (u % 7) + 1 for u in range(100, 160)}
    rows, eid = [], 0
    for u, n in counts.items():
        for i in range(n):
            rows.append((eid, i, u, "click", 0.0, "{}")); eid += 1
    sf = _write_events(spark, tmp_path, rows)
    cells = {}
    for u, n in counts.items():
        for r in range(4):
            key = (r, h(r, u))
            cells[key] = cells.get(key, 0) + n
    expected_est = {
        u: min(cells[(r, h(r, u))] for r in range(4)) for u in counts
    }
    got = {
        r["user_id"]: (r["true_count"], r["cm_estimate"])
        for r in QUERIES["count_min_heavy_hitters"](spark, sf).collect()
    }
    assert len(got) == 20
    for u, (tc, est) in got.items():
        assert tc == counts[u]
        assert est == expected_est[u], (u, est, expected_est[u])


def test_streaming_count_min_equals_batch_sketch(spark, sf_dir):
    """Mergeability, end to end: the incrementally-streamed sketch
    must produce the IDENTICAL readout to the one-shot batch build —
    same top-20, same estimates, same overestimates."""
    batch = {
        r["user_id"]: (r["true_count"], r["cm_estimate"], r["rk"],
                       r["overestimate_ppm"])
        for r in QUERIES["count_min_heavy_hitters"](spark, sf_dir).collect()
    }
    streamed = {
        r["user_id"]: (r["true_count"], r["cm_estimate"], r["rk"],
                       r["overestimate_ppm"])
        for r in QUERIES["streaming_count_min_sketch"](
            spark, sf_dir).collect()
    }
    assert streamed == batch
    assert len(streamed) > 0


def test_zipf_doubling_hand_computed(spark, tmp_path):
    """Vocabulary with exact frequencies 64,32,16,8 for w1..w4 (plus
    singletons to fill ranks): decay at rank 1 = 32·1e6//64 = 500000,
    rank 2 = 8·1e6//16 = 500000 — a perfect s=1 Zipf reads a flat
    500000 profile; rank 4 pairs rank 8's singleton (ppm from exact
    counts). Ranks past the vocabulary emit no row."""
    words = (["w1"] * 64 + ["w2"] * 32 + ["w3"] * 16 + ["w4"] * 8
             + [f"s{i}" for i in range(8)])
    docs = [(1, " ".join(words), "en", "s", 10)]
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars int",
    ).coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["rank"]: (r["freq_at_rank"], r["freq_at_2x"], r["decay_ppm"])
        for r in QUERIES["zipf_doubling_profile"](
            spark, str(tmp_path)).collect()
    }
    assert got[1] == (64, 32, 500_000)
    assert got[2] == (32, 8, 250_000)
    assert got[4] == (8, 1, 125_000)
    # vocab = 12 tokens → rank 8 needs rank 16: absent
    assert set(got) == {1, 2, 4}


def test_median_ci_hand_computed(spark, tmp_path):
    """9 values 100..900: median rank (9+1)//2 = 5 → 500; ⌊√9⌋ = 3 →
    CI ranks 2 and 8 → [200, 800]. A 2-value type clamps to its
    extremes."""
    rows = [(i, i, 1, "view", (i + 1) * 1.0, "{}") for i in range(9)]
    rows += [(100, 0, 2, "purchase", 5.0, "{}"),
             (101, 1, 2, "purchase", 9.0, "{}")]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["event_type"]: (r["n"], r["median_cents"], r["ci_lo_cents"],
                          r["ci_hi_cents"], r["half_width_ranks"])
        for r in QUERIES["median_ci_by_type"](spark, sf).collect()
    }
    assert got["view"] == (9, 500, 200, 800, 3)
    # n=2: r_med = 1 → 500; √2 → 1: lo rank 1 → clamp ≥1, hi rank 2
    assert got["purchase"] == (2, 500, 500, 900, 1)


def test_median_ci_brackets_and_orders(spark, sf_dir):
    """Fixture sanity: lo ≤ median ≤ hi per type, and the CI is a
    genuine interval (lo < hi whenever n > 4)."""
    rows = QUERIES["median_ci_by_type"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["ci_lo_cents"] <= r["median_cents"] <= r["ci_hi_cents"], r
        if r["n"] > 4:
            assert r["ci_lo_cents"] < r["ci_hi_cents"], r


def test_mmr_prefers_diverse_over_redundant(spark, tmp_path):
    """Query q = e_x; A and B are IDENTICAL vectors at +30° (rel
    0.866, sim(A,B) = 1), C at −30° (rel 0.866, sim(A,C) = 0.5). All
    three tie on relevance (s1 = A by id tiebreak), but MMR's step 2
    must pick C over the redundant B: score(C) = 7·8660 − 3·5000 =
    45620 > score(B) = 7·8660 − 3·10000 = 30620. Pure relevance
    ranking would have returned A, B, C."""
    import math

    pad = [0.0] * 61
    q = [1.0, 0.0, 0.0] + pad
    ab = [math.cos(math.pi / 6), 0.5, 0.0] + pad
    c = [math.cos(math.pi / 6), -0.5, 0.0] + pad
    rows = [(0, q, "q"), (10, ab, "x"), (11, ab, "x"), (12, c, "x")]
    spark.createDataFrame(rows, EMB_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r["step"]: (r["vec_id"], r["rel4"], r["mmr_score_e5"])
        for r in QUERIES["mmr_diversified_top3"](
            spark, str(tmp_path)).collect()
    }
    assert got == {
        1: (10, 8660, 60620),
        2: (12, 8660, 45620),
        3: (11, 8660, 30620),
    }


def test_mmr_fixture_shape(spark, sf_dir):
    """Driver fixture: 10 queries × 3 steps, no repeated selection
    within a query, scores non-increasing across steps (greedy with a
    growing penalty can only fall)."""
    rows = QUERIES["mmr_diversified_top3"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q) == 10
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["step"])
        assert [r["step"] for r in rs] == [1, 2, 3]
        ids = [r["vec_id"] for r in rs]
        assert len(set(ids)) == 3
        scores = [r["mmr_score_e5"] for r in rs]
        assert scores[0] >= scores[1] >= scores[2], (q, scores)
