"""Planted-case tests: stickiness arithmetic, debounce suppression
counts, exact k-fold balance."""

from __future__ import annotations

import datetime as dt

from web_analytics_visits_re_processing_spark.plans import QUERIES

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / f"{name}.parquet"))


def test_dau_mau_stickiness_window(spark, tmp_path):
    # Users 1,2 active day 1; only user 1 active day 2 →
    # day2: DAU 1, MAU 2, stickiness 500000.
    d1, d2 = dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 2, 9)
    rows = [
        (1, d1, 1, "view", 0.0, "{}"),
        (2, d1, 2, "view", 0.0, "{}"),
        (3, d2, 1, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    got = {
        r["day"]: (r["dau"], r["mau"], r["stickiness_ppm"])
        for r in QUERIES["dau_mau_stickiness"](spark, str(tmp_path)).collect()
    }
    assert got["2024-01-01"] == (2, 2, 1_000_000)
    assert got["2024-01-02"] == (1, 2, 500_000)


def test_debounce_suppression(spark, tmp_path):
    t = dt.datetime(2024, 1, 10, 12, 0)
    rows = [
        # user 1: 3 views in one minute → keep 1, suppress 2.
        (1, t, 1, "view", 0.0, "{}"),
        (2, t + dt.timedelta(seconds=10), 1, "view", 0.0, "{}"),
        (3, t + dt.timedelta(seconds=50), 1, "view", 0.0, "{}"),
        # next minute → separate bucket, nothing suppressed.
        (4, t + dt.timedelta(minutes=1), 1, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    (r,) = QUERIES["event_debounce_keep_last"](spark, str(tmp_path)).collect()
    assert (r["n_kept"], r["n_suppressed"], r["suppressed_ppm"]) == (
        2, 2, 500_000,
    )


def test_kfold_exact_balance(spark, tmp_path):
    # 12 vectors of label 0, 3 of label 1: per-label fold sizes must
    # differ by at most one (12 → 3,3,2,2,2; 3 → 1,1,1,0,0).
    rows = [(i, [float(i), 0.0], 0) for i in range(12)]
    rows += [(100 + i, [0.0, float(i)], 1) for i in range(3)]
    _write(
        spark, tmp_path, "embeddings", rows,
        "vec_id long, embedding array<float>, label int",
    )
    out = QUERIES["stratified_kfold_assignment"](
        spark, str(tmp_path)
    ).collect()
    by_label = {}
    for r in out:
        by_label.setdefault(r["label"], {})[r["fold"]] = r["n"]
    assert sorted(by_label[0].values(), reverse=True) == [3, 3, 2, 2, 2]
    assert sorted(by_label[1].values(), reverse=True) == [1, 1, 1]
    assert sum(by_label[0].values()) == 12 and sum(by_label[1].values()) == 3


def test_isolated_parts(spark, tmp_path):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    li_schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )
    # parts 1-2 share 2 orders (connected); part 3 sold alone; part 4
    # co-occurs with 1 only once (below support) → isolates {3, 4}.
    rows, ln = [], 1
    for o, parts in [(10, [1, 2]), (11, [1, 2]), (12, [3]), (13, [1, 4])]:
        for p in parts:
            rows.append((o, p, 1, ln, 1.0, 1.0, 0.0, 0.0, "N", "O", t))
            ln += 1
    _write(spark, tmp_path, "lineitem", rows, li_schema)
    (r,) = QUERIES["isolated_parts_share"](spark, str(tmp_path)).collect()
    assert (r["n_sold_parts"], r["n_connected"], r["n_isolated"]) == (4, 2, 2)
    assert r["isolated_ppm"] == 500_000


def test_audience_overlap_subset_reads_full(spark, tmp_path):
    import datetime as dt

    t = dt.datetime(2024, 1, 10)
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    # viewers = {1,2,3,4}; buyers = {1,2} (a strict subset):
    # overlap coefficient must read 1e6 even though Jaccard is 0.5.
    rows = [(i, t, u, "view", 0.0, "{}") for i, u in enumerate([1, 2, 3, 4])]
    rows += [(10 + i, t, u, "purchase", 0.0, "{}") for i, u in enumerate([1, 2])]
    _write(spark, tmp_path, "events", rows, ev_schema)
    (r,) = QUERIES["audience_overlap_matrix"](spark, str(tmp_path)).collect()
    assert (r["type_a"], r["type_b"]) == ("purchase", "view")
    assert (r["n_both"], r["n_a"], r["n_b"]) == (2, 2, 4)
    assert r["overlap_ppm"] == 1_000_000


def test_burstiness_extremes(spark, tmp_path):
    import datetime as dt

    t = dt.datetime(2024, 1, 10)
    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    rows = []
    # u1 metronomic: purchases every 10 min → gaps equal → CV² = 0.
    for i in range(4):
        rows.append((i, t + dt.timedelta(minutes=10 * i), 1, "purchase", 1.0, "{}"))
    # u2 bursty: gaps 1,1,28 min → n=3,S=30,Q=786 →
    # (3·786−900)·1e6//900 = 1620000.
    for i, m in enumerate([0, 1, 2, 30]):
        rows.append((10 + i, t + dt.timedelta(minutes=m), 2, "purchase", 1.0, "{}"))
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["user_id"]: (r["n"], r["cv2_ppm"])
        for r in QUERIES["purchase_interarrival_burstiness"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got[1] == (3, 0)
    assert got[2] == (3, 1_620_000)


def test_streaming_benford_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.sources.tables import load_table
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_benford_state,
    )

    streamed = streaming_benford_state(spark, sf_dir, max_files_per_trigger=2)
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.where(F.floor(F.col("value") * 100) >= 1)
        .groupBy(
            F.substring(
                F.floor(F.col("value") * 100).cast("string"), 1, 1
            ).cast("long").alias("digit")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    got = {r["digit"]: r["c"] for r in streamed.collect()}
    want = {r["digit"]: r["c"] for r in batch.collect()}
    assert got == want and len(got) > 0


def test_hll_rolling_mau_window_and_error(spark, sf_dir):
    # Sketch vs exact on the fixture: every day's estimate must be
    # within HLL's m=64 error envelope (~13% 1σ; allow 3σ + small-n
    # slop) of the exact trailing-28-day MAU.
    rows = QUERIES["hll_rolling_mau"](spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        est = r["hll_mau_e4"] / 10_000
        exact = r["mau_exact"]
        assert abs(est - exact) <= max(0.45 * exact, 3)


def test_dup_rate_by_source(spark, tmp_path):
    docs = [
        (1, "same text", "en", "A", 1),
        (2, "same text", "en", "A", 1),
        (3, "other", "en", "A", 1),
        (4, "same text", "en", "B", 1),   # cross-source: NOT internal
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {
        r["source"]: (r["n_docs"], r["n_dup_docs"], r["n_removable"], r["dup_rate_ppm"])
        for r in QUERIES["dup_rate_by_source"](spark, str(tmp_path)).collect()
    }
    assert got["A"] == (3, 2, 1, 666_666)
    assert got["B"] == (1, 0, 0, 0)


def test_conversion_heatmap_cells(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    mon = dt.datetime(2024, 1, 8, 12, 30)
    rows = [
        (1, mon, 1, "view", 0.0, "{}"),
        (2, mon, 1, "view", 0.0, "{}"),
        (3, mon, 2, "purchase", 0.0, "{}"),
        (4, mon, 3, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    (r,) = QUERIES["conversion_heatmap_dow_hour"](
        spark, str(tmp_path)
    ).collect()
    assert (r["dow"], r["hour"], r["n_events"], r["n_purchases"]) == (
        0, 12, 4, 1,
    )
    assert r["cvr_ppm"] == 250_000


def test_next_action_diversity_extremes(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)

    def ev(eid, uid, minute, et):
        return (eid, t + dt.timedelta(minutes=minute), uid, et, 0.0, "{}")

    # 'flow' always goes to 'next' (impurity 0); 'fork' splits 50/50
    # between 'a' and 'b' (impurity 500000).
    rows = [
        ev(1, 1, 0, "flow"), ev(2, 1, 1, "next"),
        ev(3, 2, 0, "flow"), ev(4, 2, 1, "next"),
        ev(5, 3, 0, "fork"), ev(6, 3, 1, "a"),
        ev(7, 4, 0, "fork"), ev(8, 4, 1, "b"),
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["cur_type"]: (r["n_transitions"], r["n_next_types"], r["impurity_ppm"])
        for r in QUERIES["next_action_diversity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["flow"] == (2, 1, 0)
    assert got["fork"] == (2, 2, 500_000)


def test_session_gap_sensitivity_thresholds(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)
    # One user, gaps of 20 min and 45 min:
    # gap=15 → 3 sessions; gap=30 → 2 (20min merges); gap=60 → 1.
    rows = [
        (1, t, 1, "view", 0.0, "{}"),
        (2, t + dt.timedelta(minutes=20), 1, "view", 0.0, "{}"),
        (3, t + dt.timedelta(minutes=65), 1, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["gap_minutes"]: (r["n_sessions"], r["mean_len_ppm"])
        for r in QUERIES["session_gap_sensitivity"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {
        15: (3, 1_000_000),
        30: (2, 1_500_000),
        60: (1, 3_000_000),
    }


def test_bounce_by_entry(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)
    rows = [
        # view-entry session that continues (no bounce)…
        (1, t, 1, "view", 0.0, "{}"),
        (2, t + dt.timedelta(minutes=1), 1, "click", 0.0, "{}"),
        # …view-entry single-hit session (bounce)…
        (3, t, 2, "view", 0.0, "{}"),
        # …error-entry single hit (bounce).
        (4, t, 3, "error", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["entry_type"]: (r["n_sessions"], r["n_bounces"], r["bounce_ppm"])
        for r in QUERIES["bounce_rate_by_entry_type"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["view"] == (2, 1, 500_000)
    assert got["error"] == (1, 1, 1_000_000)


def test_wow_user_retention(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    w0 = dt.datetime(2024, 1, 1, 12)
    w1 = w0 + dt.timedelta(weeks=1)
    rows = [
        (1, w0, 1, "view", 0.0, "{}"),
        (2, w0, 2, "view", 0.0, "{}"),
        (3, w1, 1, "view", 0.0, "{}"),   # u1 retained, u2 churned
        (4, w1, 9, "view", 0.0, "{}"),   # new user — not in denominator
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    (r,) = QUERIES["wow_user_retention"](spark, str(tmp_path)).collect()
    assert (r["n_prev_actives"], r["n_retained"], r["retention_ppm"]) == (
        2, 1, 500_000,
    )


def test_rage_clicks(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)
    rows = [
        # u1: 4 clicks 5 s apart (one burst of 4)…
        *[(i, t + dt.timedelta(seconds=5 * i), 1, "click", 0.0, "{}")
          for i in range(4)],
        # …then a 2-click tight run (below 3 → no burst).
        (10, t + dt.timedelta(minutes=10), 1, "click", 0.0, "{}"),
        (11, t + dt.timedelta(minutes=10, seconds=5), 1, "click", 0.0, "{}"),
        # u2: 3 clicks 30 s apart → gaps too wide, no burst.
        *[(20 + i, t + dt.timedelta(seconds=30 * i), 2, "click", 0.0, "{}")
          for i in range(3)],
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["user_id"]: (r["n_bursts"], r["worst_burst_len"])
        for r in QUERIES["rage_click_bursts"](spark, str(tmp_path)).collect()
    }
    assert got == {1: (1, 4)}


def test_transition_latency_median(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)
    # view→click gaps of 10, 20, 30 s (three users) → p50 = 20.
    rows = []
    for u, g in enumerate([10, 20, 30]):
        rows.append((u * 10, t, u, "view", 0.0, "{}"))
        rows.append((u * 10 + 1, t + dt.timedelta(seconds=g), u, "click",
                     0.0, "{}"))
    _write(spark, tmp_path, "events", rows, ev_schema)
    (r,) = QUERIES["transition_latency_medians"](
        spark, str(tmp_path)
    ).collect()
    assert (r["cur_type"], r["next_type"], r["n_transitions"], r["p50_gap_s"]) == (
        "view", "click", 3, 20,
    )


def test_sessions_per_user_histogram(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)
    rows = [
        # u1: two sessions (2-hour gap); u2 and u3: one each.
        (1, t, 1, "view", 0.0, "{}"),
        (2, t + dt.timedelta(hours=2), 1, "view", 0.0, "{}"),
        (3, t, 2, "view", 0.0, "{}"),
        (4, t, 3, "view", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["n_sessions"]: (r["n_users"], r["user_share_ppm"])
        for r in QUERIES["sessions_per_user_histogram"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {1: (2, 666_666), 2: (1, 333_333)}


def test_conversion_by_tenure(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    d0 = dt.datetime(2024, 1, 1, 10)
    rows = [
        (1, d0, 1, "view", 0.0, "{}"),                          # day0
        (2, d0, 1, "purchase", 0.0, "{}"),                      # day0 conv
        (3, d0 + dt.timedelta(days=3), 1, "view", 0.0, "{}"),   # day1_7
        (4, d0 + dt.timedelta(days=10), 1, "purchase", 0.0, "{}"),  # day8+
    ]
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["tenure_bucket"]: (r["n_events"], r["n_purchases"], r["cvr_ppm"])
        for r in QUERIES["conversion_by_tenure"](spark, str(tmp_path)).collect()
    }
    assert got == {
        "day0": (2, 1, 500_000),
        "day1_7": (1, 0, 0),
        "day8plus": (1, 1, 1_000_000),
    }


def test_order_reconciliation(spark, tmp_path):
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    _write(spark, tmp_path, "orders",
           [(1, 1, "O", 3.00, t, "1-URGENT"),    # matches lines (300c)
            (2, 1, "O", 5.00, t, "1-URGENT"),    # lines only 300c → drift 200
            (3, 1, "O", 1.00, t, "1-URGENT")],   # no lines → drift 100
           "o_orderkey long, o_custkey long, o_orderstatus string, "
           "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    li_schema = (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp"
    )
    _write(spark, tmp_path, "lineitem",
           [(1, 1, 1, 1, 1.0, 1.00, 0.0, 0.0, "N", "O", t),
            (1, 2, 1, 2, 1.0, 2.00, 0.0, 0.0, "N", "O", t),
            (2, 3, 1, 3, 1.0, 3.00, 0.0, 0.0, "N", "O", t)],
           li_schema)
    (r,) = QUERIES["order_value_reconciliation"](spark, str(tmp_path)).collect()
    assert (r["n_orders"], r["n_matched"], r["n_mismatched"]) == (3, 1, 2)
    assert (r["total_drift_cents"], r["worst_drift_cents"]) == (300, 200)


def test_error_rate_trend(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    rows, eid = [], 0
    # 12 days, error rate strictly rising (k errors of 20 events on
    # day k) → S = 66, significant worsening.
    for d in range(12):
        for i in range(20):
            et = "error" if i < d else "view"
            rows.append((eid, dt.datetime(2024, 1, 1 + d, 9), 1, et,
                         0.0, "{}")); eid += 1
    _write(spark, tmp_path, "events", rows, ev_schema)
    (r,) = QUERIES["error_rate_trend"](spark, str(tmp_path)).collect()
    assert (r["n_days"], r["mk_s"], r["worsening_3sigma"]) == (12, 66, 1)
    # 66 errors of 240 events → 275000 ppm.
    assert r["overall_error_ppm"] == 275_000


def test_wilson_demotes_small_samples(spark, tmp_path):
    import datetime as dt

    ev_schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    t = dt.datetime(2024, 1, 10, 12)
    rows, eid = [], 0
    # 'fluke' entry: 2 sessions, both convert (raw rate 100%).
    for u in (1, 2):
        rows.append((eid, t, u, "fluke", 0.0, "{}")); eid += 1
        rows.append((eid, t + dt.timedelta(minutes=1), u, "purchase",
                     0.0, "{}")); eid += 1
    # 'solid' entry: 40 sessions, 24 convert (60%).
    for u in range(10, 50):
        rows.append((eid, t, u, "solid", 0.0, "{}")); eid += 1
        if u < 34:
            rows.append((eid, t + dt.timedelta(minutes=1), u, "purchase",
                         0.0, "{}")); eid += 1
    _write(spark, tmp_path, "events", rows, ev_schema)
    got = {
        r["entry_type"]: (r["n"], r["k"], r["rnk"])
        for r in QUERIES["wilson_ranked_entry_types"](
            spark, str(tmp_path)
        ).collect()
    }
    # Raw rates: fluke 100% > solid 60% — Wilson must invert that.
    assert got["solid"][2] < got["fluke"][2]
    assert got["fluke"][:2] == (2, 2)
    assert got["solid"][:2] == (40, 24)
