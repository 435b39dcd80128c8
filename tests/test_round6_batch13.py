"""Planted-case tests: WoW delta decomposition conservation, basket
histogram arithmetic, HHI extremes."""

from __future__ import annotations

import datetime as dt

from web_analytics_visits_re_processing_spark.plans import QUERIES

EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)
LI_SCHEMA = (
    "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
    "l_quantity double, l_extendedprice double, l_discount double, "
    "l_tax double, l_returnflag string, l_linestatus string, "
    "l_shipdate timestamp"
)


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / f"{name}.parquet"))


def test_wow_contribution_decomposition(spark, tmp_path):
    # Week w: view 100c, click 100c. Week w+1: view 400c, click 50c.
    # Deltas +300 / −50; total +250 → view contributes 1,200,000 ppm,
    # click −200,000 ppm (over-100% offset by a negative — the point
    # of the decomposition). view growth 3000 bp wait: 300*1e4//100 =
    # 30000 bp; click −50*1e4//100 = −5000 bp.
    w0 = dt.datetime(2024, 1, 1, 12)
    w1 = w0 + dt.timedelta(weeks=1)
    rows = [
        (1, w0, 1, "view", 1.00, "{}"),
        (2, w0, 1, "click", 1.00, "{}"),
        (3, w1, 1, "view", 4.00, "{}"),
        (4, w1, 1, "click", 0.50, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    got = {
        r["event_type"]: (
            r["cur_cents"], r["prev_cents"], r["delta_cents"],
            r["contrib_ppm"], r["growth_bp"],
        )
        for r in QUERIES["wow_revenue_contribution"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["view"] == (400, 100, 300, 1_200_000, 30_000)
    assert got["click"] == (50, 100, -50, -200_000, -5_000)


def test_basket_size_histogram(spark, tmp_path):
    t = dt.datetime(2024, 1, 1)
    rows = [
        # order 1: two distinct parts (one repeated line), 300c total.
        (1, 1, 1, 1, 1.0, 1.00, 0.0, 0.0, "N", "O", t),
        (1, 1, 1, 2, 1.0, 1.00, 0.0, 0.0, "N", "O", t),
        (1, 2, 1, 3, 1.0, 1.00, 0.0, 0.0, "N", "O", t),
        # order 2: single part, 100c.
        (2, 9, 1, 4, 1.0, 1.00, 0.0, 0.0, "N", "O", t),
    ]
    _write(spark, tmp_path, "lineitem", rows, LI_SCHEMA)
    got = {
        r["basket_size"]: (r["n_orders"], r["total_cents"], r["mean_cents"])
        for r in QUERIES["basket_size_stats"](spark, str(tmp_path)).collect()
    }
    assert got == {2: (1, 300, 300), 1: (1, 100, 100)}


def test_supplier_hhi_extremes(spark, tmp_path):
    t = dt.datetime(2024, 1, 1)
    # Nation MONO: one supplier → HHI 1e6. Nation DUO: two equal
    # suppliers → HHI 500000.
    _write(
        spark, tmp_path, "supplier",
        [(1, "s1", 0, 0.0), (2, "s2", 1, 0.0), (3, "s3", 1, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    )
    _write(
        spark, tmp_path, "nation",
        [(0, "MONO", 0, ""), (1, "DUO", 0, "")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    )
    li = [
        (1, 1, 1, 1, 1.0, 5.00, 0.0, 0.0, "N", "O", t),
        (2, 1, 2, 2, 1.0, 3.00, 0.0, 0.0, "N", "O", t),
        (3, 1, 3, 3, 1.0, 3.00, 0.0, 0.0, "N", "O", t),
    ]
    _write(spark, tmp_path, "lineitem", li, LI_SCHEMA)
    got = {
        r["nation"]: (r["n_suppliers"], r["hhi_ppm"])
        for r in QUERIES["supplier_hhi_by_nation"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got["MONO"] == (1, 1_000_000)
    assert got["DUO"] == (2, 500_000)


def test_streaming_heatmap_state_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.sources.tables import load_table
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_heatmap_state,
    )

    streamed = streaming_heatmap_state(spark, sf_dir, max_files_per_trigger=2)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        F.weekday("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("c"))
    got = {(r["dow"], r["hour"]): r["c"] for r in streamed.collect()}
    want = {(r["dow"], r["hour"]): r["c"] for r in batch.collect()}
    assert got == want and len(got) > 0
