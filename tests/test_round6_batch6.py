"""Planted-case tests: salted-join plan shape + equality, schema
evolution NULL resolution, bigram surprisal arithmetic, streamed
histogram ≡ batch bins."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.plans import QUERIES

T0 = dt.datetime(2024, 1, 10)
EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write(spark, tmp_path, name, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / f"{name}.parquet"))


def test_salted_join_plan_and_equality(spark, tmp_path):
    # whale: user 7 owns 50 of 60 events; equality vs plain join.
    rows = [(i, T0, 7, "view", 1.0, "{}") for i in range(50)]
    rows += [(100 + i, T0, i, "view", 2.0, "{}") for i in range(10)]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    _write(
        spark, tmp_path, "customer",
        [(7, "c7", 0, 0.0, "WHALESEG"), (3, "c3", 0, 0.0, "SMALL")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    )
    df = QUERIES["salted_skew_join_segments"](spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in plan  # the hint kept it in the shuffle regime
    assert "_salt" in plan
    got = {r["segment"]: (r["n_events"], r["value_cents_sum"]) for r in df.collect()}
    # user 7 also appears once in the spread batch: 50×100 + 200 cents.
    assert got["WHALESEG"] == (51, 5200)
    assert got["SMALL"] == (1, 200)
    assert got["NONE"] == (8, 1600)


def test_schema_evolution_null_resolution(spark, tmp_path):
    early = dt.datetime(2024, 1, 5)
    late = dt.datetime(2024, 1, 20)
    rows = [
        (1, early, 1, "view", 0.0, "{}"),
        (2, early, 2, "click", 0.0, "{}"),   # type dropped in v1 staging
        (3, late, 1, "click", 0.0, "{}"),
        (4, late, 3, "click", 0.0, "{}"),
    ]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    got = {
        r["event_type"]: (r["n_events"], r["n_users"])
        for r in QUERIES["schema_evolution_union"](spark, str(tmp_path)).collect()
    }
    assert got == {"MISSING": (2, 2), "click": (2, 2)}


def test_bigram_surprisal_arithmetic(spark, tmp_path):
    # Corpus: "a b" x3 and one "a c". c(a)=4; surprisal(a,b) =
    # 1e6*4//3 = 1333333; surprisal(a,c) = 4e6.
    rows = [(i, "a b", "en", "s", 3) for i in range(3)] + [(9, "a c", "en", "s", 3)]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_surprisal_ppm"])
        for r in QUERIES["bigram_lm_surprisal_scores"](spark, str(tmp_path)).collect()
    }
    assert got[0] == (1, 1_333_333)
    assert got[9] == (1, 4_000_000)


def test_streaming_histogram_state_equals_batch(spark, sf_dir):
    from web_analytics_visits_re_processing_spark.sources.tables import load_table
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_histogram_state,
    )

    streamed = streaming_histogram_state(spark, sf_dir, max_files_per_trigger=2)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy(
        "event_type", F.floor(F.col("value") * 100).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("c"))
    s = streamed.select("event_type", "bin", "c")
    assert s.exceptAll(batch).count() == 0
    assert batch.exceptAll(s).count() == 0


def test_phrase_search_adjacency(spark, tmp_path):
    rows = [
        (1, "fast scan x fast scan", "en", "s", 5),   # 2 matches, first at 0
        (2, "fast x scan", "en", "s", 3),             # non-adjacent: no row
        (3, "scan fast", "en", "s", 2),               # wrong order: no row
    ]
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")
    got = {
        r["doc_id"]: (r["n_matches"], r["first_pos"])
        for r in QUERIES["phrase_search_positions"](spark, str(tmp_path)).collect()
    }
    assert got == {1: (2, 0)}


def test_distribution_drift_zero_and_shift(spark, tmp_path):
    h1 = dt.datetime(2024, 1, 5)
    h2 = dt.datetime(2024, 1, 20)
    # type "same": identical value sets both halves -> drift 0.
    rows = [(i, h1, 1, "same", float(v), "{}") for i, v in enumerate([1, 2, 2])]
    rows += [(10 + i, h2, 1, "same", float(v), "{}") for i, v in enumerate([1, 2, 2])]
    # type "moved": all mass moves bin 1 -> bin 5.
    rows += [(20, h1, 1, "moved", 1.0, "{}"), (21, h2, 1, "moved", 5.0, "{}")]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    got = {
        r["event_type"]: (r["drift_score"], r["top_drift_bin"])
        for r in QUERIES["distribution_drift_by_type"](spark, str(tmp_path)).collect()
    }
    assert got["same"][0] == 0
    # moved: bins 1 and 5 each differ by the full 1e6 ppm.
    assert got["moved"] == (2 * 1_000_000**2, 1)


def test_weekly_wow_change_bp(spark, tmp_path):
    w1 = dt.datetime(2024, 1, 1)   # Monday
    w2 = dt.datetime(2024, 1, 8)
    rows = [(1, w1, 1, "purchase", 1.0, "{}"),
            (2, w2, 1, "purchase", 1.5, "{}")]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    got = {r["week"]: r for r in
           QUERIES["weekly_revenue_wow_change"](spark, str(tmp_path)).collect()}
    assert got["2024-01-01"]["delta_cents"] is None
    assert got["2024-01-08"]["delta_cents"] == 50
    assert got["2024-01-08"]["change_bp"] == 5000



def test_posting_gamma_bits_arithmetic(spark, tmp_path):
    # 'x' in docs 0..99 and every 10th doc up to 1000 -> df >= 100;
    # verify against a pure-Python Elias-gamma costing.
    ids = list(range(100)) + list(range(100, 1001, 10))
    rows = [(i, "x", "en", "s", 1) for i in ids]
    rows.append((5000, "onlyonce", "en", "s", 1))
    _write(spark, tmp_path, "documents", rows,
           "doc_id long, text string, lang string, source string, n_chars long")
    out = QUERIES["posting_compression_sizing"](spark, str(tmp_path)).collect()
    assert len(out) == 1  # the df=1 term is below the floor
    r = out[0]
    gaps = [ids[0] + 1] + [b - a for a, b in zip(ids, ids[1:])]
    exp = sum(2 * g.bit_length() - 1 for g in gaps)
    assert r["df"] == len(ids)
    assert r["gamma_bits"] == exp
    assert r["ratio_ppm"] == exp * 1_000_000 // (len(ids) * 64)


def test_streaming_user_totals_equal_batch(spark, sf_dir):
    from web_analytics_visits_re_processing_spark.sources.tables import load_table
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_user_totals_state,
    )

    streamed = streaming_user_totals_state(spark, sf_dir, max_files_per_trigger=2)
    ev = load_table(spark, sf_dir, "events")
    batch = ev.groupBy("user_id").agg(
        F.sum(F.floor(F.col("value") * 100)).alias("total_cents"),
        F.count(F.lit(1)).alias("n_events"),
    )
    s = streamed.select("user_id", "total_cents", "n_events")
    assert s.exceptAll(batch).count() == 0
    assert batch.exceptAll(s).count() == 0



def test_revenue_share_sums_and_rank(spark, tmp_path):
    t0 = dt.datetime(2024, 1, 1)
    _write(spark, tmp_path, "region", [(0, "R0"), (1, "R1")],
           "r_regionkey int, r_name string")
    _write(spark, tmp_path, "nation",
           [(0, "NA", 0), (1, "NB", 0), (2, "NC", 1)],
           "n_nationkey int, n_name string, n_regionkey int")
    _write(spark, tmp_path, "customer",
           [(1, "a", 0, 0.0, "S"), (2, "b", 1, 0.0, "S"), (3, "c", 2, 0.0, "S")],
           "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
           "c_mktsegment string")
    _write(spark, tmp_path, "orders",
           [(10, 1, "O", 3.0, t0, "P"), (11, 2, "O", 1.0, t0, "P"),
            (12, 3, "O", 2.0, t0, "P")],
           "o_orderkey long, o_custkey long, o_orderstatus string, "
           "o_totalprice double, o_orderdate timestamp, o_orderpriority string")
    got = {r["nation"]: r for r in
           QUERIES["revenue_share_within_region"](spark, str(tmp_path)).collect()}
    assert got["NA"]["share_ppm"] == 750_000 and got["NA"]["rank_in_region"] == 1
    assert got["NB"]["share_ppm"] == 250_000 and got["NB"]["rank_in_region"] == 2
    assert got["NC"]["share_ppm"] == 1_000_000  # alone in its region


def test_trimmed_mean_drops_tails(spark, tmp_path):
    # 10 values 1..10 dollars: trim drops rank 1 and rank 10 exactly
    # (rn*10 > 10 fails for rn=1; (10-rn)*10 >= 10 fails for rn=10),
    # keeping 2..9 -> mean = 5.5 dollars = 550 cents.
    rows = [(i, t, 1, "view", float(i), "{}")
            for i, t in zip(range(1, 11),
                            [dt.datetime(2024, 1, 1, 0, m) for m in range(10)])]
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    (r,) = QUERIES["trimmed_mean_by_type"](spark, str(tmp_path)).collect()
    assert r["n_kept"] == 8
    assert r["kept_cents"] == sum(i * 100 for i in range(2, 10))
    assert r["trimmed_mean_ppm"] == r["kept_cents"] * 1_000_000 // 8


def test_mad_outliers_robust_to_whale(spark, tmp_path):
    # 9 values at $1.00 + one at $100.00: median 100c, MAD 0 ->
    # the whale (ad 9900 > 0) is the only outlier. The 3-sigma rule
    # on the same data would also fire, but MAD stays fixed if the
    # whale grows 100x (the robustness property).
    rows = [(i, dt.datetime(2024, 1, 1, 0, i), 1, "view", 1.0, "{}")
            for i in range(9)]
    rows.append((99, dt.datetime(2024, 1, 1, 0, 30), 2, "view", 100.0, "{}"))
    _write(spark, tmp_path, "events", rows, EV_SCHEMA)
    (r,) = QUERIES["mad_outlier_flags"](spark, str(tmp_path)).collect()
    assert r["median_cents"] == 100 and r["mad_cents"] == 0
    assert r["n_outliers"] == 1


if __name__ == "__main__":
    raise SystemExit(pytest.main([__file__, "-q"]))
