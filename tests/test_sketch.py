"""Count-min sketch properties, deterministic per-group sampling, and
the approx-percentile error bound (the rows-only gate entry's
correctness pin)."""

from __future__ import annotations

from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sketch import (
    cms_estimate,
    count_min_table,
)
from web_analytics_visits_re_processing_spark.sources.tables import load_table


def test_cms_upper_bounds_and_bounded_size(spark):
    """Estimates never undercount (min over rows of inflate-only
    buckets), and the sketch table is ≤ depth×width rows even when
    keys ≫ width (forced collisions)."""
    n_keys, reps = 500, 7
    df = spark.range(n_keys * reps).select(
        (F.col("id") % n_keys).cast("string").alias("k")
    )
    cms = count_min_table(df, "k", depth=4, width=64)
    assert cms.count() <= 4 * 64
    keys = df.distinct()
    est = cms_estimate(cms, keys, "k", depth=4, width=64)
    bad = est.where(F.col("cms_estimate") < reps).count()
    assert bad == 0  # every true count is `reps`; estimates only inflate
    # and with 500 keys in 64 buckets, collisions must inflate SOME key
    assert est.where(F.col("cms_estimate") > reps).count() > 0


def test_cms_exact_when_no_collisions(spark):
    """Few keys in a wide sketch ⇒ estimates are exact."""
    df = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1, "k string"
    )
    cms = count_min_table(df, "k", depth=4, width=64)
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(cms, df.distinct(), "k").collect()
    }
    assert est == {"a": 5, "b": 3, "c": 1}


def test_cms_unseen_keys_count_empty_buckets_as_zero(spark):
    """Canonical CMS takes the min over ALL depth counters, counting
    absent (j, bucket) rows as 0 — a probe for a key never built into
    the sketch must return estimate 0 (or the honest collision count),
    not vanish or inflate because the inner join dropped its empty
    buckets."""
    build = spark.createDataFrame([("a",)] * 5 + [("b",)] * 3, "k string")
    cms = count_min_table(build, "k", depth=4, width=64)
    # width 64 with 2 built keys: an unseen key collides with a built
    # bucket in all 4 rows with probability ~ (2/64)^4 ≈ 1e-6 — these
    # probes land on at least one empty bucket, so the min must be 0.
    probes = spark.createDataFrame([("zz",), ("unseen",), ("a",)], "k string")
    est = {
        r["k"]: r["cms_estimate"]
        for r in cms_estimate(cms, probes, "k").collect()
    }
    assert set(est) == {"zz", "unseen", "a"}, "no probe key may vanish"
    assert est["a"] == 5
    assert est["zz"] == 0 and est["unseen"] == 0


def test_per_source_sample_exactly_k(spark, sf_dir):
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    sample = QUERIES["per_source_doc_sample"](spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    per_group = {
        r["source"]: r["n"]
        for r in sample.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    sizes = {
        r["source"]: r["n"]
        for r in docs.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_group == {s: min(3, n) for s, n in sizes.items()}


def test_approx_percentiles_within_bound(spark, sf_dir):
    """GK sketch with accuracy A guarantees rank error ≤ n/A; assert
    the approximate p50/p95 sit within the exact values at the
    rank-shifted quantiles (the sketch's actual contract, tighter in
    practice)."""
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    import math

    ev = load_table(spark, sf_dir, "events")
    approx = {
        r["event_type"]: (r["p50_approx"], r["p95_approx"])
        for r in ev.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50_approx"),
            F.percentile_approx("value", 0.95, 10000).alias("p95_approx"),
        )
        .collect()
    }
    # the gate itself now emits the inequality flags (r12 verdict
    # item 2) — every group must report both ranks in bound
    for r in QUERIES["approx_value_percentiles"](spark, sf_dir).collect():
        assert (r["p50_rank_ok"], r["p95_rank_ok"]) == (1, 1), r
    for etype, (p50a, p95a) in approx.items():
        vals = sorted(
            r["value"]
            for r in ev.where(F.col("event_type") == etype).select("value").collect()
        )
        n = len(vals)
        eps = 1.0 / 10000  # rank fraction error = 1/accuracy
        for q, got in ((0.5, p50a), (0.95, p95a)):
            # GK returns an actual element whose RANK is within eps·n
            # of q·n (±1 rank of slack for the discrete boundary).
            lo = vals[max(math.floor((q - eps) * n) - 1, 0)]
            hi = vals[min(math.ceil((q + eps) * n) + 1, n - 1)]
            assert lo <= got <= hi, (etype, q, got, lo, hi)


def test_hll_mergeable_and_bounded(spark):
    """Register tables from disjoint slices merge by register-wise MAX
    into exactly the whole-data register table (the property that
    makes HLL reaggregatable across partitions/days), and the table
    is ≤ m rows however many distinct keys stream through."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        HLL_M,
        hll_registers,
    )

    df = spark.range(5000).select(F.col("id").cast("string").alias("k"))
    a = df.where(F.col("k").cast("long") % 2 == 0)
    b = df.where(F.col("k").cast("long") % 2 == 1)
    whole = hll_registers(df, "k")
    assert whole.count() <= HLL_M
    merged = (
        hll_registers(a, "k")
        .unionByName(hll_registers(b, "k"))
        .groupBy("r_idx")
        .agg(F.max("r_rho").alias("r_rho"))
    )
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_estimate_within_standard_error(spark):
    """m=64 ⇒ ~13% standard error; planting known cardinalities and
    asserting 3σ keeps the test deterministic (fixed hash, no RNG)."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    for n in (300, 3000):
        df = spark.range(n).select(F.col("id").cast("string").alias("k"))
        est = hll_estimate(hll_registers(df, "k")).collect()[0]
        e = est["hll_estimate_e4"] / 10000.0
        assert abs(e - n) / n < 0.40, (n, e)


def test_streaming_hll_state_bounded_and_equal_to_batch(spark, sf_dir):
    """The stream-built register table stays ≤ m rows per group and
    equals the batch build register-for-register (monotone max
    merge across micro-batches)."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        HLL_M,
        hll_registers,
    )
    from web_analytics_visits_re_processing_spark.plans.streaming_queries import (
        streaming_hll_state,
    )

    streamed = streaming_hll_state(spark, sf_dir, max_files_per_trigger=2)
    ev = load_table(spark, sf_dir, "events")
    batch = hll_registers(ev, "user_id", ("event_type",))
    n_groups = ev.select("event_type").distinct().count()
    assert streamed.count() <= HLL_M * n_groups
    s = streamed.select("event_type", "r_idx", "r_rho")
    assert s.exceptAll(batch).count() == 0
    assert batch.exceptAll(s).count() == 0


def test_histogram_quantiles_cumulative_rule(spark):
    """Planted distribution: 100 values 0.01..1.00 in one group ->
    p50 = bin 50 (cum 50 reaches n/2), p90 = 90, p99 = 99; a
    two-value group pins the smallest-bin-reaching-rank rule (p50 of
    {1.00, 2.00} is the FIRST bin with cum*2 >= n, i.e. 100)."""
    from pyspark.sql import functions as F

    rows = [("a", i / 100.0) for i in range(1, 101)]
    rows += [("b", 1.0), ("b", 2.0)]
    ev = spark.createDataFrame(rows, "event_type string, value double")
    from pyspark.sql import Window

    b = (
        ev.select("event_type", F.floor(F.col("value") * 100).cast("long").alias("bin"))
        .groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    wn = Window.partitionBy("event_type")
    cum = b.select(
        "event_type", "bin",
        F.sum("c").over(wc).alias("cum"), F.sum("c").over(wn).alias("n"),
    )
    out = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("bin"))).alias("p50"),
        F.min(F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("bin"))).alias("p90"),
        F.min(F.when(F.col("cum") * 100 >= F.col("n") * 99, F.col("bin"))).alias("p99"),
    )
    got = {r["event_type"]: (r["p50"], r["p90"], r["p99"]) for r in out.collect()}
    assert got["a"] == (50, 90, 99)
    assert got["b"] == (100, 200, 200)
