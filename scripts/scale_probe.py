"""Scaling probe: measure headline operators at a synthetic ~sf1
(10× the largest shipped fixture) to back the linear-scaling claims
in BASELINE.md with data.

Replica count overridable via SPARK_GRAFT_REPLICAS. Builds `.tmp/scale/sf1x/{events,documents}.parquet` by replicating the
sf0.1 fixtures 10× with shifted keys (user_id/event_id/doc_id offsets
so the grouping-key cardinality scales with the data — the honest case
for sessionization and dedup; text gets a per-replica suffix so
minhash sees distinct docs, not 10 exact copies). Then times the
events/documents-backed headline queries at both scales with the same
noop-write full materialization as bench.py and prints one JSON line.

Usage: python scripts/scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_SF = "/root/testdata/sf0.1"
REPLICAS = int(os.environ.get("SPARK_GRAFT_REPLICAS", "10"))
PROBE_QUERIES = [
    "sessionize_visits",
    "sessionize_hits",
    "tumbling_window_counts",
    "window_lag_event_gaps",
    "minhash_signatures",
    "dedup_exact_groups",
    "doc_token_stats",
    "dedup_connected_components",
    "tfidf_top_terms",
    "token_entropy",
    "rolling_1h_user_value",
    "cdc_merge_latest_state",
    # round-5 additions (documents/events-backed)
    "session_path_3grams",
    "minhash_realistic_near_dup_pairs",
    "decontaminate_train_docs",
    "pack_training_sequences",
    # round-6 additions: events-backed analytics depth…
    "window_funnel_depths",
    "position_based_attribution",
    "rolling_7day_active_users",
    "longest_daily_streaks",
    "bot_detection_flags",
    "incremental_sessionize_visits",
    # …documents-backed retrieval/LM…
    "bm25_doc_ranking",
    "bigram_lm_surprisal_scores",
    "phrase_search_positions",
    # …and lineitem-backed graph/itemset heavyweights (disjoint-shard
    # replication: orderkeys AND partkeys shift, so the co-purchase
    # graph grows as 10 disjoint shards — the "more data, more
    # entities" case, matching the user_id convention above).
    "association_rules_pairs",
    "triangle_count_copurchase",
    "kcore_copurchase_parts",
    "bfs_hops_copurchase",
    # round-6 session-2 additions: events-backed statistics/journeys…
    "spearman_value_time_by_type",
    "markov_removal_attribution",
    "dwell_time_by_type",
    "peak_concurrent_sessions_daily",
    "nearest_purchase_to_signup",
    "auc_mann_whitney",
    "user_event_mix_impurity",
    # …documents-backed corpus audits…
    "cross_source_overlap_matrix",
    "vocab_coverage_curve",
    # …and the lineitem-backed CF serving table (disjoint shards).
    "item_cosine_similarity_top3",
    # round-6 session-2 late additions: nonparametric statistics +
    # growth accounting + sketch-powered rolling distinct.
    "ks_two_sample_by_type",
    "mann_whitney_shift_by_type",
    "audience_overlap_matrix",
    "dau_mau_stickiness",
    "hll_rolling_mau",
    "session_length_percentiles",
    "skip_bigram_type_pairs",
    "ngram_containment_pairs",
    # round-7 additions (r6 verdict item 6): the remaining heavy tier —
    # weighted SSSP (Bellman-Ford over the disjoint-shard co-purchase
    # graph), SemDeDup (embeddings replicate with a per-replica
    # first-dim nudge so copies are distinct-but-near vectors), and
    # the mutual-best-match reciprocal-top-1 join.
    "copurchase_weighted_distances",
    "semdedup_semantic_dups",
    "mutual_best_match_parts",
    # round-8 additions (r7 verdict item 4): the newest un-probed
    # shapes — the Shapley 16-coalition lattice, HITS power rounds
    # (orders ⋈ lineitem, disjoint shards), the recursive-CTE pair
    # (calendar-bounded recursion over a persisted daily spine), the
    # GSP ≤125-pattern broadcast grid, the Poisson-bootstrap ×100
    # explode, the link-prediction wedge join, and the df-capped
    # LSH-recall truth join.
    "shapley_attribution",
    "hits_copurchase_authorities",
    "ewma_daily_revenue",
    "holt_linear_backtest",
    "frequent_event_sequences",
    "poisson_bootstrap_ci",
    "link_prediction_common_neighbors",
    "lsh_recall_vs_truth",
    # round-8 additions probed the round they landed (not deferred to
    # a verdict ask): the KM recursion, the Apriori GSP chain, the
    # exact max-gap scan, the CM sketch build, Holt–Winters, the
    # calibration/uplift band rollups, and nDCG's double retrieval.
    "km_survival_curve",
    "gsp_apriori_sequences",
    "time_windowed_sequence_support",
    "count_min_heavy_hitters",
    "holt_winters_dow_backtest",
    "score_calibration_by_band",
    "t_closeness_audit",
    "ndcg_at_10_ann",
    "streaming_count_min_sketch",
    "zipf_doubling_profile",
    "median_ci_by_type",
    "mmr_diversified_top3",
    "cmh_stratified_lift",
    "bh_fdr_segment_ztests",
    "hodges_lehmann_shift",
    "obf_sequential_looks",
    "kmv_intersection_estimate",
    "streaming_obf_monitor",
    "rec_hitrate_temporal_holdout",
    "community_modularity",
    "nav_conditional_entropy",
    "logrank_conversion_by_arm",
    "dedup_threshold_sensitivity",
    # round-8 close-out additions: the constant-lattice PAVA fit, the
    # triangle-sharing clustering coefficient, the order-2 entropy
    # window pass, and the FD audit's five two-level rollups.
    "isotonic_calibration_pava",
    "clustering_coefficient_parts",
    "markov_order2_gain",
    "functional_dependency_audit",
    "adamic_adar_link_prediction",
    "link_prediction_common_neighbors",
    "silhouette_by_label",
    "sorted_neighborhood_dup_pairs",
    "psm_matched_lift",
    "log_odds_distinctive_terms",
    "demand_diversity_parts",
    "rocchio_prf_expansion",
    "segment_priority_association",
    "audio_zcr_profile",
    "moment_stats_by_type",
    # round-9 additions: the header-driven stereo demux and the
    # variable-length JPEG marker walk.
    "audio_stereo_channel_profile",
    "jpeg_dimension_parse",
    # round-9 second-audit-pass conversions: the distributed RFM
    # quintiles (3 range-partitioned ntiles over users), the ABC
    # cumulative-revenue walk (distributed running sum over parts),
    # and the skyline running max over the growing price×size grid.
    "rfm_segments",
    "abc_classification_parts",
    "skyline_parts_price_size",
    # round-9 int64-widening sweep: probe each widened query at 10×
    # so the decimal(38,0) intermediates are exercised past the old
    # overflow line (the class the ABC probe found).
    "trimmed_mean_by_type",
    "winsorized_mean_by_type",
    "revenue_share_within_region",
    "cohort_revenue_matrix",
    "dow_seasonality_index",
    "user_event_mix_impurity",
    "next_action_diversity",
    "truncation_loss_report",
    # round-11 additions: the data-scale shapes (the scalar stat
    # readouts — kappa/KW/CA/croston — collapse to ≤5-row tables
    # before any heavy op and ride the --all probe instead).
    "scd2_user_value_bands",
    "locf_daily_user_value",
    "reservoir_sample_per_type",
    "pagerank_copurchase",
    "pq_quantization_error_by_label",
    "bm25_embedding_rerank",
    "harmonic_centrality_seeds",
    "data_contract_violations",
    "k_anon_generalize_step",
    "cramer_von_mises_two_sample",
    # round-13 additions: the byte-order-switching TIFF walk (per-doc,
    # expect ~1), the winnowing posting-list pair join (df-capped —
    # pair output grows with planted dup density), the Hampel
    # calendar-spine self-join (days, not orders — expect ~1), and
    # the reworked inequality-gated sketch pair (the exact-referee
    # arm is the part that scales).
    "exif_tiff_meta",
    "winnowing_candidate_pairs",
    "hampel_outlier_daily_revenue",
    "approx_count_distinct_users",
    "approx_value_percentiles",
    # the time-series similarity tier: word index (bounded calendar
    # window -> cost ~ users) and the SAX-blocked DTW pair join
    # (pair count capped per word block).
    "sax_shape_clusters",
    "dtw_similar_user_pairs",
    "mrr_at_10_ann",
]


def build_scaled_fixture(spark, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.sources.tables import (
        ensure_nanos_conf,
    )

    ensure_nanos_conf(spark)
    os.makedirs(out_dir, exist_ok=True)

    # embeddings joined the probe in round 7: build it even when an
    # older _READY fixture already has the other three tables. Copies
    # get a deterministic per-replica nudge on dim 0 so they are
    # distinct-but-near vectors (10 exact clones would quadratically
    # inflate SemDeDup's within-cluster pair count instead of scaling
    # the corpus — the same honesty convention as the doc-text suffix).
    emb_out = f"{out_dir}/embeddings.parquet"
    if not os.path.exists(emb_out):
        emb = spark.read.parquet(f"{BASE_SF}/embeddings.parquet")
        n_vecs = emb.agg(F.max("vec_id")).first()[0] + 1
        eparts = [
            emb.select(
                (F.col("vec_id") + i * n_vecs).alias("vec_id"),
                F.concat(
                    F.array(
                        (
                            F.element_at("embedding", 1)
                            + F.lit(i * 1e-3)
                        ).cast("float")
                    ),
                    F.slice("embedding", 2, 10_000),
                ).alias("embedding"),
                "label",
            )
            for i in range(REPLICAS)
        ]
        escaled = eparts[0]
        for p in eparts[1:]:
            escaled = escaled.unionAll(p)
        escaled.repartition(32).write.mode("overwrite").parquet(emb_out)

    # orders joined the probe in round 8 (HITS reads orders ⋈
    # lineitem): scale it even when an older _READY fixture already
    # has the other tables. The orderkey offset MUST match the one
    # lineitem scaling used (max l_orderkey + 1) or the join keys
    # tear apart across replicas — the fixtures ship with
    # max(o_orderkey) == max(l_orderkey), asserted here.
    ord_out = f"{out_dir}/orders.parquet"
    if not os.path.exists(ord_out):
        o = spark.read.parquet(f"{BASE_SF}/orders.parquet")
        li0 = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
        n_ok = o.agg(F.max("o_orderkey")).first()[0] + 1
        n_ok_li = li0.agg(F.max("l_orderkey")).first()[0] + 1
        assert n_ok == n_ok_li, (n_ok, n_ok_li)
        n_ck = o.agg(F.max("o_custkey")).first()[0] + 1
        ocols = [c for c in o.columns if c not in ("o_orderkey", "o_custkey")]
        oparts = [
            o.select(
                (F.col("o_orderkey") + i * n_ok).alias("o_orderkey"),
                (F.col("o_custkey") + i * n_ck).alias("o_custkey"),
                *ocols,
            )
            for i in range(REPLICAS)
        ]
        oscaled = oparts[0]
        for p in oparts[1:]:
            oscaled = oscaled.unionAll(p)
        oscaled.repartition(32).write.mode("overwrite").parquet(ord_out)

    # customer joined the probe in round 8 (t_closeness_audit):
    # c_custkey shifts per replica; the QI columns (nationkey,
    # segment) are kept verbatim so equivalence classes GROW with the
    # data — the honest audit case (class n and table N both 10× ⇒
    # identical t, 10× the rows to prove it on).
    cust_out = f"{out_dir}/customer.parquet"
    if not os.path.exists(cust_out):
        cst = spark.read.parquet(f"{BASE_SF}/customer.parquet")
        n_cst = cst.agg(F.max("c_custkey")).first()[0] + 1
        ccols = [c for c in cst.columns if c != "c_custkey"]
        cparts = [
            cst.select(
                (F.col("c_custkey") + i * n_cst).alias("c_custkey"), *ccols
            )
            for i in range(REPLICAS)
        ]
        cscaled = cparts[0]
        for p in cparts[1:]:
            cscaled = cscaled.unionAll(p)
        cscaled.repartition(32).write.mode("overwrite").parquet(cust_out)

    # part joined the probe in round 9 (the skyline sweep reads it):
    # p_partkey shifts per replica, and p_retailprice gets a
    # deterministic per-replica cent nudge so the DISTINCT
    # (price_cents, size) grid grows with the data — replicating
    # identical prices 10× would only inflate the per-point counts
    # and leave the skyline's actual input (the grid) fixed, the same
    # honesty convention as the doc-text suffix and the embedding
    # first-dim nudge. The partkey offset matches lineitem's
    # (max l_partkey + 1 == max p_partkey + 1 in the shipped
    # fixtures) so part ⋈ lineitem keys stay aligned per replica.
    # region/nation joined the probe in round 9 (the within-region
    # revenue share reads them): spec-CONSTANT enum dims (5/25 rows
    # at every SF), copied verbatim — scaling them would be wrong.
    import shutil as _shutil

    # supplier copies verbatim too, but for a different reason: the
    # lineitem replicas shift l_orderkey/l_partkey and keep l_suppkey
    # as-is (every shard references the ORIGINAL suppliers), so a
    # shifted supplier table would orphan every join key. Documented
    # trade: supplier cardinality is frozen in the probe fixture.
    for enum_tbl in ("region", "nation", "supplier"):
        enum_out = f"{out_dir}/{enum_tbl}.parquet"
        if not os.path.exists(enum_out):
            src = f"{BASE_SF}/{enum_tbl}.parquet"
            if os.path.isdir(src):
                _shutil.copytree(src, enum_out)
            else:
                _shutil.copyfile(src, enum_out)

    part_out = f"{out_dir}/part.parquet"
    if not os.path.exists(part_out):
        prt = spark.read.parquet(f"{BASE_SF}/part.parquet")
        n_prt = prt.agg(F.max("p_partkey")).first()[0] + 1
        # the part offset must equal lineitem's replication offset
        # (max l_partkey + 1) or every replica's part ⋈ lineitem keys
        # silently orphan; assert instead of assuming the fixture
        # keeps max(p_partkey) == max(l_partkey).
        n_li_part = (
            spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
            .agg(F.max("l_partkey"))
            .first()[0]
            + 1
        )
        assert n_prt == n_li_part, (
            f"part replica offset {n_prt} != lineitem's {n_li_part}; "
            "fixture changed - align the offsets or the probe joins break"
        )
        price_type = dict(prt.dtypes)["p_retailprice"]
        pcols = [
            c for c in prt.columns if c not in ("p_partkey", "p_retailprice")
        ]
        pparts = [
            prt.select(
                (F.col("p_partkey") + i * n_prt).alias("p_partkey"),
                # keep the nudged price on the source column's exact
                # type - a bare float literal would coerce the whole
                # column to double and drift cents at 10x
                (F.col("p_retailprice") + i * 0.01)
                .cast(price_type)
                .alias("p_retailprice"),
                *pcols,
            )
            for i in range(REPLICAS)
        ]
        pscaled = pparts[0]
        for p in pparts[1:]:
            pscaled = pscaled.unionAll(p)
        pscaled.repartition(32).write.mode("overwrite").parquet(part_out)

    if os.path.exists(os.path.join(out_dir, "_READY")):
        return

    events = spark.read.parquet(f"{BASE_SF}/events.parquet")
    n_users = events.agg(F.max("user_id")).first()[0] + 1
    n_events = events.agg(F.max("event_id")).first()[0] + 1
    parts = [
        events.select(
            (F.col("event_id") + i * n_events).alias("event_id"),
            "ts",
            (F.col("user_id") + i * n_users).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(REPLICAS)
    ]
    scaled = parts[0]
    for p in parts[1:]:
        scaled = scaled.unionAll(p)
    scaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/events.parquet"
    )

    docs = spark.read.parquet(f"{BASE_SF}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    dparts = [
        docs.select(
            (F.col("doc_id") + i * n_docs).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        for i in range(REPLICAS)
    ]
    dscaled = dparts[0]
    for p in dparts[1:]:
        dscaled = dscaled.unionAll(p)
    dscaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )

    li = spark.read.parquet(f"{BASE_SF}/lineitem.parquet")
    n_orders = li.agg(F.max("l_orderkey")).first()[0] + 1
    n_parts = li.agg(F.max("l_partkey")).first()[0] + 1
    other_cols = [c for c in li.columns if c not in ("l_orderkey", "l_partkey")]
    lparts = [
        li.select(
            (F.col("l_orderkey") + i * n_orders).alias("l_orderkey"),
            (F.col("l_partkey") + i * n_parts).alias("l_partkey"),
            *other_cols,
        )
        for i in range(REPLICAS)
    ]
    lscaled = lparts[0]
    for p in lparts[1:]:
        lscaled = lscaled.unionAll(p)
    lscaled.repartition(32).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )
    with open(os.path.join(out_dir, "_READY"), "w") as f:
        f.write("ok")


def skew_probe(spark) -> dict:
    """Planted-whale skew probe: sf0.1 events + ONE synthetic user with
    ~2M hits at 1-second cadence (one mega-session; override
    $SPARK_GRAFT_WHALE_HITS). Times the sessionizer, whose user-key
    shuffle lands the whole whale on ONE reducer, through a full noop
    materialization."""
    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        sessionize_visits,
    )
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    whale_hits = int(os.environ.get("SPARK_GRAFT_WHALE_HITS", "2000000"))
    events = load_table(spark, BASE_SF, "events").select("user_id", "ts")
    whale_id = events.agg(F.max("user_id")).first()[0] + 1
    base_us = events.agg(F.min(F.unix_micros("ts"))).first()[0]
    whale = spark.range(whale_hits).select(
        F.lit(whale_id).alias("user_id"),
        F.timestamp_micros(
            F.lit(base_us) + F.col("id") * F.lit(1_000_000)
        ).alias("ts"),
    )
    df = events.unionByName(whale)
    t0 = time.perf_counter()
    sessionize_visits(df).write.format("noop").mode("overwrite").save()
    out = {"whale_hits": whale_hits, "plain_sec": round(time.perf_counter() - t0, 3)}
    print(f"# skew plain: {out['plain_sec']}s", file=sys.stderr)
    return out


def recursion_depth_probe(spark) -> dict:
    """Depth-scaling probe for the recursive-CTE family (EWMA, Holt,
    KM, Holt–Winters): the 10× data probe scales ROWS, but recursion
    depth is CALENDAR DAYS — a different axis. This times the KM
    product shape (join per step over a materialized spine, the house
    staging pattern) at depths 30/120/480 and reports per-step cost:
    linear total ⇔ flat per-step. r9 measurement (local[32], warm):
    ~216/164/155 ms per step — per-step cost is the scheduler/plan-
    iteration floor of one tiny join job, CONSTANT in depth, so total
    wall is O(depth). A year-deep recursion is ~55 s of pure stepping
    regardless of data size; acceptable because depth is calendar-
    bounded and independent of the 100 TB axis."""
    import tempfile

    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.cteRecursionLevelLimit", "1000")
    base = tempfile.mkdtemp(prefix="depth_probe_")
    out: dict[str, dict[str, float]] = {}
    for n in (30, 120, 480):
        p = os.path.join(base, f"hz{n}")
        spark.range(n).select(
            F.col("id").alias("t"),
            ((F.col("id") * 37) % 1000).alias("hazard_ppm"),
        ).write.mode("overwrite").parquet(p)
        spark.read.parquet(p).createOrReplaceTempView("hz_probe")
        sql = """
WITH RECURSIVE km AS (
    SELECT t, hazard_ppm, (1000000 - hazard_ppm) AS survival_ppm
    FROM hz_probe WHERE t = 0
    UNION ALL
    SELECT h.t, h.hazard_ppm,
           (k.survival_ppm * (1000000 - h.hazard_ppm)) div 1000000
    FROM km k JOIN hz_probe h ON h.t = k.t + 1
)
SELECT COUNT(*) c, MIN(survival_ppm) s FROM km
"""
        res = {}
        for label in ("cold", "warm"):
            t0 = time.perf_counter()
            assert spark.sql(sql).collect()[0][0] == n
            dt = time.perf_counter() - t0
            res[label] = round(dt, 2)
            res[f"{label}_per_step_ms"] = round(1000 * dt / n, 1)
        out[str(n)] = res
        print(f"# depth {n}: {res}", file=sys.stderr)
    return out


def streaming_state_probe(spark, scaled_dir: str) -> dict:
    """Streaming STATE scaling probe: replay three representative
    stateful topologies (session_window agg, watermarked dedup,
    stream-stream interval join) at sf0.1 and the 10× fixture and
    read the state-operator metrics off the final progress — the
    axis the data-scale probe's wall-clock alone cannot pin. The
    claim under test: PEAK state rows are WATERMARK-BOUNDED (they
    scale with keys active inside one watermark horizon, ~linearly
    with the key universe here because replay files arrive in fixture
    order), eviction keeps pace at 10× (removed ≫ residual), and
    wall stays ≤ linear. Checkpoint + sink dirs are cleared per run
    (staged replay input is kept) so the stream genuinely re-executes
    instead of reading the previous run's sink back."""
    import shutil

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.streaming import replay

    probes = {
        "streaming_sessionize_visits": "streaming_sessionize_visits",
        "streaming_dedup_events": "streaming_dedup_events",
        "streaming_interval_join": "streaming_interval_join_inner",
    }
    out: dict[str, dict] = {}
    for sf_name, sf_dir in (("sf0.1", BASE_SF), ("sf1x", scaled_dir)):
        per: dict[str, dict] = {}
        for qname, wname in probes.items():
            workdir = replay.replay_workdir(wname, sf_dir)
            for sub in ("ckpt", "out"):
                shutil.rmtree(
                    os.path.join(workdir, sub), ignore_errors=True
                )
            t0 = time.perf_counter()
            n = QUERIES[qname](spark, sf_dir).count()
            per[qname] = {
                "sec": round(time.perf_counter() - t0, 3),
                "out_rows": n,
                **dict(replay.LAST_APPEND_PROGRESS),
            }
            print(f"# stream-state {sf_name} {qname}: {per[qname]}",
                  file=sys.stderr)
        out[sf_name] = per
    return out


def chunked_sessionize_probe(
    spark, sf_dir: str, n_chunks: int, label: str
) -> dict:
    """Watermark-BOUNDED-state demonstration: the append replays feed
    availableNow one big batch, so their peak state holds the whole
    key universe and eviction all happens at the sentinel — correct
    for the equality gates, but it demonstrates nothing about state
    bounds. This variant stages the events fixture as ``n_chunks``
    TIME-CONTIGUOUS files (written sequentially, so mtime order =
    event-time order — the file source's processing order), replays
    the same session_window topology with ``maxFilesPerTrigger=1``,
    and reads the PEAK state off the progress. Expected: peak ≈ the
    sessions open inside one chunk horizon (+watermark lag) — it
    shrinks as n_chunks grows and is a small fraction of the corpus,
    the production property that makes 100 TB streaming state
    feasible at all."""
    import datetime

    from pyspark.sql import functions as F

    from web_analytics_visits_re_processing_spark.operators.sessionize import (
        DEFAULT_GAP_SECONDS,
    )
    from web_analytics_visits_re_processing_spark.sources.tables import (
        load_table,
    )
    from web_analytics_visits_re_processing_spark.streaming import replay
    from web_analytics_visits_re_processing_spark.streaming.sessionize_stream import (
        sessionize_stream,
    )

    workdir = os.path.join(REPO, ".tmp", "stream_chunked", label)
    input_dir = os.path.join(workdir, "input")
    import shutil

    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(input_dir)
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "value"
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    span = (hi - lo) / n_chunks
    scratch = os.path.join(workdir, "scratch")
    for i in range(n_chunks):
        a = lo + i * span
        b = hi + datetime.timedelta(seconds=1) if i == n_chunks - 1 \
            else lo + (i + 1) * span
        part = os.path.join(scratch, f"c{i}")
        (
            ev.where((F.col("ts") >= a) & (F.col("ts") < b))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part)
        )
        pf = [f for f in os.listdir(part) if f.endswith(".parquet")][0]
        os.rename(
            os.path.join(part, pf),
            os.path.join(input_dir, f"part-{i:05d}.parquet"),
        )
    # sentinel chunk last: flushes the final watermark like the house
    # replay staging does.
    spark.createDataFrame(
        [(hi + datetime.timedelta(days=10), replay.SENTINEL_USER_ID, 0.0)],
        "ts timestamp, user_id long, value double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(scratch, "sent")
    )
    sf = [
        f
        for f in os.listdir(os.path.join(scratch, "sent"))
        if f.endswith(".parquet")
    ][0]
    os.rename(
        os.path.join(scratch, "sent", sf),
        os.path.join(input_dir, "part-zz-sentinel.parquet"),
    )
    events = replay._read_replay_stream(spark, input_dir, max_files_per_trigger=1)
    visits = sessionize_stream(events, DEFAULT_GAP_SECONDS, "1 hour")
    t0 = time.perf_counter()
    out, stats = replay._run_append(visits, workdir)
    n = (
        spark.read.parquet(out)
        .where(F.col("user_id") != replay.SENTINEL_USER_ID)
        .count()
    )
    res = {
        "sec": round(time.perf_counter() - t0, 3),
        "n_chunks": n_chunks,
        "out_rows": n,
        **stats,
    }
    print(f"# chunked {label}: {res}", file=sys.stderr)
    return res


def main() -> None:
    """Optional argv: query names to probe (subset of PROBE_QUERIES);
    ``--skip-skew`` drops the whale probe; ``--depth-only`` runs just
    the recursion-depth probe; ``--streaming-state`` runs just the
    streaming state-scaling probe. No argv = full battery."""
    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.session import get_spark

    if "--depth-only" in sys.argv[1:]:
        from web_analytics_visits_re_processing_spark.session import get_spark

        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark = get_spark(
            app_name="depth-probe", master=f"local[{cpus}]",
            extra_conf={"spark.sql.shuffle.partitions": str(max(cpus, 32))},
        )
        print(json.dumps(
            {"recursion_depth_probe": recursion_depth_probe(spark)}
        ))
        return

    if "--streaming-state" in sys.argv[1:]:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark = get_spark(
            app_name="stream-state-probe", master=f"local[{cpus}]",
            extra_conf={"spark.sql.shuffle.partitions": str(max(cpus, 32))},
        )
        spark.range(1000).count()
        scaled_dir = os.path.join(REPO, ".tmp", "scale", "sf1x")
        build_scaled_fixture(spark, scaled_dir)
        payload = {
            "streaming_state_probe": streaming_state_probe(
                spark, scaled_dir
            ),
            "chunked_sessionize": {
                "sf0.1_c4": chunked_sessionize_probe(
                    spark, BASE_SF, 4, "sf01_c4"
                ),
                "sf0.1_c16": chunked_sessionize_probe(
                    spark, BASE_SF, 16, "sf01_c16"
                ),
                "sf1x_c16": chunked_sessionize_probe(
                    spark, scaled_dir, 16, "sf1x_c16"
                ),
            },
        }
        print(json.dumps(payload))
        return

    argv = [
        a for a in sys.argv[1:] if a not in ("--skip-skew", "--all")
    ]
    run_skew = "--skip-skew" not in sys.argv[1:]
    if "--all" in sys.argv[1:]:
        # full-registry leg: execute EVERY registered query at both
        # scales — the generic detector for overflow/quadratic
        # classes the curated list misses (the ABC find's lesson).
        # Errors are per-query, never fatal, and land in the payload.
        probe = list(QUERIES)
    else:
        probe = argv if argv else PROBE_QUERIES

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name="scale-probe",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(cpus, 32))},
    )
    spark.range(1000).count()

    scaled_dir = os.path.join(REPO, ".tmp", "scale", "sf1x")
    build_scaled_fixture(spark, scaled_dir)

    out: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    for sf_name, sf_dir in (("sf0.1", BASE_SF), ("sf1x", scaled_dir)):
        timings = {}
        for name in probe:
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001 — diagnostic sweep
                msg = str(e).splitlines()[0][:300] if str(e) else repr(e)
                errors[f"{sf_name}:{name}"] = msg
                print(f"# {sf_name} {name}: ERROR {msg}", file=sys.stderr)
                continue
            timings[name] = round(time.perf_counter() - t0, 3)
            print(f"# {sf_name} {name}: {timings[name]}s", file=sys.stderr)
        out[sf_name] = timings

    ratios = {
        q: round(out["sf1x"][q] / out["sf0.1"][q], 2)
        for q in probe
        if q in out["sf1x"] and q in out["sf0.1"] and out["sf0.1"][q] > 0
    }
    payload = {
        "replicas": REPLICAS,
        "timings": out,
        "ratio_10x_data": ratios,
        "errors": errors,
    }
    if run_skew:
        payload["skew_probe"] = skew_probe(spark)
    print(json.dumps(payload))


if __name__ == "__main__":
    main()
