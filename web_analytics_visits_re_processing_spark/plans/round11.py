"""Round-11 additions: warehouse dimension maintenance (SCD Type-2
interval build, LOCF forward-fill over a calendar spine), a
deterministic per-group reservoir sample, annotation-agreement and
ordered-trend statistics (Cohen's kappa, Kruskal-Wallis with
histogram midranks, Cochran-Armitage), Croston intermittent-demand
forecasting, integer-exact PageRank over the co-purchase graph, and
the PQ quantization-error audit an ANN deployment monitors per ingest
batch.

House style: integer-exact arithmetic (ppm / e4 / e6 scaling with
truncating division on non-negative operands; explicit sign-split
where a statistic can go negative — DuckDB's ``//`` floors and
Spark's ``div`` truncates, and they only agree on non-negatives),
DuckDB oracles replaying the identical pipeline (PageRank rounds
unrolled, the Croston recursion verbatim), bounded driver state, and
scale notes per operator. Reference parity: the reference
(/root/reference/main.py:22-240) has none of this tier — all of it
belongs to SURVEY §2.2 gap categories (window/dimension ops,
statistics, forecasting, graph, ANN maintenance)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.sources.layout import staged
from web_analytics_visits_re_processing_spark.sources.tables import load_table

# --- SCD Type-2 dimension build -------------------------------------------------

_SCD2_ORACLE = """
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS cents
    FROM events GROUP BY 1, 2
), banded AS (
    SELECT user_id, d,
           CASE WHEN cents < 8000 THEN 'low'
                WHEN cents < 15000 THEN 'mid' ELSE 'high' END AS band
    FROM daily
), runs AS (
    SELECT user_id, d, band,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
           - ROW_NUMBER() OVER (PARTITION BY user_id, band ORDER BY d) AS grp
    FROM banded
), intervals AS (
    SELECT user_id, band, grp,
           MIN(d) AS vf, MAX(d) AS vt, COUNT(*)::BIGINT AS n_days
    FROM runs GROUP BY 1, 2, 3
)
SELECT user_id, band,
       strftime(vf, '%Y-%m-%d') AS valid_from,
       strftime(vt, '%Y-%m-%d') AS valid_to,
       n_days,
       CASE WHEN vt = MAX(vt) OVER (PARTITION BY user_id)
            THEN 1 ELSE 0 END AS is_current
FROM intervals
"""


@query("scd2_user_value_bands", oracle=_SCD2_ORACLE)
def q_scd2_user_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build — the warehouse-core operation CDC
    pipelines run nightly: per user, the daily-spend BAND (low/mid/
    high on integer cents) collapsed into validity intervals
    [valid_from, valid_to] with an is_current flag — one row per
    CONSECUTIVE run of equal attribute values, not per day (Kimball
    type-2 history). Runs come from the classic islands trick: the
    difference of two row_numbers (per user vs per user+band) is
    constant exactly within a run.

    Scale shape: the daily rollup is map-side-combinable; both
    row_number windows and the interval groupBy share ONE user-keyed
    exchange (user-partitioned windows — never unpartitioned); the
    is_current flag is a per-user max over the already-interval-grain
    frame. At 100 TB this is a single user-hash shuffle end to end."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
    banded = daily.select(
        "user_id",
        "d",
        F.when(F.col("cents") < 8000, "low")
        .when(F.col("cents") < 15000, "mid")
        .otherwise("high")
        .alias("band"),
    )
    wu = Window.partitionBy("user_id").orderBy("d")
    wub = Window.partitionBy("user_id", "band").orderBy("d")
    runs = banded.withColumn(
        "grp", F.row_number().over(wu) - F.row_number().over(wub)
    )
    intervals = runs.groupBy("user_id", "band", "grp").agg(
        F.min("d").alias("vf"),
        F.max("d").alias("vt"),
        F.count(F.lit(1)).alias("n_days"),
    )
    wcur = Window.partitionBy("user_id")
    return intervals.select(
        "user_id",
        "band",
        F.date_format("vf", "yyyy-MM-dd").alias("valid_from"),
        F.date_format("vt", "yyyy-MM-dd").alias("valid_to"),
        "n_days",
        F.when(F.col("vt") == F.max("vt").over(wcur), 1)
        .otherwise(0)
        .alias("is_current"),
    )


# --- LOCF forward-fill over the calendar spine -----------------------------------

_LOCF_ORACLE = """
WITH spine AS (SELECT DISTINCT CAST(ts AS DATE) AS d FROM events),
pu AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
obs AS (
    SELECT user_id, CAST(ts AS DATE) AS d,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), grid AS (
    SELECT pu.user_id, spine.d, o.cents
    FROM pu CROSS JOIN spine
    LEFT JOIN obs o ON o.user_id = pu.user_id AND o.d = spine.d
), grp AS (
    SELECT user_id, d, cents,
           COUNT(cents) OVER (PARTITION BY user_id ORDER BY d
                              ROWS UNBOUNDED PRECEDING) AS g
    FROM grid
)
SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
       MAX(cents) OVER (PARTITION BY user_id, g) AS cents_filled,
       CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END AS observed
FROM grp
"""


@query("locf_daily_user_value", oracle=_LOCF_ORACLE)
def q_locf_daily_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (LOCF — last observation carried forward) of each
    purchasing user's daily spend over the full observed calendar
    spine — the feature-engineering step that turns sparse event
    streams into dense per-entity daily features. The fill uses the
    PORTABLE two-window trick instead of ``last_value IGNORE NULLS``
    (whose null-handling syntax differs across engines): the running
    COUNT of non-nulls per user forms a carry group containing
    exactly one observation (its first row), so ``max`` within
    (user, group) IS the carried value; days before a user's first
    purchase stay NULL.

    Scale shape: the spine is day-grain (broadcast); the grid is
    users × days — linear in users with a bounded calendar factor;
    both windows and the grid join share one user-keyed exchange."""
    ev = load_table(spark, sf_dir, "events")
    spine = ev.select(F.to_date("ts").alias("d")).distinct()
    obs = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("cents"))
    )
    # the user universe derives from the observation rollup (purchase
    # users by definition) — no third fact scan
    pu = obs.select("user_id").distinct()
    grid = pu.crossJoin(F.broadcast(spine)).join(obs, ["user_id", "d"], "left")
    wg = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    grp = grid.withColumn("g", F.count("cents").over(wg))
    return grp.select(
        "user_id",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.max("cents").over(Window.partitionBy("user_id", "g")).alias(
            "cents_filled"
        ),
        F.when(F.col("cents").isNotNull(), 1).otherwise(0).alias("observed"),
    )


# --- deterministic per-group reservoir sample ------------------------------------

_RSV_K = 64

_RSV_ORACLE = f"""
WITH r AS (
    SELECT event_type, event_id, FLOOR(value * 100)::BIGINT AS cents,
           ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ('0x' || substring(md5(CAST(event_id AS VARCHAR)
                                               || '|rsv'), 1, 15))::BIGINT,
                        event_id) AS rk
    FROM events
)
SELECT event_type, rk::BIGINT AS rk, event_id, cents
FROM r WHERE rk <= {_RSV_K}
"""


@query("reservoir_sample_per_type", oracle=_RSV_ORACLE)
def q_reservoir_sample_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-size sample of k=64 rows PER GROUP — the
    debugging/eyeballing slice a pipeline keeps per source. Classic
    reservoir sampling is RNG-and-order-dependent (unreplayable);
    ranking by a salted portable hash of the row key gives the same
    uniform-without-replacement guarantee as a one-pass reservoir
    (any hash-order prefix of a uniform permutation is a uniform
    sample) while being idempotent and engine-exact — the same
    convention as ``weighted_sample_orders``.

    Scale shape: the per-type window is rank-limited to k, so Spark
    plans WindowGroupLimit — each task keeps a k-row heap per group
    BEFORE the exchange; the shuffle carries ≤ k rows per (partition,
    group), never the data."""
    from web_analytics_visits_re_processing_spark.functions.text import hash64

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        hash64(F.concat(F.col("event_id").cast("string"), F.lit("|rsv"))),
        "event_id",
    )
    return (
        ev.select(
            "event_type",
            "event_id",
            F.floor(F.col("value") * 100).cast("long").alias("cents"),
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .where(F.col("rk") <= _RSV_K)
        .select("event_type", "rk", "event_id", "cents")
    )


# --- Cohen's kappa between two heuristic labelers --------------------------------


def _kappa_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.llmdata import _SW_EN

    return f"""
WITH t AS (
    SELECT CASE WHEN len(string_split(text, ' ')) >= 50
                THEN 'keep' ELSE 'drop' END AS label_len,
           CASE WHEN len(list_filter(string_split(text, ' '),
                                     x -> x IN ({_SW_EN}))) * 100
                     >= len(string_split(text, ' ')) * 6
                THEN 'keep' ELSE 'drop' END AS label_sw
    FROM documents
), cm AS (
    SELECT label_len, label_sw, COUNT(*)::BIGINT AS n FROM t GROUP BY 1, 2
), tot AS (
    SELECT SUM(n)::BIGINT AS nn,
           SUM(CASE WHEN label_len = label_sw THEN n ELSE 0 END)::BIGINT
               AS agree
    FROM cm
), pe AS (
    SELECT COALESCE(SUM(a.an * b.bn), 0)::BIGINT AS pe_num
    FROM (SELECT label_len AS l, SUM(n)::BIGINT AS an FROM cm GROUP BY 1) a
    JOIN (SELECT label_sw AS l, SUM(n)::BIGINT AS bn FROM cm GROUP BY 1) b
      ON a.l = b.l
)
SELECT cm.label_len, cm.label_sw, cm.n,
       CAST(CASE WHEN tot.nn * tot.agree >= pe.pe_num THEN 1 ELSE -1 END
            * ((ABS(tot.nn * tot.agree - pe.pe_num) * 1000000)
               // GREATEST(tot.nn * tot.nn - pe.pe_num, 1)) AS BIGINT)
           AS kappa_ppm
FROM cm, tot, pe
"""


@query("cohens_kappa_labelers", oracle=_kappa_oracle())
def q_cohens_kappa_labelers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-annotator agreement (Cohen 1960) between two heuristic
    document-quality labelers — the calibration check an LLM-data
    pipeline runs before trusting cheap rule labelers as filters:
    labeler A keeps docs with ≥ 50 tokens, labeler B keeps docs with
    stopword ratio ≥ 6% (cross-multiplied integers, no float ratio).
    Output: the full 2×2 confusion matrix plus kappa in ppm —
    kappa = (po − pe)/(1 − pe) reduces over the matrix to the EXACT
    integer ratio (n·agree − Σ aᵢbᵢ)/(n² − Σ aᵢbᵢ), sign split
    explicitly because kappa can be negative and DuckDB's ``//``
    floors where Spark's ``div`` truncates.

    Scale shape: one doc scan → 4-row confusion matrix (map-side
    combine); every downstream term is arithmetic over ≤ 4 rows."""
    from web_analytics_visits_re_processing_spark.functions.text import (
        STOPWORDS,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    sw_arr = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    toks = F.split(F.col("text"), " ")
    n_tok = token_count("text")
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw_arr, t)))
    t = docs.select(
        F.when(n_tok >= 50, "keep").otherwise("drop").alias("label_len"),
        F.when(n_sw * 100 >= n_tok * 6, "keep").otherwise("drop").alias(
            "label_sw"
        ),
    )
    cm = t.groupBy("label_len", "label_sw").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = cm.agg(
        F.sum("n").alias("nn"),
        F.sum(
            F.when(F.col("label_len") == F.col("label_sw"), F.col("n")).otherwise(0)
        ).alias("agree"),
    )
    a = cm.groupBy(F.col("label_len").alias("l")).agg(F.sum("n").alias("an"))
    b = cm.groupBy(F.col("label_sw").alias("l")).agg(F.sum("n").alias("bn"))
    pe = (
        a.join(b, "l")
        .agg(F.coalesce(F.sum(F.col("an") * F.col("bn")), F.lit(0)).alias("pe_num"))
    )
    kappa = (
        tot.crossJoin(F.broadcast(pe))
        .select(
            F.expr(
                "CAST(CASE WHEN nn * agree >= pe_num THEN 1 ELSE -1 END"
                " * ((ABS(nn * agree - pe_num) * 1000000)"
                "    div GREATEST(nn * nn - pe_num, 1)) AS BIGINT)"
            ).alias("kappa_ppm")
        )
    )
    return cm.crossJoin(F.broadcast(kappa)).select(
        "label_len", "label_sw", "n", "kappa_ppm"
    )


# --- Kruskal-Wallis via histogram midranks ---------------------------------------

_KW_ORACLE = """
WITH t AS (
    SELECT o_orderpriority AS priority,
           FLOOR(o_totalprice * 100)::BIGINT AS cents
    FROM orders
), vh AS (
    SELECT cents, COUNT(*)::BIGINT AS c FROM t GROUP BY 1
), mid AS (
    SELECT cents, c,
           2 * (SUM(c) OVER (ORDER BY cents) - c) + c + 1 AS mid2
    FROM vh
), gv AS (
    SELECT priority, cents, COUNT(*)::BIGINT AS cg FROM t GROUP BY 1, 2
), rs AS (
    SELECT gv.priority,
           SUM(gv.cg * mid.mid2)::BIGINT AS rank_sum_x2,
           SUM(gv.cg)::BIGINT AS n_orders
    FROM gv JOIN mid ON mid.cents = gv.cents GROUP BY 1
), nn AS (SELECT SUM(n_orders)::BIGINT AS n FROM rs
), s AS (
    SELECT SUM((rank_sum_x2::HUGEINT * rank_sum_x2)
               // (4 * n_orders))::HUGEINT AS ssum
    FROM rs
), ties AS (
    SELECT COALESCE(SUM(c::HUGEINT * c * c - c), 0)::HUGEINT AS tsum FROM vh
), h AS (
    SELECT CAST((12000000::HUGEINT * s.ssum)
                // (nn.n::HUGEINT * (nn.n + 1))
                - 3000000::HUGEINT * (nn.n + 1) AS BIGINT) AS h_e6,
           CAST(GREATEST((12000000::HUGEINT * s.ssum)
                         // (nn.n::HUGEINT * (nn.n + 1))
                         - 3000000::HUGEINT * (nn.n + 1), 0)
                * (nn.n::HUGEINT * nn.n * nn.n - nn.n)
                // GREATEST(nn.n::HUGEINT * nn.n * nn.n - nn.n - ties.tsum,
                            1) AS BIGINT) AS h_tie_e6
    FROM s, nn, ties
)
SELECT rs.priority, rs.n_orders, rs.rank_sum_x2, h.h_e6, h.h_tie_e6
FROM rs, h
"""


@query("kruskal_wallis_by_priority", oracle=_KW_ORACLE)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities on order
    value — the nonparametric one-way ANOVA (rank-based, so the
    heavy-tailed price distribution can't distort it the way
    ``priority_anova_eta2``'s F-statistic can). The novelty is the
    RANK COMPUTATION AT SCALE: midranks come analytically from the
    VALUE-grain histogram's cumulative counts (midrank(v) =
    cum_before + (c+1)/2, carried ×2 to stay integral) — no
    data-grain total sort anywhere; ties need no special-casing
    because the histogram IS the tie structure, and the tie-corrected
    H divides by C = 1 − Σ(t³−t)/(N³−N) exactly. H lands e6-scaled
    through HUGEINT/decimal(38,0) intermediates with truncating
    division at three documented points (Σ per-group, the 12/(N(N+1))
    fold, the tie fold).

    Scale shape: one map-side-combined value histogram, one
    (priority, value) rollup joined back on the value key, and a
    5-row aggregate; the only window is a running sum over the
    value-grain histogram — at 100 TB swap it for
    ``operators.ranks.global_running_sum`` exactly as the rfm
    histogram arm does (prices make value-grain ≈ data-grain here, so
    the Spark side already uses the two-pass form)."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        global_running_sum,
    )

    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # ONE fact scan: the (priority, value) rollup is the only
    # aggregate that reads orders; the value histogram derives from it
    # (Σ over the 5 priorities), so the fact table is never re-scanned.
    # r13: gv feeds vh (and through it mid + ties) AND the rank-sum
    # join — each DataFrame reference replayed the orders scan +
    # groupBy; checkpoint the value-grain histogram once (the
    # jonckheere treatment).
    gv = (
        t.groupBy("priority", "cents")
        .agg(F.count(F.lit(1)).alias("cg"))
        .localCheckpoint(eager=True)
    )
    # vh is value-grain (≈ data-grain for prices) and feeds the
    # two-pass running sum AND the tie fold — one checkpoint
    vh = (
        gv.groupBy("cents")
        .agg(F.sum("cg").alias("c"))
        .localCheckpoint(eager=True)
    )
    mid = global_running_sum(vh, ["cents"], "c", "run").select(
        "cents",
        "c",
        (2 * (F.col("run") - F.col("c")) + F.col("c") + 1).alias("mid2"),
    )
    # rs is 5 rows but carries the midrank join as lineage and feeds
    # THREE consumers (nn, s, the output join) — checkpoint it too
    rs = (
        gv.join(mid.select("cents", "mid2"), "cents")
        .groupBy("priority")
        .agg(
            F.sum(F.col("cg") * F.col("mid2")).alias("rank_sum_x2"),
            F.sum("cg").alias("n_orders"),
        )
        .localCheckpoint(eager=True)
    )
    nn = rs.agg(F.sum("n_orders").alias("n"))
    s = rs.agg(
        F.sum(
            F.expr(
                "CAST(rank_sum_x2 AS DECIMAL(38,0)) * rank_sum_x2"
                " div (4 * n_orders)"
            )
        ).alias("ssum")
    )
    ties = vh.agg(
        F.coalesce(
            F.sum(F.expr("CAST(c AS DECIMAL(38,0)) * c * c - c")), F.lit(0)
        ).alias("tsum")
    )
    h = (
        s.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ties))
        .select(
            F.expr(
                "CAST(CAST(12000000 AS DECIMAL(38,0)) * ssum"
                " div (CAST(n AS DECIMAL(38,0)) * (n + 1))"
                " - CAST(3000000 AS DECIMAL(38,0)) * (n + 1) AS BIGINT)"
            ).alias("h_e6"),
            # H is non-negative by definition, but the truncating
            # divisions can push the e6 fold a few units below 0 when
            # exact H ~ 0 — and there DuckDB's // (floors) and Spark's
            # div (truncates) disagree on the tie fold. Clamp before
            # folding (the house sign-split rule, cf. kappa_ppm).
            F.expr(
                "CAST(GREATEST(CAST(12000000 AS DECIMAL(38,0)) * ssum"
                "              div (CAST(n AS DECIMAL(38,0)) * (n + 1))"
                "              - CAST(3000000 AS DECIMAL(38,0)) * (n + 1), 0)"
                " * (CAST(n AS DECIMAL(38,0)) * n * n - n)"
                " div GREATEST(CAST(n AS DECIMAL(38,0)) * n * n - n - tsum,"
                "              1) AS BIGINT)"
            ).alias("h_tie_e6"),
        )
    )
    return rs.crossJoin(F.broadcast(h)).select(
        "priority", "n_orders", "rank_sum_x2", "h_e6", "h_tie_e6"
    )


# --- Cochran-Armitage trend test --------------------------------------------------

_CA_ORACLE = """
WITH t AS (
    SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS score,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
    FROM orders
), g AS (
    SELECT score, COUNT(*)::BIGINT AS n_orders, SUM(y)::BIGINT AS n_final
    FROM t GROUP BY 1
), agg AS (
    SELECT SUM(n_orders)::BIGINT AS n, SUM(n_final)::BIGINT AS r,
           SUM(score * n_final)::BIGINT AS sr,
           SUM(score * n_orders)::BIGINT AS sn,
           SUM(score * score * n_orders)::BIGINT AS ssn
    FROM g
), z AS (
    SELECT CAST(((n::HUGEINT * sr - r::HUGEINT * sn)
                 * (n::HUGEINT * sr - r::HUGEINT * sn) * n * 10000)
                // GREATEST(r::HUGEINT * (n - r)
                            * (n::HUGEINT * ssn - sn::HUGEINT * sn), 1)
           AS BIGINT) AS z2_e4
    FROM agg
)
SELECT g.score, g.n_orders, g.n_final,
       CAST((g.n_final * 1000000) // g.n_orders AS BIGINT) AS final_rate_ppm,
       z.z2_e4
FROM g, z
"""


@query("cochran_armitage_trend", oracle=_CA_ORACLE)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for TREND in a binary outcome across
    ORDERED groups (Armitage 1955) — the dose-response question the
    unordered ``segment_priority_chi2`` cannot ask: does the
    fulfilled-order rate move monotonically with order priority
    (scores 1..5 parsed from the priority label)? z² lands e4-scaled
    through the exact integer identity
    z² = T²·N / (R(N−R)(N·Σs²n − (Σsn)²)), T = N·Σsr − R·Σsn, with
    HUGEINT/decimal(38,0) intermediates — exact headroom to N ≈ 5·10⁶;
    past that the statistic (a scalar readout, not an aggregate
    pipeline) downgrades to double.

    Scale shape: one scan → 5-row group table; everything after is
    arithmetic over 5 rows."""
    o = load_table(spark, sf_dir, "orders")
    t = o.select(
        F.substring("o_orderpriority", 1, 1).cast("long").alias("score"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = t.groupBy("score").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("y").alias("n_final")
    )
    agg = g.agg(
        F.sum("n_orders").alias("n"),
        F.sum("n_final").alias("r"),
        F.sum(F.col("score") * F.col("n_final")).alias("sr"),
        F.sum(F.col("score") * F.col("n_orders")).alias("sn"),
        F.sum(F.col("score") * F.col("score") * F.col("n_orders")).alias("ssn"),
    )
    z = agg.select(
        F.expr(
            "CAST(((CAST(n AS DECIMAL(38,0)) * sr - CAST(r AS DECIMAL(38,0)) * sn)"
            " * (CAST(n AS DECIMAL(38,0)) * sr - CAST(r AS DECIMAL(38,0)) * sn)"
            " * n * 10000)"
            " div GREATEST(CAST(r AS DECIMAL(38,0)) * (n - r)"
            "     * (CAST(n AS DECIMAL(38,0)) * ssn"
            "        - CAST(sn AS DECIMAL(38,0)) * sn), 1) AS BIGINT)"
        ).alias("z2_e4")
    )
    return g.crossJoin(F.broadcast(z)).select(
        "score",
        "n_orders",
        "n_final",
        F.expr("CAST((n_final * 1000000) div n_orders AS BIGINT)").alias(
            "final_rate_ppm"
        ),
        "z2_e4",
    )


# --- Croston intermittent-demand forecast ----------------------------------------

def _croston_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, qty, n, gap_days): the minimum part's daily shipped quantity
    on its demand days, STAGED once per session and fixture (the
    ``_daily_seq`` convention) so the fold re-reads a small file, not
    lineitem."""

    def build() -> DataFrame:
        li = load_table(spark, sf_dir, "lineitem")
        pk = li.agg(F.min("l_partkey")).first()[0]
        occ = (
            li.where(F.col("l_partkey") == pk)
            .groupBy(F.to_date("l_shipdate").alias("d"))
            .agg(F.sum("l_quantity").cast("long").alias("qty"))
        )
        wd = Window.orderBy("d")
        return occ.select(
            "d",
            "qty",
            F.row_number().over(wd).alias("n"),
            F.coalesce(F.datediff(F.col("d"), F.lag("d").over(wd)), F.lit(1))
            .cast("long")
            .alias("gap_days"),
        )

    return staged("croston_seq", spark, sf_dir, build)


_CROSTON_ORACLE = """
WITH RECURSIVE sel AS (SELECT MIN(l_partkey) AS pk FROM lineitem),
occ AS (
    SELECT CAST(l_shipdate AS DATE) AS d,
           CAST(SUM(l_quantity) AS BIGINT) AS qty
    FROM lineitem, sel WHERE l_partkey = sel.pk
    GROUP BY 1
), seq AS (
    SELECT d, qty, ROW_NUMBER() OVER (ORDER BY d) AS n,
           COALESCE(d - LAG(d) OVER (ORDER BY d), 1)::BIGINT AS gap_days
    FROM occ
), cr AS (
    SELECT n, d, qty, qty * 100 AS z_c, 100::BIGINT AS p_c
    FROM seq WHERE n = 1
    UNION ALL
    SELECT s.n, s.d, s.qty,
           (2 * s.qty * 100 + 8 * c.z_c) // 10,
           (2 * s.gap_days * 100 + 8 * c.p_c) // 10
    FROM cr c JOIN seq s ON s.n = c.n + 1
)
SELECT n AS occ_n, strftime(d, '%Y-%m-%d') AS day, qty,
       z_c::BIGINT AS z_c, p_c::BIGINT AS p_c,
       (z_c * 1000000 // p_c)::BIGINT AS forecast_ppm
FROM cr
"""


@query("croston_intermittent_demand", oracle=_CROSTON_ORACLE)
def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's method (Croston 1972) — THE forecaster for
    intermittent demand, where most days have zero demand and EWMA of
    the raw series systematically underforecasts: smooth the non-zero
    demand SIZES (z) and the inter-demand INTERVALS (p) separately
    with α = 0.2, forecast-per-period = z/p. Series: daily shipped
    quantity of the minimum part key (deterministic at every SF).
    Like EWMA/Holt this is inherently recursive, so it runs as a
    recursive CTE over the staged occurrence sequence — centi-scaled
    integers with truncating division each step (z_c = (2·x·100 +
    8·z_prev) div 10, same for p on the day gaps), forecast in ppm —
    zero float state, the whole recursion replays verbatim.

    Scale shape: the event-scale work is one filtered map-side
    rollup (~tens of rows for one part); the occurrence spine is
    calendar-bounded, so (r13, the Holt convention) the recursion
    runs as ONE ``aggregate()`` array fold over the collected
    sequence — per-step arithmetic identical to the recursive CTE
    the oracle replays, O(1) plan size instead of depth-many
    iterated plans. The single-partition window that ranks that tiny
    occurrence table runs once, in the staged build of
    ``_croston_seq`` — the daily-spine carve-out of ``_daily_seq``."""
    seq = _croston_seq(spark, sf_dir)
    folded = seq.agg(
        F.sort_array(
            F.collect_list(F.struct("n", "d", "qty", "gap_days"))
        ).alias("s")
    ).select(
        F.explode(
            F.expr(
                """
aggregate(
  s,
  named_struct(
    'z', CAST(NULL AS BIGINT), 'p', CAST(NULL AS BIGINT),
    'out', CAST(array() AS
        ARRAY<STRUCT<occ_n: INT, d: DATE, qty: BIGINT,
                     z_c: BIGINT, p_c: BIGINT>>)),
  (acc, r) -> CASE WHEN acc.z IS NULL THEN
      named_struct('z', r.qty * CAST(100 AS BIGINT),
                   'p', CAST(100 AS BIGINT),
        'out', array(named_struct(
          'occ_n', r.n, 'd', r.d, 'qty', r.qty,
          'z_c', r.qty * CAST(100 AS BIGINT),
          'p_c', CAST(100 AS BIGINT))))
    ELSE
      named_struct(
        'z', (2 * r.qty * 100 + 8 * acc.z) div 10,
        'p', (2 * r.gap_days * 100 + 8 * acc.p) div 10,
        'out', concat(acc.out, array(named_struct(
          'occ_n', r.n, 'd', r.d, 'qty', r.qty,
          'z_c', (2 * r.qty * 100 + 8 * acc.z) div 10,
          'p_c', (2 * r.gap_days * 100 + 8 * acc.p) div 10))))
    END,
  acc -> acc.out)
"""
            )
        ).alias("r")
    )
    return folded.select(
        F.col("r.occ_n").alias("occ_n"),
        F.date_format("r.d", "yyyy-MM-dd").alias("day"),
        F.col("r.qty").alias("qty"),
        F.col("r.z_c").alias("z_c"),
        F.col("r.p_c").alias("p_c"),
        F.expr("CAST((r.z_c * 1000000) div r.p_c AS BIGINT)").alias(
            "forecast_ppm"
        ),
    )


# --- PageRank over the co-purchase graph ------------------------------------------


def _pagerank_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.round10 import (
        _LPA_EDGE_CTES,
    )

    rounds = []
    for i in range(1, 5):
        rounds.append(
            f"""r{i} AS MATERIALIZED (
    SELECT s.node,
           (150000 + (850000::BIGINT * SUM(r.r // d.deg)) // 1000000)::BIGINT
               AS r
    FROM sym s
    JOIN r{i - 1} r ON r.node = s.nbr
    JOIN deg d ON d.node = s.nbr
    GROUP BY s.node
)"""
        )
    return (
        "WITH "
        + _LPA_EDGE_CTES.strip()
        + """,
deg AS (SELECT node, COUNT(*)::BIGINT AS deg FROM sym GROUP BY node),
r0 AS (SELECT node, 1000000::BIGINT AS r FROM nodes),
"""
        + ",\n".join(rounds)
        + """
SELECT r4.node AS part, r4.r AS pagerank_ppm, deg.deg AS degree
FROM r4 JOIN deg ON deg.node = r4.node
"""
    )


@query("pagerank_copurchase", oracle=_pagerank_oracle())
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (Brin & Page 1998; ``operators/graph.py::pagerank``)
    over the SAME positive-lift co-purchase graph LPA and the CC
    closure cluster — the centrality ranking next to HITS's
    hub/authority split: 4 synchronous power rounds, damping 0.85,
    ppm-scaled integers with truncating division at both fixed
    points, so all four rounds unroll verbatim into the oracle (the
    BFS/LPA convention).

    Scale shape: per round one node-grain contribution projection
    (r div deg), one edge⋈contribution equi-join, one map-side-
    combinable per-node SUM — 2 shuffles/round, linear in |E|, ranks
    localCheckpoint-truncated; the edge build reads the staged
    ``_basket_pairs``/``_basket_items`` tables shared family-wide."""
    from web_analytics_visits_re_processing_spark.operators.graph import (
        pagerank,
    )
    from web_analytics_visits_re_processing_spark.plans.webanalytics import (
        _basket_items,
        _basket_pairs,
    )

    pair = _basket_pairs(spark, sf_dir).where(F.col("s_ab") >= 3)
    item = _basket_items(spark, sf_dir)
    edges = (
        pair.join(
            item.select(F.col("p").alias("pa"), F.col("s").alias("sa")), "pa"
        )
        .join(
            item.select(
                F.col("p").alias("pb"), F.col("s").alias("sb"), "n_orders"
            ),
            "pb",
        )
        .where(F.expr("(s_ab * n_orders * 1000000) div (sa * sb)") > 1_000_000)
        .select("pa", "pb")
    )
    pr = pagerank(edges, src_col="pa", dst_col="pb", n_iters=4)
    return pr.select(
        F.col("node").alias("part"), "pagerank_ppm", "degree"
    )


# --- PQ quantization-error audit ---------------------------------------------------


def _pq_qerr_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        _PQ_BASE_CTE,
    )

    return f"""
WITH {_PQ_BASE_CTE},
ed AS (
    SELECT p.vec_id, b.sub,
           MIN(CAST(list_sum(list_transform(
               list_zip(p.q[b.sub * 8 + 1 : b.sub * 8 + 8], b.cb),
               s -> (s[1] - s[2]) * (s[1] - s[2]))) AS BIGINT)) AS dmin
    FROM pts p CROSS JOIN books b
    GROUP BY p.vec_id, b.sub
), pv AS (
    SELECT vec_id, SUM(dmin)::BIGINT AS qerr FROM ed GROUP BY vec_id
)
SELECT e.label, COUNT(*)::BIGINT AS n_vecs,
       SUM(pv.qerr)::BIGINT AS total_qerr,
       MAX(pv.qerr)::BIGINT AS max_qerr,
       (SUM(pv.qerr) // COUNT(*))::BIGINT AS avg_qerr
FROM pv JOIN embeddings e ON e.vec_id = pv.vec_id
GROUP BY e.label
"""


@query("pq_quantization_error_by_label", oracle=_pq_qerr_oracle())
def q_pq_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ reconstruction-error audit per label
    (``operators/pq.py::pq_quantization_error``) — the index-quality
    metric a production ANN deployment monitors per ingest batch:
    rising per-slice quantization error means the codebooks no longer
    fit the arriving distribution and recall is silently degrading
    (Jégou et al. 2011 §IV bounds ADC error by exactly this
    quantity). Error = exact int64 Σ over subspaces of the encoder's
    realized minimum squared distance; the oracle rebuilds codebooks
    and errors verbatim from the same LCG sample.

    Scale shape: zero-shuffle projection per row (one interpreted
    HOF, the pq_encode expression shape) + one label rollup."""
    from web_analytics_visits_re_processing_spark.operators.pq import (
        pq_codebooks,
        pq_quantization_error,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(emb)
    err = pq_quantization_error(emb, books)
    return (
        err.join(emb.select("vec_id", "label"), "vec_id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qerr").alias("total_qerr"),
            F.max("qerr").alias("max_qerr"),
            F.expr("CAST(SUM(qerr) div COUNT(1) AS BIGINT)").alias("avg_qerr"),
        )
    )


# --- two-stage retrieval: BM25 shortlist -> embedding rerank -----------------------


def _rerank_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans import ORACLES

    return f"""
WITH bm AS ({ORACLES["bm25_doc_ranking"]}),
qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0)
SELECT bm.doc_id, bm.score_scaled,
       ROUND(list_cosine_similarity(e.embedding::DOUBLE[], qv.q::DOUBLE[]), 4)
           AS cos
FROM bm JOIN embeddings e ON e.vec_id = bm.doc_id, qv
ORDER BY cos DESC, bm.doc_id LIMIT 5
"""


@query("bm25_embedding_rerank", oracle=_rerank_oracle())
def q_bm25_embedding_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-STAGE retrieval — the production search pipeline shape:
    a cheap lexical shortlist (the gated BM25 top-20, reused from the
    registry so both stages share one implementation) reranked by
    embedding cosine against a fixed query vector (vec 0), top-5 out.
    At 100 TB this is why BM25 and ANN coexist: the lexical stage
    bounds the candidate set so the (expensive) vector scoring only
    ever touches k docs, never the corpus. Composition gate: the
    shortlist, the join to the vector table AND the rerank order all
    replay in the oracle.

    Scale shape: stage-1 cost is the BM25 plan (term-pushdown scan +
    TakeOrdered 20); stage 2 joins 20 rows against the vector table
    (broadcast the 20-row side) and TakeOrders the top-5 — no window,
    no global sort."""
    from web_analytics_visits_re_processing_spark.operators.similarity import (
        cosine,
    )
    from web_analytics_visits_re_processing_spark.plans.llmdata import (
        q_bm25_ranking,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    shortlist = q_bm25_ranking(spark, sf_dir).select("doc_id", "score_scaled")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("_qv")
    )
    joined = (
        emb.join(
            F.broadcast(shortlist), emb["vec_id"] == shortlist["doc_id"]
        )
        .crossJoin(F.broadcast(qv))
        .select(
            "doc_id",
            "score_scaled",
            F.round(cosine(F.col("embedding"), F.col("_qv")), 4).alias("cos"),
        )
    )
    return joined.orderBy(F.col("cos").desc(), "doc_id").limit(5)


# --- harmonic centrality from a seed panel -----------------------------------------


def _harmonic_oracle() -> str:
    from web_analytics_visits_re_processing_spark.plans.round10 import (
        _LPA_EDGE_CTES,
    )

    rounds = []
    for i in range(1, 5):
        rounds.append(
            f"""d{i} AS MATERIALIZED (
    SELECT seed, node, MIN(dist) AS dist FROM (
        SELECT seed, node, dist FROM d{i - 1}
        UNION ALL
        SELECT f.seed, s.nbr AS node, f.dist + 1
        FROM d{i - 1} f JOIN sym s ON s.node = f.node
        WHERE f.dist = {i - 1}
    ) GROUP BY seed, node
)"""
        )
    return (
        "WITH "
        + _LPA_EDGE_CTES.strip()
        + """,
seeds AS (SELECT node FROM nodes ORDER BY node LIMIT 4),
d0 AS (SELECT node AS seed, node, 0 AS dist FROM seeds),
"""
        + ",\n".join(rounds)
        + """
SELECT seed, COUNT(*) - 1 AS n_reached,
       SUM(CASE WHEN dist > 0 THEN 1000000 // dist ELSE 0 END)::BIGINT
           AS harmonic_e6
FROM d4 GROUP BY seed
"""
    )


@query("harmonic_centrality_seeds", oracle=_harmonic_oracle())
def q_harmonic_centrality_seeds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic centrality (Boldi & Vigna 2014) estimated from a
    4-seed landmark panel over the positive-lift co-purchase graph —
    Σ 1/d to every node within 4 hops, the centrality that stays
    well-defined on DISCONNECTED graphs (closeness is not). One joint
    multi-source BFS (``operators/graph.py::multi_source_bfs``)
    carries all seeds through a single frontier traversal — the
    landmark-sketch shape production centrality estimation uses at
    graph scale, where per-node exact centrality is Θ(|V|·|E|) and a
    seed panel is the standard estimator. Integer-exact: 1e6 div d.

    Scale shape: per round one frontier⋈edges join + per-seed settled
    anti-join, state ≤ seeds·|V|; the final rollup is seed-grain."""
    from web_analytics_visits_re_processing_spark.operators.graph import (
        multi_source_bfs,
    )
    from web_analytics_visits_re_processing_spark.plans.webanalytics import (
        _basket_items,
        _basket_pairs,
    )

    pair = _basket_pairs(spark, sf_dir).where(F.col("s_ab") >= 3)
    item = _basket_items(spark, sf_dir)
    edges = (
        pair.join(
            item.select(F.col("p").alias("pa"), F.col("s").alias("sa")), "pa"
        )
        .join(
            item.select(
                F.col("p").alias("pb"), F.col("s").alias("sb"), "n_orders"
            ),
            "pb",
        )
        .where(F.expr("(s_ab * n_orders * 1000000) div (sa * sb)") > 1_000_000)
        .select("pa", "pb")
    )
    nodes = (
        edges.select(F.col("pa").alias("node"))
        .union(edges.select("pb"))
        .distinct()
    )
    seeds = nodes.orderBy("node").limit(4).select(F.col("node").alias("seed"))
    dist = multi_source_bfs(edges, seeds, max_hops=4, src_col="pa", dst_col="pb")
    return dist.groupBy("seed").agg(
        (F.count(F.lit(1)) - 1).alias("n_reached"),
        F.sum(
            F.when(F.col("dist") > 0, F.expr("1000000 div dist")).otherwise(0)
        ).alias("harmonic_e6"),
    )


# --- data-contract validation battery ----------------------------------------------

_CONTRACT_ORACLE = """
SELECT 'o_totalprice_positive' AS rule, COUNT(*)::BIGINT AS n_checked,
       SUM(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END)::BIGINT
           AS n_violations
FROM orders
UNION ALL
SELECT 'o_orderdate_in_range', COUNT(*)::BIGINT,
       SUM(CASE WHEN o_orderdate >= DATE '1990-01-01'
                 AND o_orderdate < DATE '2006-01-01'
                THEN 0 ELSE 1 END)::BIGINT
FROM orders
UNION ALL
SELECT 'o_orderpriority_enum', COUNT(*)::BIGINT,
       SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM',
                                         '4-NOT SPECIFIED', '5-LOW')
                THEN 0 ELSE 1 END)::BIGINT
FROM orders
UNION ALL
SELECT 'o_orderstatus_enum', COUNT(*)::BIGINT,
       SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P')
                THEN 0 ELSE 1 END)::BIGINT
FROM orders
UNION ALL
SELECT 'l_discount_range', COUNT(*)::BIGINT,
       SUM(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
                THEN 0 ELSE 1 END)::BIGINT
FROM lineitem
UNION ALL
SELECT 'l_quantity_range', COUNT(*)::BIGINT,
       SUM(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
                THEN 0 ELSE 1 END)::BIGINT
FROM lineitem
UNION ALL
SELECT 'l_shipdate_after_orderdate', COUNT(*)::BIGINT,
       SUM(CASE WHEN l.l_shipdate >= o.o_orderdate THEN 0 ELSE 1 END)::BIGINT
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
"""


@query("data_contract_violations", oracle=_CONTRACT_ORACLE)
def q_data_contract_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract validation battery — the ingest gate that runs
    BEFORE a partition lands: per declared rule (positivity, date
    range, enum domains, numeric ranges, and one cross-table temporal
    rule: ship date ≥ order date), rows checked and rows violating.
    Complements `referential_integrity_audit` (FK existence) and
    `table_profile_stats` (distribution shape) — contracts are the
    DECLARED-expectation check. Single scan per source table (the
    per-table rules share one aggregate via conditional sums... one
    agg per rule here keeps rule-grain rows; Catalyst shares the scan
    under AQE reuse), the temporal rule joins on the order key —
    co-located zero-exchange under the bucketed layout at scale.

    Scale shape: ONE aggregate per source table — all of a table's
    rules ride the same scan as conditional sums, then stack to
    rule-grain rows (a per-rule agg would scan orders 4× and lineitem
    2× — at 100 TB the redundant fact scans ARE the cost); the
    temporal rule pays the one key-equi join (co-located
    zero-exchange under the bucketed layout at scale). Plan-pinned to
    exactly one scan of each table plus the join's pair."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def viol(ok: F.Column) -> F.Column:
        return F.sum(F.when(ok, 0).otherwise(1))

    o_rules = [
        ("o_totalprice_positive", F.col("o_totalprice") > 0),
        (
            "o_orderdate_in_range",
            (F.col("o_orderdate") >= F.lit("1990-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("2006-01-01").cast("timestamp")),
        ),
        (
            "o_orderpriority_enum",
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            ),
        ),
        ("o_orderstatus_enum", F.col("o_orderstatus").isin("F", "O", "P")),
    ]
    li_rules = [
        (
            "l_discount_range",
            (F.col("l_discount") >= 0) & (F.col("l_discount") <= 0.1),
        ),
        (
            "l_quantity_range",
            (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 50),
        ),
    ]

    def battery(src: DataFrame, rules: list) -> DataFrame:
        aggs = [F.count(F.lit(1)).alias("_nchk")]
        for i, (_name, ok) in enumerate(rules):
            aggs.append(viol(ok).alias(f"_nv{i}"))
        one = src.agg(*aggs)
        stack_args = ", ".join(
            f"'{name}', _nchk, _nv{i}" for i, (name, _ok) in enumerate(rules)
        )
        return one.select(
            F.expr(
                f"stack({len(rules)}, {stack_args})"
                " as (rule, n_checked, n_violations)"
            )
        )

    joined = li.select("l_orderkey", "l_shipdate").join(
        o.select("o_orderkey", "o_orderdate"),
        li["l_orderkey"] == o["o_orderkey"],
    )
    temporal = joined.agg(
        F.lit("l_shipdate_after_orderdate").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        viol(F.col("l_shipdate") >= F.col("o_orderdate")).alias("n_violations"),
    )
    return battery(o, o_rules).unionAll(battery(li, li_rules)).unionAll(temporal)


# --- k-anonymity generalization step ------------------------------------------------

_KANON_GEN_ORACLE = """
WITH classes AS (
    SELECT c.c_nationkey, n.n_regionkey, c.c_mktsegment,
           COUNT(*)::BIGINT AS n
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1, 2, 3
), kept AS (
    SELECT 'nation' AS level,
           'N' || CAST(c_nationkey AS VARCHAR) AS qi,
           c_mktsegment, n
    FROM classes WHERE n >= 5
), generalized AS (
    SELECT 'region' AS level,
           'R' || CAST(n_regionkey AS VARCHAR) AS qi,
           c_mktsegment, SUM(n)::BIGINT AS n
    FROM classes WHERE n < 5
    GROUP BY n_regionkey, c_mktsegment
), unioned AS (
    SELECT * FROM kept UNION ALL SELECT * FROM generalized
)
SELECT level, qi, c_mktsegment, n,
       (SELECT MIN(n) FROM unioned)::BIGINT AS achieved_min_k
FROM unioned
"""


@query("k_anon_generalize_step", oracle=_KANON_GEN_ORACLE)
def q_k_anon_generalize_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMEDIATION step after `k_anonymity_audit` flags classes:
    quasi-identifier classes below k=5 generalize one level up the
    taxonomy (nation → region; the segment attribute is retained) —
    Samarati/Sweeney local generalization, the step a privacy
    pipeline iterates until min k clears. Output: every surviving
    class with its level, population, and the achieved min k (the
    signal for whether ANOTHER round or suppression is needed).

    Scale shape: one (nation, region, segment) rollup (dimension
    broadcast onto the fact), one sub-5 re-aggregation at region
    grain, a 1-row min broadcast — all class-grain after the first
    map-side-combined aggregate."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    classes = (
        c.join(
            F.broadcast(n.select("n_nationkey", "n_regionkey")),
            c["c_nationkey"] == n["n_nationkey"],
        )
        .groupBy("c_nationkey", "n_regionkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    kept = classes.where(F.col("n") >= 5).select(
        F.lit("nation").alias("level"),
        F.concat(F.lit("N"), F.col("c_nationkey").cast("string")).alias("qi"),
        "c_mktsegment",
        "n",
    )
    generalized = (
        classes.where(F.col("n") < 5)
        .groupBy("n_regionkey", "c_mktsegment")
        .agg(F.sum("n").alias("n"))
        .select(
            F.lit("region").alias("level"),
            F.concat(F.lit("R"), F.col("n_regionkey").cast("string")).alias("qi"),
            "c_mktsegment",
            "n",
        )
    )
    unioned = kept.unionAll(generalized)
    mink = unioned.agg(F.min("n").alias("achieved_min_k"))
    return unioned.crossJoin(F.broadcast(mink))


# --- Cramér-von Mises two-sample test ------------------------------------------------

_CVM_ORACLE = """
WITH t AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 2 END AS grp,
           FLOOR(value * 100)::BIGINT AS cents
    FROM events WHERE event_type IN ('purchase', 'view')
), h AS (
    SELECT cents,
           SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
           SUM(CASE WHEN grp = 2 THEN 1 ELSE 0 END)::BIGINT AS c2
    FROM t GROUP BY cents
), cum AS (
    SELECT cents, c1, c2,
           SUM(c1) OVER (ORDER BY cents) AS cum1,
           SUM(c2) OVER (ORDER BY cents) AS cum2
    FROM h
), nn AS (
    SELECT SUM(c1)::BIGINT AS n1, SUM(c2)::BIGINT AS n2 FROM h
)
SELECT nn.n1, nn.n2,
       CAST(1000000::HUGEINT * SUM((c1 + c2)::HUGEINT
                * (nn.n2::HUGEINT * cum1 - nn.n1::HUGEINT * cum2)
                * (nn.n2::HUGEINT * cum1 - nn.n1::HUGEINT * cum2))
            // ((nn.n1 + nn.n2)::HUGEINT * (nn.n1 + nn.n2)
                * nn.n1 * nn.n2) AS BIGINT) AS t_e6
FROM cum, nn GROUP BY nn.n1, nn.n2
"""


@query("cramer_von_mises_two_sample", oracle=_CVM_ORACLE)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises test (purchase vs view value
    distributions) — the ECDF-distance statistic that integrates the
    SQUARED gap over the whole distribution where KS
    (`ks_two_sample_by_type`) takes only the max gap, making it
    sensitive to broad shape drift KS under-weights:
    T = n1·n2/(n1+n2)² · Σ_x (F1(x) − F2(x))², computed over the
    integer cents histogram with cross-multiplied ECDFs
    (n2·cum1 − n1·cum2 — no float rank anywhere), e6-scaled through
    HUGEINT/decimal(38,0).

    Scale shape: one map-side-combined value histogram; the running
    sums ride the two-pass `global_running_sum` (value-grain, no
    unpartitioned window); the final statistic is a 1-row aggregate."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        global_running_sum,
    )

    ev = load_table(spark, sf_dir, "events")
    t = ev.where(F.col("event_type").isin("purchase", "view")).select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(2).alias("grp"),
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    h = t.groupBy("cents").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 2, 1).otherwise(0)).alias("c2"),
    )
    cum = global_running_sum(
        global_running_sum(h, ["cents"], "c1", "cum1"), ["cents"], "c2", "cum2"
    )
    nn = h.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    return (
        cum.crossJoin(F.broadcast(nn))
        .groupBy("n1", "n2")
        .agg(
            F.expr(
                "CAST(CAST(1000000 AS DECIMAL(38,0)) * SUM(CAST(c1 + c2 AS DECIMAL(38,0))"
                "     * (CAST(n2 AS DECIMAL(38,0)) * cum1"
                "        - CAST(n1 AS DECIMAL(38,0)) * cum2)"
                "     * (CAST(n2 AS DECIMAL(38,0)) * cum1"
                "        - CAST(n1 AS DECIMAL(38,0)) * cum2))"
                " div (CAST(n1 + n2 AS DECIMAL(38,0)) * (n1 + n2)"
                "      * n1 * n2) AS BIGINT)"
            ).alias("t_e6")
        )
    )
