"""Round-7 analytics depth tier.

Completes suites the earlier rounds opened, in the same
integer-exact, bounded-state house style:

- **attribution**: Shapley-value credit (the game-theoretic member
  the last-touch / position / time-decay / Markov family was
  missing) — exact over the ≤2⁴ channel-subset lattice, n!-scaled so
  no rational ever floats.
- **experiment trust**: sample-ratio-mismatch (SRM), the assignment
  sanity gate run before ANY A/B readout is believed.
- **sessionization**: GA-style forced session splits at a duration
  cap, as a declarative bucket (no recursion).
- **retention**: the discrete-time churn hazard curve with honest
  right-censoring — the survival-analysis primitive emitted as exact
  (deaths, at-risk, hazard-ppm) rows rather than a float product.

The reference (``main.py:22-240``) has none of this — its analytics
surface ends at visit assembly; this module is §2.2 gap-fill on the
`events` table, numbering 30-min-gap sessions through
``operators.sessionize.with_session_columns`` like ``webanalytics.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import with_session_columns
from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.plans.webanalytics import GAP_US, _events
from web_analytics_visits_re_processing_spark.sources.layout import staged

# Shared DuckDB session CTE (identical to the webanalytics.py gate
# convention: strict > on the gap, (ts, event_id) tiebreak).
_SESS_CTE = f"""
seq AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > {GAP_US}
                THEN 1 ELSE 0 END AS is_new
    FROM events
), sess AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM seq
)"""


def _daily_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, x, n): daily purchase revenue cents with a 1-based day
    index, STAGED once per session and fixture (``layout.staged``) and
    shared by EWMA, Holt and Holt–Winters — their recursions and folds
    run over this ~30-row table; without materialization a recursion
    re-evaluates the event-scale rollup every step."""

    def build() -> DataFrame:
        daily = (
            _events(spark, sf_dir)
            .where(F.col("event_type") == "purchase")
            .groupBy(F.to_date("ts").alias("d"))
            .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("x"))
        )
        return daily.select(
            "d", "x", F.row_number().over(Window.orderBy("d")).alias("n")
        )

    return staged("daily_seq", spark, sf_dir, build)


# --- Shapley-value attribution -------------------------------------------------

# Channel → bit. n = 4 non-purchase touch types; the subset lattice
# has 2⁴ = 16 coalitions, so EXACT Shapley is a 16-row spine problem,
# not an approximation problem.
_SHAPLEY_CHANNELS = (("click", 1), ("error", 2), ("signup", 4), ("view", 8))
# |S|!·(n−1−|S|)! for n=4: the marginal-contribution weight of adding
# channel i to coalition S, scaled by n! = 24 so it is an INTEGER.
_SHAPLEY_W = "CASE bit_count(smask) WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"


@query(
    "shapley_attribution",
    # Exact Shapley over the 16-coalition lattice: v(S) = converted
    # sessions whose touch set ⊆ S; φ_i·n! = Σ_{S∌i} |S|!(n−1−|S|)!
    # ·(v(S∪i)−v(S)) stays integral end to end (n! = 24), and the
    # monotone v makes every marginal ≥ 0. Efficiency (Σφ = v(full))
    # is pinned by pytest.
    oracle=f"""
WITH {_SESS_CTE}, per_session AS (
    SELECT user_id, session_seq,
           MAX(CASE WHEN event_type = 'click'  THEN 1 ELSE 0 END) * 1
         + MAX(CASE WHEN event_type = 'error'  THEN 1 ELSE 0 END) * 2
         + MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) * 4
         + MAX(CASE WHEN event_type = 'view'   THEN 1 ELSE 0 END) * 8
               AS mask,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM sess GROUP BY user_id, session_seq
), cbm AS (
    SELECT mask, COUNT(*)::BIGINT AS cnt
    FROM per_session WHERE conv = 1 AND mask > 0 GROUP BY mask
), spine AS (SELECT range::INT AS smask FROM range(0, 16)),
v AS (
    SELECT s.smask, COALESCE(SUM(c.cnt), 0)::BIGINT AS v
    FROM spine s LEFT JOIN cbm c ON (c.mask & s.smask) = c.mask
    GROUP BY s.smask
), ch(channel, bit) AS (
    VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)
), contrib AS (
    SELECT ch.channel,
           ({_SHAPLEY_W.replace("bit_count(smask)", "bit_count(s.smask)")})
               * (vi.v - vs.v) AS w
    FROM ch
    JOIN spine s ON (s.smask & ch.bit) = 0
    JOIN v vs ON vs.smask = s.smask
    JOIN v vi ON vi.smask = s.smask + ch.bit
)
SELECT channel,
       CAST(SUM(w) AS BIGINT) AS phi_x24,
       CAST(SUM(w) * 1000 // 24 AS BIGINT) AS phi_milli
FROM contrib GROUP BY channel ORDER BY channel
""",
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution (Shapley 1953; Zhao et al. 2018
    for the marketing formulation): each touch channel's credit for
    conversions is its average marginal contribution over all
    orderings — the axiomatic answer to 'which model is fair' that
    last-touch / position / time-decay each approximate. Tractable
    here without sampling because the coalition lattice is tiny:
    v(S) = converted sessions whose distinct-touch set ⊆ S collapses
    events to ≤16 (mask, count) rows, and φ·n! is pure integer
    arithmetic over a 16-row spine (n! = 24 absorbs the factorial
    weights, so no rational ever floats; v is monotone so every
    marginal is ≥ 0). Scale shape: ONE session rollup (the same
    exchange every webanalytics gate rides), then map-side collapse
    to ≤16 rows; the lattice joins are broadcast spine×spine. At
    100 TB nothing after the rollup sees data-proportional rows. At
    larger channel counts the lattice doubles per channel — the
    documented escalation is permutation-sampled Shapley over the
    same mask rollup, same downstream shape."""
    sess = with_session_columns(
        _events(spark, sf_dir), gap_seconds=1800, order_cols=["event_id"]
    )
    per_session = sess.groupBy("user_id", "session_seq").agg(
        (
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)) * 1
            + F.max(F.when(F.col("event_type") == "error", 1).otherwise(0)) * 2
            + F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)) * 4
            + F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)) * 8
        ).alias("mask"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    cbm = (
        per_session.where((F.col("conv") == 1) & (F.col("mask") > 0))
        .groupBy("mask")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    spine = spark.range(16).select(F.col("id").cast("int").alias("smask"))
    v = (
        spine.join(
            F.broadcast(cbm),
            F.expr("(mask & smask) = mask"),
            "left",
        )
        .groupBy("smask")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("v"))
    )
    ch = spark.createDataFrame(
        list(_SHAPLEY_CHANNELS), "channel string, bit int"
    )
    vs = v.select(F.col("smask").alias("s_s"), F.col("v").alias("v_s"))
    vi = v.select(F.col("smask").alias("s_i"), F.col("v").alias("v_i"))
    contrib = (
        ch.join(F.broadcast(spine), F.expr("(smask & bit) = 0"))
        .join(F.broadcast(vs), F.col("s_s") == F.col("smask"))
        .join(F.broadcast(vi), F.col("s_i") == F.col("smask") + F.col("bit"))
        .select(
            "channel",
            (F.expr(_SHAPLEY_W) * (F.col("v_i") - F.col("v_s"))).alias("w"),
        )
    )
    return (
        contrib.groupBy("channel")
        .agg(
            F.sum("w").cast("long").alias("phi_x24"),
            F.expr("sum(w) * 1000 div 24").cast("long").alias("phi_milli"),
        )
        .orderBy("channel")
    )


# --- sample-ratio mismatch ------------------------------------------------------


@query(
    "srm_check",
    # SRM: χ² on assignment counts vs the designed 50/50, the gate an
    # experimentation platform runs BEFORE believing any readout. Two
    # scenarios in one output — the honest user-level hash split
    # (must NOT flag) and a planted event-level telemetry-loss bug
    # (half of arm-B events dropped; must flag at every SF) — so the
    # gate pins both directions. χ² = (nA−nB)²/N cross-multiplied
    # against the industry p<0.001 threshold (10.83): integers only.
    oracle="""
WITH u AS (
    SELECT 'hash_split' AS scenario,
           SUM(CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)
                          || '|srm'), 1, 15))::BIGINT % 2 = 0
                    THEN 1 ELSE 0 END)::BIGINT AS n_a,
           SUM(CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR)
                          || '|srm'), 1, 15))::BIGINT % 2 = 1
                    THEN 1 ELSE 0 END)::BIGINT AS n_b
    FROM (SELECT DISTINCT user_id FROM events)
), e AS (
    SELECT 'planted_loss' AS scenario,
           SUM(CASE WHEN ('0x' || substring(md5(CAST(event_id AS VARCHAR)
                          || '|srm'), 1, 15))::BIGINT % 2 = 0
                    THEN 1 ELSE 0 END)::BIGINT AS n_a,
           SUM(CASE WHEN ('0x' || substring(md5(CAST(event_id AS VARCHAR)
                          || '|srm'), 1, 15))::BIGINT % 2 = 1
                     AND ('0x' || substring(md5(CAST(event_id AS VARCHAR)
                          || '|drop'), 1, 15))::BIGINT % 2 = 0
                    THEN 1 ELSE 0 END)::BIGINT AS n_b
    FROM events
), a AS (SELECT * FROM u UNION ALL SELECT * FROM e)
SELECT scenario, n_a, n_b,
       ((n_a - n_b) * (n_a - n_b) * 100 // (n_a + n_b))::BIGINT
           AS chi2_centi,
       CASE WHEN (n_a - n_b) * (n_a - n_b) * 100 > 1083 * (n_a + n_b)
            THEN 1 ELSE 0 END AS srm_flag
FROM a ORDER BY scenario
""",
)
def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch check (Fabijan et al. 2019): before any
    A/B metric is read, test whether the OBSERVED arm sizes are
    consistent with the DESIGNED 50/50 — assignment bugs (lossy
    logging, bot filters firing per-arm, redirect drops) silently
    invalidate every downstream readout, and SRM is the alarm that
    catches them. One-df χ² for two equal-expected cells reduces to
    (n_a−n_b)²/N; the p<0.001 decision (χ² > 10.83, the industry SRM
    threshold) cross-multiplies into pure integers. Two scenarios
    gate both directions: the user-level md5-hash split (healthy by
    construction — must not flag) and a planted event-level
    telemetry-loss bug (half of arm-B events deterministically
    dropped — the lossy-logging failure SRM exists to catch, and it
    must flag at every fixture size). Scale: one distinct-user
    collapse plus one event scan, each ending in a one-row
    conditional sum."""
    from web_analytics_visits_re_processing_spark.functions.text import hash64

    ev = _events(spark, sf_dir)
    u = ev.select("user_id").distinct()
    arm_hash = hash64(
        F.concat(F.col("user_id").cast("string"), F.lit("|srm"))
    ) % 2
    healthy = u.agg(
        F.lit("hash_split").alias("scenario"),
        F.sum(F.when(arm_hash == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(arm_hash == 1, 1).otherwise(0)).alias("n_b"),
    )
    earm = hash64(
        F.concat(F.col("event_id").cast("string"), F.lit("|srm"))
    ) % 2
    ekeep = hash64(
        F.concat(F.col("event_id").cast("string"), F.lit("|drop"))
    ) % 2
    planted = ev.agg(
        F.lit("planted_loss").alias("scenario"),
        F.sum(F.when(earm == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when((earm == 1) & (ekeep == 0), 1).otherwise(0)).alias("n_b"),
    )
    return (
        healthy.unionByName(planted)
        .select(
            "scenario",
            "n_a",
            "n_b",
            F.expr(
                "(n_a - n_b) * (n_a - n_b) * 100 div (n_a + n_b)"
            ).alias("chi2_centi"),
            F.when(
                (F.col("n_a") - F.col("n_b"))
                * (F.col("n_a") - F.col("n_b"))
                * 100
                > 1083 * (F.col("n_a") + F.col("n_b")),
                1,
            )
            .otherwise(0)
            .alias("srm_flag"),
        )
        .orderBy("scenario")
    )


# --- capped session splits ------------------------------------------------------

_CAP_US = 15 * 60 * 1_000_000  # 15-min forced-split cap


@query(
    "capped_session_splits",
    # GA-style duration cap as a DECLARATIVE bucket: sub-session =
    # (ts − session_start) div cap. Histogram of sessions by their
    # distinct-bucket count, plus the before/after session totals —
    # the readout that tells you how much a cap policy inflates
    # session counts.
    oracle=f"""
WITH {_SESS_CTE}, marked AS (
    SELECT user_id, session_seq,
           (epoch_us(ts) - MIN(epoch_us(ts))
                OVER (PARTITION BY user_id, session_seq))
               // {_CAP_US} AS sub
    FROM sess
), per_session AS (
    SELECT user_id, session_seq,
           COUNT(DISTINCT sub)::BIGINT AS n_subsessions
    FROM marked GROUP BY user_id, session_seq
)
SELECT n_subsessions,
       COUNT(*)::BIGINT AS n_sessions,
       CAST(SUM(n_subsessions) AS BIGINT) AS n_capped_sessions
FROM per_session GROUP BY n_subsessions ORDER BY n_subsessions
""",
)
def q_capped_session_splits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forced session splits at a 15-minute duration cap, GA-style
    (analytics products cap sessions so one camped-on-a-tab user
    cannot hold a session open all day), expressed DECLARATIVELY:
    sub-session = (ts − session_start) div cap — fixed buckets from
    the gap-session start, a bucketed approximation (a recursive
    elapsed-from-sub-session-start rule would need iteration; the
    bucket form is
    one window + one projection and differs only for pathological
    cadences). Output: sessions histogrammed by how many pieces the
    cap cuts them into, with the capped-session total riding along —
    the 'how much does this policy inflate session counts' readout.
    Scale: rides the standard user-key session exchange; the
    histogram is a ≤5-row rollup."""
    sess = with_session_columns(
        _events(spark, sf_dir), gap_seconds=1800, order_cols=["event_id"]
    )
    ws = Window.partitionBy("user_id", "session_seq")
    marked = sess.select(
        "user_id",
        "session_seq",
        (
            (F.unix_micros("ts") - F.min(F.unix_micros("ts")).over(ws))
            / F.lit(_CAP_US)
        )
        .cast("long")
        .alias("sub"),
    )
    per_session = marked.groupBy("user_id", "session_seq").agg(
        F.count_distinct("sub").alias("n_subsessions")
    )
    return (
        per_session.groupBy("n_subsessions")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_subsessions").cast("long").alias("n_capped_sessions"),
        )
        .orderBy("n_subsessions")
    )


# --- discrete-time churn hazard -------------------------------------------------

_HAZARD_HORIZON = 21  # emit t = 0..20 days
_CHURN_QUIET_DAYS = 7  # no event in the trailing week ⇒ unobservable


@query(
    "churn_hazard_curve",
    # Discrete-time survival with honest right-censoring: users whose
    # last event precedes (max_date − 7) churned at tenure t =
    # last − first day; later users are CENSORED at c = (max_date −
    # 7) − first day (their fate is unknowable yet). hazard(t) =
    # churns at t / users still at risk at t — exact integers, no
    # float survival product (the KM curve is the consumer's running
    # product of (1 − hazard); the hazard table is the replayable
    # primitive).
    oracle=f"""
WITH bounds AS (
    SELECT (MAX(CAST(ts AS DATE)) - INTERVAL 7 DAY)::DATE AS cutoff
    FROM events
), u AS (
    SELECT e.user_id,
           MIN(CAST(e.ts AS DATE)) AS d0,
           MAX(CAST(e.ts AS DATE)) AS dl,
           MAX(b.cutoff) AS cutoff
    FROM events e CROSS JOIN bounds b
    GROUP BY e.user_id
), obs AS (
    SELECT CASE WHEN dl <= cutoff
                THEN DATE_DIFF('day', d0, dl)
                ELSE DATE_DIFF('day', d0, cutoff) END AS t,
           CASE WHEN dl <= cutoff THEN 1 ELSE 0 END AS churned
    FROM u WHERE d0 <= cutoff
), rollup AS (
    SELECT t, SUM(churned)::BIGINT AS n_churn, COUNT(*)::BIGINT AS n_total
    FROM obs GROUP BY t
), spine AS (SELECT range::BIGINT AS t FROM range(0, {_HAZARD_HORIZON}))
SELECT s.t,
       CAST(SUM(r.n_total) AS BIGINT) AS n_at_risk,
       CAST(SUM(CASE WHEN r.t = s.t THEN r.n_churn ELSE 0 END) AS BIGINT)
           AS n_churned,
       CAST(SUM(CASE WHEN r.t = s.t THEN r.n_churn ELSE 0 END) * 1000000
            // SUM(r.n_total) AS BIGINT) AS hazard_ppm
FROM spine s JOIN rollup r ON r.t >= s.t
GROUP BY s.t ORDER BY s.t
""",
)
def q_churn_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard — the survival-analysis primitive
    (Kaplan & Meier 1958's input table) with honest RIGHT-CENSORING:
    a user quiet for the trailing week is counted as churned at
    tenure (last − first) day; a user still active recently is
    censored at the last tenure we could have confirmed churn for —
    pretending recent users survived (or dropping them) is the
    classic churn-curve bias this table avoids — hazard(t) =
    churns(t) / at-risk(t), exact integer ppm; the KM survival curve
    consumer IS gated too since round 8 (``km_survival_curve``,
    plans/webanalytics_r8.py: the running product in integer ppm with
    truncating division is deterministic and recursive, so it replays
    as a recursive CTE — retiring this docstring's earlier claim that
    a float product had no cross-engine-exact form). Scale: one user
    rollup (one exchange),
    collapse to ≤|distinct tenure| ≈ 30 rows, then a 21-row spine
    join — at-risk counts come from the tenure rollup, never a
    second pass over users."""
    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        F.date_sub(F.max(F.to_date("ts")), _CHURN_QUIET_DAYS).alias("cutoff")
    )
    u = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("d0"),
            F.max(F.to_date("ts")).alias("dl"),
        )
        .crossJoin(F.broadcast(cutoff))
    )
    obs = u.where(F.col("d0") <= F.col("cutoff")).select(
        F.when(
            F.col("dl") <= F.col("cutoff"), F.datediff("dl", "d0")
        )
        .otherwise(F.datediff("cutoff", "d0"))
        .cast("long")
        .alias("t"),
        F.when(F.col("dl") <= F.col("cutoff"), 1).otherwise(0).alias("churned"),
    )
    rollup = obs.groupBy("t").agg(
        F.sum("churned").cast("long").alias("n_churn"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    spine = spark.range(_HAZARD_HORIZON).select(F.col("id").alias("st"))
    return (
        spine.join(F.broadcast(rollup), F.col("t") >= F.col("st"))
        .groupBy("st")
        .agg(
            F.sum("n_total").cast("long").alias("n_at_risk"),
            F.sum(F.when(F.col("t") == F.col("st"), F.col("n_churn")).otherwise(0))
            .cast("long")
            .alias("n_churned"),
            F.expr(
                "sum(case when t = st then n_churn else 0 end) * 1000000"
                " div sum(n_total)"
            )
            .cast("long")
            .alias("hazard_ppm"),
        )
        .select(F.col("st").alias("t"), "n_at_risk", "n_churned", "hazard_ppm")
        .orderBy("t")
    )


# --- HITS hubs/authorities ------------------------------------------------------


@query(
    "hits_copurchase_authorities",
    # Integer HITS (max-norm, 2 rounds) on the bipartite customer→part
    # purchase graph; the oracle unrolls both rounds. Round 1's
    # authority pass starts from constant hubs, so a1 = degree·1e6 —
    # stated directly in SQL.
    oracle="""
WITH e AS MATERIALIZED (
    SELECT DISTINCT o.o_custkey AS u, l.l_partkey AS p
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
), a1 AS MATERIALIZED (
    SELECT p, COUNT(*)::BIGINT * 1000000 AS s FROM e GROUP BY p
), a1n AS MATERIALIZED (
    SELECT p, s * 1000000 // (SELECT MAX(s) FROM a1) AS s FROM a1
), h1 AS MATERIALIZED (
    SELECT e.u, SUM(a1n.s)::BIGINT AS s
    FROM e JOIN a1n ON a1n.p = e.p GROUP BY e.u
), h1n AS MATERIALIZED (
    SELECT u, s * 1000000 // (SELECT MAX(s) FROM h1) AS s FROM h1
), a2 AS MATERIALIZED (
    SELECT e.p, SUM(h1n.s)::BIGINT AS s
    FROM e JOIN h1n ON h1n.u = e.u GROUP BY e.p
), a2n AS (
    SELECT p, s * 1000000 // (SELECT MAX(s) FROM a2) AS s FROM a2
)
SELECT p AS part, s::BIGINT AS authority_e6,
       ROW_NUMBER() OVER (ORDER BY s DESC, p) AS rnk
FROM a2n ORDER BY s DESC, p LIMIT 20
""",
)
def q_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on the bipartite
    customer→part purchase graph: authoritative parts are those
    bought by strong hub customers, hub customers are those who buy
    authoritative parts — the mutual-reinforcement centrality that
    raw degree misses (a part bought 50 times by one-off customers
    ranks below one bought 30 times by broad, active customers).
    Integer-exact via ``operators.graph.hits_bipartite_scaled``:
    scores in int64 millionths, MAX-normalization (one integer
    division — no L2 norm, no float sum) per half-round, 2 full
    rounds, top-20 authorities gated with ranks. Scale shape per
    half-round: one equi-join of the score table against the edge
    list + one map-side-combinable SUM; the norm is a one-row
    broadcast; lineage localCheckpoint-truncated like PageRank/CC."""
    from web_analytics_visits_re_processing_spark.operators.graph import (
        hits_bipartite_scaled,
    )
    from web_analytics_visits_re_processing_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("hub"), F.col("l_partkey").alias("auth"))
        .distinct()
    )
    a = hits_bipartite_scaled(edges, n_rounds=2)
    # TakeOrdered top-20 first (distributed per-partition heaps),
    # then rank the bounded 20-row result — r9 single-partition-
    # window retirement (the authority table is node-grain and grows
    # with the data; the old plan ranked ALL nodes on one task to
    # keep 20).
    w = Window.orderBy(F.col("authority_e6").desc(), "node")
    return (
        a.orderBy(F.col("authority_e6").desc(), "node")
        .limit(20)
        .withColumn("rnk", F.row_number().over(w))
        .select(
            F.col("node").alias("part"),
            "authority_e6",
            "rnk",
        )
        .orderBy("rnk")
    )


# --- EWMA via recursive CTE -----------------------------------------------------


@query(
    "ewma_daily_revenue",
    # EWMA is inherently RECURSIVE (each value depends on the previous
    # smoothed value), so it runs as a recursive CTE — in integer
    # tenths (α = 0.2 exactly: ewma = (2·x + 8·prev) div 10), making
    # the whole recursion engine-exact with zero float state.
    oracle="""
WITH RECURSIVE seq AS (
    SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS n FROM (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(FLOOR(value * 100)::BIGINT) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE))
), ew AS (
    SELECT n, d, x, x AS ewma FROM seq WHERE n = 1
    UNION ALL
    SELECT s.n, s.d, s.x, (2 * s.x + 8 * e.ewma) // 10
    FROM ew e JOIN seq s ON s.n = e.n + 1
)
SELECT n AS day_n, strftime(d, '%Y-%m-%d') AS day,
       x AS revenue_cents, ewma::BIGINT AS ewma_cents
FROM ew ORDER BY day_n
""",
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily purchase
    revenue, α = 0.2 — the smoother behind every ops dashboard's
    trend line. EWMA is the canonical NON-associative aggregate (each
    day's value depends on the previous smoothed value), so it cannot
    be a window sum — it runs as a RECURSIVE CTE (Spark 4 recursive
    CTE support, same shape as the month-spine battery), one
    recursion step per day over the ~30-row daily rollup. Integer
    tenths keep it engine-exact: ewma = (2·x + 8·prev) div 10 —
    truncating division each step, no float state anywhere, so the
    full recursion replays verbatim in SQL. Scale: the recursion
    depth is DAYS (bounded, tiny), never events; the event-scale work
    is one map-side-combined daily rollup, staged (``_daily_seq``) so
    the recursion never re-evaluates it (pre-fix it re-scanned events
    per step — 10 s at sf0.1, ~4 s after). The residual cost is
    Spark's per-step plan iteration (~0.1 s/day, FIXED — identical at
    100 TB because recursive length is calendar length)."""
    # Materialize the ~30-row daily rollup BEFORE recursing: a
    # recursive formulation re-evaluates its referenced relations
    # each step, and recursing directly over the event-scale rollup
    # re-scanned events ~30 times (measured 10 s at sf0.1).
    #
    # r13: the recursion now runs as ONE aggregate() array fold over
    # the collected daily spine (the Holt convention — r12 unrolled
    # the CTE 4 days/step for 6.5 -> 3.0 s; the fold removes the
    # per-iteration plan cost entirely: ~0.5 s warm, output
    # byte-identical, per-step arithmetic verbatim). km_survival
    # keeps the recursive-CTE form — that Spark surface stays
    # exercised where the state is a survival product, and the CTE is
    # the right tool when the spine is NOT collectible.
    seq = _daily_seq(spark, sf_dir)
    folded = seq.agg(
        F.sort_array(F.collect_list(F.struct("n", "d", "x"))).alias("s")
    ).select(
        F.explode(
            F.expr(
                """
aggregate(
  s,
  named_struct('e', CAST(NULL AS BIGINT),
    'out', CAST(array() AS
        ARRAY<STRUCT<day_n: INT, d: DATE, x: BIGINT, ew: BIGINT>>)),
  (acc, r) -> CASE WHEN acc.e IS NULL THEN
      named_struct('e', CAST(r.x AS BIGINT),
        'out', array(named_struct('day_n', r.n, 'd', r.d,
          'x', CAST(r.x AS BIGINT), 'ew', CAST(r.x AS BIGINT))))
    ELSE
      named_struct('e', (2 * r.x + 8 * acc.e) div 10,
        'out', concat(acc.out, array(named_struct('day_n', r.n, 'd', r.d,
          'x', CAST(r.x AS BIGINT), 'ew', (2 * r.x + 8 * acc.e) div 10))))
    END,
  acc -> acc.out)
"""
            )
        ).alias("r")
    )
    return (
        folded.select(
            F.col("r.day_n").alias("day_n"),
            F.date_format("r.d", "yyyy-MM-dd").alias("day"),
            F.col("r.x").alias("revenue_cents"),
            F.col("r.ew").alias("ewma_cents"),
        )
        .orderBy("day_n")
    )


# --- autocorrelation function ---------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "acf_daily_revenue",
    # Lag-k Pearson of the daily revenue series, k = 1..7, in the
    # CUPED convention: no float moment anywhere — the signed SQUARED
    # correlation sign(cov)·cov²·1e6 div (varX·varY) is exact in
    # decimal(38,0)/HUGEINT (cov² and varX·varY are exactly the
    # Pearson-overflow case the Spearman tier documents; the squared
    # form is what decimal width makes safe).
    oracle=f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(FLOOR(value * 100)::BIGINT) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)
), seq AS (
    SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS n FROM daily
), pairs AS (
    SELECT k.range::BIGINT AS lag, a.x AS x, b.x AS y
    FROM range(1, {_ACF_MAX_LAG + 1}) k
    JOIN seq a ON TRUE
    JOIN seq b ON b.n = a.n + k.range
), st AS (
    SELECT lag, COUNT(*)::BIGINT AS n_pairs,
           SUM(x)::BIGINT AS sx, SUM(y)::BIGINT AS sy,
           SUM(x::HUGEINT * x)::HUGEINT AS sxx,
           SUM(y::HUGEINT * y)::HUGEINT AS syy,
           SUM(x::HUGEINT * y)::HUGEINT AS sxy
    FROM pairs GROUP BY lag
)
SELECT lag, n_pairs,
       CAST(CASE WHEN n_pairs::HUGEINT * sxy - sx::HUGEINT * sy < 0
                 THEN -1 ELSE 1 END
            * ((n_pairs::HUGEINT * sxy - sx::HUGEINT * sy)
               * (n_pairs::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000)
            // GREATEST((n_pairs::HUGEINT * sxx - sx::HUGEINT * sx)
                * (n_pairs::HUGEINT * syy - sy::HUGEINT * sy), 1)
            AS BIGINT) AS acf2_signed_ppm
FROM st ORDER BY lag
""",
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily purchase revenue at lags 1..7 — the
    'does this series remember itself' readout that separates weekly
    seasonality (a lag-7 spike) from noise BEFORE anyone fits a
    forecast. Per-lag Pearson over (x_t, x_{{t+k}}) pairs in the CUPED
    integer convention: the linear moments (sx, sy) are int64 sums off
    the ~30-row daily rollup and the quadratic moments (sxx, syy, sxy)
    widen each x to decimal(38,0)/HUGEINT BEFORE the multiply — sum(x²)
    in int64 overflows once daily revenue tops ~5·10⁸ cents, so the
    widening covers the raw moments, not just the downstream products.
    The gated scalar is the SIGNED SQUARED
    correlation sign(cov)·cov²·1e6 div (varX·varY) — cov² and the
    variance product are the documented Pearson-overflow pair that
    decimal(38,0)/HUGEINT width makes exact, and no sqrt or float
    division ever exists. A degenerate lag (≤1 pair, or a constant
    window) has zero variance AND zero covariance, so the
    greatest(·,1) divisor guard degrades it to exactly 0 instead of
    raising under ANSI mode — the KMV lesson applied preemptively. Scale: one event-scale daily rollup; the
    lag spine join is 7×days rows."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("x"))
    )
    seq = daily.select(
        "x", F.row_number().over(Window.orderBy("d")).alias("n")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(F.col("id").alias("lag"))
    b = seq.select(F.col("x").alias("y"), F.col("n").alias("n2"))
    pairs = (
        seq.crossJoin(F.broadcast(lags))
        .join(b, F.col("n2") == F.col("n") + F.col("lag"))
        .select("lag", "x", "y")
    )
    # The raw moments widen BEFORE the multiply: sum(x*x) in int64
    # overflows once daily revenue tops ~5e8 cents (x² ≈ 2.5e17 × 30
    # days > 2⁶³), so x casts to decimal(38,0) first — the same
    # widening the covariance/variance products already carry.
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    st = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dx * F.col("x")).alias("sxx"),
        F.sum(dy * F.col("y")).alias("syy"),
        F.sum(dx * F.col("y")).alias("sxy"),
    )
    cov = (
        "(cast(n_pairs as decimal(38,0)) * sxy"
        " - cast(sx as decimal(38,0)) * sy)"
    )
    return st.select(
        "lag",
        "n_pairs",
        F.expr(
            f"cast((case when {cov} < 0 then -1 else 1 end)"
            f" * ({cov} * {cov} * 1000000)"
            " div greatest((cast(n_pairs as decimal(38,0)) * sxx"
            "       - cast(sx as decimal(38,0)) * sx)"
            "      * (cast(n_pairs as decimal(38,0)) * syy"
            "         - cast(sy as decimal(38,0)) * sy), 1) as long)"
        ).alias("acf2_signed_ppm"),
    ).orderBy("lag")


# --- Theil–Sen robust trend -----------------------------------------------------


@query(
    "theil_sen_daily_trend",
    # Median-of-pairwise-slopes trend of daily revenue: slopes are
    # floored integer milli-cents/day ((xj−xi)·1000 div (j−i), j>i so
    # the divisor is positive), the median is the cumulative-rank
    # lower median over the ~days²/2 slope set — days are bounded, so
    # the pair set is too (never events²).
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(FLOOR(value * 100)::BIGINT) AS BIGINT) AS x
    FROM events WHERE event_type = 'purchase' GROUP BY CAST(ts AS DATE)
), seq AS (
    SELECT x, ROW_NUMBER() OVER (ORDER BY d) AS n FROM daily
), slopes AS (
    SELECT ((b.x - a.x) * 1000) // (b.n - a.n) AS s
    FROM seq a JOIN seq b ON b.n > a.n
), ranked AS (
    SELECT s, ROW_NUMBER() OVER (ORDER BY s) AS r,
           COUNT(*) OVER () AS np
    FROM slopes
)
SELECT MAX(np)::BIGINT AS n_pairs,
       MIN(CASE WHEN 2 * r >= np + 1 THEN s END)::BIGINT
           AS slope_milli_p50
FROM ranked
""",
)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily purchase revenue — the median
    of all pairwise day-to-day slopes, the trend estimator a single
    campaign-day outlier CANNOT drag (29% breakdown point vs OLS's
    zero; Sen 1968). Integer-exact: each slope is floored
    milli-cents/day with a positive divisor by construction, and the
    median is the repo's cumulative-rank lower-median rule over the
    slope multiset. Scale: the pair set is days², and days are
    CALENDAR-bounded — ~465 slope rows for a month, independent of
    event volume; the only event-scale work is the daily rollup."""
    ev = _events(spark, sf_dir)
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100)).cast("long").alias("x"))
    )
    seq = daily.select(
        "x", F.row_number().over(Window.orderBy("d")).alias("n")
    )
    a = seq.select(F.col("x").alias("xa"), F.col("n").alias("na"))
    b = seq.select(F.col("x").alias("xb"), F.col("n").alias("nb"))
    slopes = (
        a.join(b, F.col("nb") > F.col("na"))
        .select(F.expr("((xb - xa) * 1000) div (nb - na)").alias("s"))
    )
    ranked = slopes.select(
        "s",
        F.row_number().over(Window.orderBy("s")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    return ranked.agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.min(F.when(2 * F.col("r") >= F.col("np") + 1, F.col("s")))
        .cast("long")
        .alias("slope_milli_p50"),
    )


# --- Holt linear trend + one-step backtest ---------------------------------------


@query(
    "holt_linear_backtest",
    # Holt's double-exponential smoothing (level + trend), α=0.2 /
    # β=0.3 in integer tenths, as a recursive CTE carrying TWO state
    # columns — with the one-step-ahead forecast (made at t−1) and its
    # absolute error riding along, so the output IS the backtest.
    # Negative trends are safe: both engines' integer division
    # truncates toward zero (verified -7//10 = 0 = -7 div 10).
    oracle="""
WITH RECURSIVE seq AS (
    SELECT d, x, ROW_NUMBER() OVER (ORDER BY d) AS n FROM (
        SELECT CAST(ts AS DATE) AS d,
               CAST(SUM(FLOOR(value * 100)::BIGINT) AS BIGINT) AS x
        FROM events WHERE event_type = 'purchase'
        GROUP BY CAST(ts AS DATE))
), h AS (
    SELECT n, d, x, x AS l, CAST(0 AS BIGINT) AS b,
           CAST(NULL AS BIGINT) AS f
    FROM seq WHERE n = 1
    UNION ALL
    SELECT s.n, s.d, s.x,
           (2 * s.x + 8 * (h.l + h.b)) // 10,
           (3 * ((2 * s.x + 8 * (h.l + h.b)) // 10 - h.l) + 7 * h.b) // 10,
           h.l + h.b
    FROM h JOIN seq s ON s.n = h.n + 1
)
SELECT n AS day_n, strftime(d, '%Y-%m-%d') AS day, x AS revenue_cents,
       l::BIGINT AS level_cents, b::BIGINT AS trend_cents,
       f::BIGINT AS forecast_cents,
       ABS(x - f)::BIGINT AS abs_err_cents
FROM h ORDER BY day_n
""",
)
def q_holt_linear_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method (double exponential smoothing: level +
    trend) over daily purchase revenue, WITH its own one-step-ahead
    backtest — every row carries the forecast that was made for it
    yesterday and the absolute error, which is how a forecasting
    choice should be judged (EWMA catches the level, Holt also tracks
    drift). Two recursive state columns in integer tenths (α=0.2,
    β=0.3 exact); trend can go NEGATIVE, which is safe because both
    engines' integer division truncates toward zero (probed, not
    assumed: -7//10 = 0 in DuckDB = -7 div 10 in Spark — floor-division
    semantics would have silently diverged here).

    Spark-side plan (r13): the series is CALENDAR-bounded (one row
    per day at any data scale), so the recursion runs as ONE
    ``aggregate()`` array fold over the collected daily spine —
    per-step arithmetic identical to the recursive CTE the oracle
    replays, but a single O(1)-size plan instead of depth-many
    iterated plans (the r12 unroll attacked the same cost and was
    rejected for Holt: the 2-state chain grows expressions ~4× per
    level; the fold carries state at RUNTIME, so expression size is
    constant). The event-scale work remains the one daily rollup;
    ewma/km keep the recursive-CTE form (that Spark surface stays
    exercised — it is the right tool when the spine is NOT small)."""
    seq = _daily_seq(spark, sf_dir)
    folded = seq.agg(
        F.sort_array(F.collect_list(F.struct("n", "d", "x"))).alias("s")
    ).select(
        F.explode(
            F.expr(
                """
aggregate(
  s,
  named_struct(
    'l', CAST(NULL AS BIGINT), 'b', CAST(NULL AS BIGINT),
    'out', CAST(array() AS
        ARRAY<STRUCT<day_n: INT, d: DATE, x: BIGINT,
                     l: BIGINT, b: BIGINT, f: BIGINT>>)),
  (acc, r) -> CASE WHEN acc.l IS NULL THEN
      named_struct('l', CAST(r.x AS BIGINT), 'b', CAST(0 AS BIGINT),
        'out', array(named_struct(
          'day_n', r.n, 'd', r.d, 'x', CAST(r.x AS BIGINT),
          'l', CAST(r.x AS BIGINT), 'b', CAST(0 AS BIGINT),
          'f', CAST(NULL AS BIGINT))))
    ELSE
      named_struct(
        'l', (2 * r.x + 8 * (acc.l + acc.b)) div 10,
        'b', (3 * ((2 * r.x + 8 * (acc.l + acc.b)) div 10 - acc.l)
              + 7 * acc.b) div 10,
        'out', concat(acc.out, array(named_struct(
          'day_n', r.n, 'd', r.d, 'x', CAST(r.x AS BIGINT),
          'l', (2 * r.x + 8 * (acc.l + acc.b)) div 10,
          'b', (3 * ((2 * r.x + 8 * (acc.l + acc.b)) div 10 - acc.l)
                + 7 * acc.b) div 10,
          'f', acc.l + acc.b))))
    END,
  acc -> acc.out)
"""
            )
        ).alias("r")
    )
    return (
        folded.select(
            F.col("r.day_n").alias("day_n"),
            F.date_format("r.d", "yyyy-MM-dd").alias("day"),
            F.col("r.x").alias("revenue_cents"),
            F.col("r.l").alias("level_cents"),
            F.col("r.b").alias("trend_cents"),
            F.col("r.f").alias("forecast_cents"),
            F.abs(F.col("r.x") - F.col("r.f")).cast("long").alias(
                "abs_err_cents"
            ),
        )
        .orderBy("day_n")
    )


@query(
    "frequent_event_sequences",
    # Sequential-pattern mining (GSP/PrefixSpan family, Srikant &
    # Agrawal 1996): support of every ordered event-type
    # 3-SUBSEQUENCE across sessions — order preserved, gaps allowed,
    # which is exactly what the contiguous path-3gram query cannot
    # see (view→…→click→…→purchase counts however much noise sits
    # between). Containment tests use the greedy first-occurrence
    # rule (first a, first b after it, first c after that), which is
    # exact for subsequence existence; the pattern grid is the
    # alphabet cubed (≤5³ rows, a bounded spine), and positions are
    # 1-based in both engines (Spark array_position / DuckDB
    # list_position, absent → 0).
    oracle=f"""
WITH RECURSIVE {_SESS_CTE}, s2 AS (
    SELECT user_id, session_seq,
           list(event_type ORDER BY ts, event_id) AS types
    FROM sess GROUP BY user_id, session_seq
), al AS (
    SELECT DISTINCT event_type AS t FROM events
), grid AS (
    SELECT a.t AS a, b.t AS b, c.t AS c
    FROM al a CROSS JOIN al b CROSS JOIN al c
), m AS (
    SELECT g.a, g.b, g.c,
           (SELECT COUNT(*) FROM s2
            WHERE COALESCE(list_position(s2.types, g.a), 0) > 0
              AND COALESCE(list_position(list_slice(s2.types,
                    COALESCE(list_position(s2.types, g.a), 0) + 1,
                    len(s2.types)), g.b), 0) > 0
              AND COALESCE(list_position(list_slice(s2.types,
                    COALESCE(list_position(s2.types, g.a), 0)
                    + COALESCE(list_position(list_slice(s2.types,
                        COALESCE(list_position(s2.types, g.a), 0) + 1,
                        len(s2.types)), g.b), 0) + 1,
                    len(s2.types)), g.c), 0) > 0
           )::BIGINT AS support
    FROM grid g
), tot AS (SELECT COUNT(*)::BIGINT AS n_sessions FROM s2)
SELECT m.a, m.b, m.c, m.support,
       ((m.support * 1000000) // tot.n_sessions)::BIGINT AS support_ppm
FROM m, tot
WHERE m.support > 0
""",
)
def q_frequent_event_sequences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Frequent ordered 3-subsequences of event types across sessions
    — sequential-pattern mining (Srikant & Agrawal 1996's GSP
    semantics): a session supports (a,b,c) iff it contains them IN
    ORDER with anything in between, the behavioral signature family
    that contiguous n-grams miss (most real funnels are interleaved
    with noise events). Containment is the greedy first-occurrence
    scan — provably exact for subsequence existence — expressed as
    three array_position/slice steps on the session's type sequence,
    all JVM-side. Scale shape: one session collapse (the shared
    30-min convention), then a ≤|alphabet|³-row broadcast grid
    replicated against session sequences — compute-bound map-side
    fan-out with NO shuffle growth (the count collapses to ≤125
    partial rows per partition); at 100 TB the fan-out prunes by the
    Apriori rule (count pairs first, expand only frequent prefixes)
    — documented, not needed at a 5-type alphabet. Output is every
    pattern with support > 0 (≤125 rows, bounded). The 125× match
    work runs over DISTINCT type sequences weighted by multiplicity
    (the BPE distinct-vocab trick — sessions repeat the same handful
    of shapes, so the grid replication touches the shape table, not
    the session table; ~2 s warm at sf0.1)."""
    sess = with_session_columns(
        _events(spark, sf_dir), gap_seconds=1800, order_cols=["event_id"]
    )
    s2 = (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            F.expr("transform(evs, x -> x.event_type)").alias("types")
        )
        .groupBy("types")
        .agg(F.count(F.lit(1)).alias("nsess"))
    )
    al = (
        _events(spark, sf_dir).select(
            F.col("event_type").alias("t")
        ).distinct()
    )
    grid = (
        al.select(F.col("t").alias("a"))
        .crossJoin(al.select(F.col("t").alias("b")))
        .crossJoin(al.select(F.col("t").alias("c")))
    )
    rep = s2.crossJoin(F.broadcast(grid))
    matched = rep.select(
        "a",
        "b",
        "c",
        "nsess",
        F.expr(
            "case when array_position(types, a) > 0 then"
            " cast(array_position(types, a) as int) else 0 end"
        ).alias("pa"),
        "types",
    ).select(
        "a",
        "b",
        "c",
        "nsess",
        "pa",
        F.expr(
            "case when pa > 0 then cast(array_position("
            "slice(types, pa + 1, size(types)), b) as int) else 0 end"
        ).alias("pbr"),
        "types",
    ).select(
        "a",
        "b",
        "c",
        "nsess",
        "pa",
        "pbr",
        F.expr(
            "case when pa > 0 and pbr > 0 then cast(array_position("
            "slice(types, pa + pbr + 1, size(types)), c) as int)"
            " else 0 end"
        ).alias("pcr"),
    )
    counts = matched.groupBy("a", "b", "c").agg(
        F.sum(
            F.when(
                (F.col("pa") > 0) & (F.col("pbr") > 0) & (F.col("pcr") > 0),
                F.col("nsess"),
            ).otherwise(0)
        ).alias("support")
    )
    tot = s2.agg(F.sum("nsess").alias("n_sessions"))
    return (
        counts.where(F.col("support") > 0)
        .crossJoin(F.broadcast(tot))  # one-row total
        .select(
            "a",
            "b",
            "c",
            "support",
            F.expr("(support * 1000000) div n_sessions").alias(
                "support_ppm"
            ),
        )
    )
