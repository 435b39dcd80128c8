"""Extended relational surface (round 2): file-format READERS under
the gate, pivot, exact percentiles, statistical aggregates, ordered
collection, date/regexp function coverage.

The CSV/JSON reader queries close VERDICT r1 "What's missing" #6 —
round 1 exercised only the writers. Like the hit-log TSV queries, the
fixture is derived from ``events`` and round-tripped through the real
reader path; the oracle computes the same result straight from the
parquet view (the round trip is lossless for the projected columns),
so a reader that mangles types, quoting, or nulls hash-mismatches.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.sources.layout import memo, staged
from web_analytics_visits_re_processing_spark.sources.tables import load_table
from web_analytics_visits_re_processing_spark.streaming.replay import replay_workdir

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


# --- file-format readers ------------------------------------------------------

def _roundtrip_dir(sf_dir: str, fmt: str) -> str:
    return replay_workdir(f"roundtrip_{fmt}", sf_dir)


def _events_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ts re-expressed as epoch micros so the text formats round-trip
    # exactly (timestamp-string parsing would re-enter tz/format land).
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


_ROUNDTRIP_ORACLE = """
SELECT event_type,
       COUNT(*) AS n_events,
       SUM(epoch_us(ts) % 1000)::BIGINT AS ts_us_checksum,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS value_cents_sum,
       MIN(event_id) AS min_event_id,
       MAX(user_id) AS max_user_id
FROM events
GROUP BY event_type
"""


def _roundtrip_agg(df: DataFrame) -> DataFrame:
    # value checksum is SUM over per-row floor-scaled integers, not
    # ROUND(SUM(double)): a long sum is invariant to partition count
    # and reduction order, so the hash can't flip on a half-boundary
    # double. The ::BIGINT casts keep DuckDB's SUM out of HUGEINT
    # (which lands in pandas as float64 and breaks an exact hash
    # against Spark's bigint).
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("ts_us") % 1000).alias("ts_us_checksum"),
        F.sum(F.floor(F.col("value") * 100)).alias("value_cents_sum"),
        F.min("event_id").alias("min_event_id"),
        F.max("user_id").alias("max_user_id"),
    )


@query("csv_reader_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_csv_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV READER under the gate: events → csv (header, quoted) →
    ``spark.read.csv`` with explicit schema → aggregate. A reader bug
    (type coercion, quoting, header skip) breaks the hash match."""
    out = _roundtrip_dir(sf_dir, "csv")
    src = _events_projection(spark, sf_dir)
    src.write.mode("overwrite").option("header", "true").csv(out)
    back = spark.read.schema(
        "event_id long, ts_us long, user_id long, event_type string, value double"
    ).option("header", "true").csv(out)
    return _roundtrip_agg(back)


@query("json_reader_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_json_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines READER under the gate (same contract as the CSV
    round trip; doubles can't round-trip through text by default, so
    the fixture column set keeps value as a parsed double and the
    checksum aggregates expose any loss)."""
    out = _roundtrip_dir(sf_dir, "json")
    src = _events_projection(spark, sf_dir)
    src.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id long, ts_us long, user_id long, event_type string, value double"
    ).json(out)
    return _roundtrip_agg(back)


# --- pivot --------------------------------------------------------------------

@query(
    "pivot_event_type_counts",
    oracle="""
SELECT user_id % 10 AS user_bucket,
       """
    + ",\n       ".join(
        # ::BIGINT: DuckDB SUM(int) is HUGEINT → float64 in pandas,
        # which breaks the driver's exact hash against Spark's bigint.
        f"SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT AS {t}"
        for t in EVENT_TYPES
    )
    + """
FROM events
GROUP BY user_id % 10
""",
)
def q_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot with an explicit value list (no extra values-scan
    job, stable column order) — the oracle states the equivalent
    CASE-WHEN conditional aggregation."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.withColumn("user_bucket", F.col("user_id") % 10)
        .groupBy("user_bucket")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
    )


# --- exact percentiles & statistical aggregates -------------------------------

@query(
    "percentiles_by_event_type",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 4) AS p25,
       ROUND(quantile_cont(value, 0.50), 4) AS p50,
       ROUND(quantile_cont(value, 0.95), 4) AS p95
FROM events
GROUP BY event_type
""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT interpolated percentiles (``F.percentile`` ≡ DuckDB
    ``quantile_cont`` — both sort-and-interpolate, so values match to
    the rounding; the approx sketch variant stays rows-only like
    approx_count_distinct)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 4).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 4).alias("p50"),
        F.round(F.percentile("value", F.lit(0.95)), 4).alias("p95"),
    )


@query(
    "stats_aggregates_by_type",
    oracle="""
SELECT event_type,
       ROUND(stddev_samp(value), 4) AS value_stddev,
       ROUND(var_samp(value), 4) AS value_var,
       ROUND(corr(value, user_id), 4) AS value_user_corr,
       ROUND(covar_samp(value, user_id), 4) AS value_user_covar
FROM events
GROUP BY event_type
""",
)
def q_stats_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically-stable one-pass moment aggregates (stddev/var/
    corr/covar) — both engines use Welford-style co-moments, verified
    to agree at 4 decimals on this data."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 4).alias("value_stddev"),
        F.round(F.var_samp("value"), 4).alias("value_var"),
        F.round(F.corr("value", "user_id"), 4).alias("value_user_corr"),
        F.round(F.covar_samp("value", "user_id"), 4).alias("value_user_covar"),
    )


# --- Pandas-UDF surfaces (grouped-map, grouped-agg) ---------------------------

@query(
    "zscore_per_user_applyinpandas",
    oracle="""
SELECT event_id,
       user_id,
       CASE WHEN stddev_samp(value) OVER w > 0
            THEN ROUND((value - avg(value) OVER w)
                       / stddev_samp(value) OVER w, 4)
            ELSE 0.0 END AS value_z
FROM events
WHERE user_id < 20
WINDOW w AS (PARTITION BY user_id)
""",
)
def q_zscore_applyinpandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map ``applyInPandas``: per-user z-score normalization,
    one Arrow batch per group. Deliberately ALSO expressible as a
    window aggregate (the oracle) — the point is gating the
    grouped-map UDF surface itself: schema contract, group iteration,
    pandas-vs-JVM float agreement (ddof=1 matches stddev_samp)."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)
        mean = pdf["value"].mean()
        z = (pdf["value"] - mean) / sd if sd and sd > 0 else 0.0
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "value_z": (z if sd and sd > 0 else pd.Series([0.0] * len(pdf))).round(4),
            }
        )

    events = load_table(spark, sf_dir, "events").where(F.col("user_id") < 20)
    return (
        events.select("event_id", "user_id", "value")
        .groupBy("user_id")
        .applyInPandas(zscore, "event_id long, user_id long, value_z double")
    )


@query(
    "geomean_value_grouped_agg_udf",
    oracle="""
SELECT event_type,
       ROUND(exp(avg(ln(value))), 4) AS value_geomean
FROM events
WHERE value > 0
GROUP BY event_type
""",
)
def q_geomean_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate ``pandas_udf`` (custom UDAF surface):
    geometric mean via numpy log-mean-exp per Arrow group, checked
    against the exp(avg(ln)) SQL identity. NB ``pd``/``np`` must be
    module-level so the UDF's string type hints resolve (see
    operators.similarity.cosine_scores_pandas)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    events = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    return events.groupBy("event_type").agg(
        F.round(geomean("value"), 4).alias("value_geomean")
    )


# --- ordered collection -------------------------------------------------------

@query(
    "collect_sorted_pages_per_user",
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), ',') AS types_csv,
       COUNT(*) AS n_events
FROM events
WHERE user_id < 20
GROUP BY user_id
""",
)
def q_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sort_array → join: deterministic ordered
    collection (raw collect_list order is partition-dependent — always
    sort before comparing or emitting). Whale-key safe: the set is
    bounded by the EVENT-TYPE DOMAIN (≤5 distinct values), not by a
    user's row count, and dedup happens in the map-side partial
    aggregate — a 10^6-hit bot user still contributes ≤5 elements."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.where(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.array_join(F.sort_array(F.collect_set("event_type")), ",").alias(
                "types_csv"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- date/time + regexp function surface -------------------------------------

@query(
    "date_functions_orders",
    oracle="""
SELECT o_orderkey,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month,
       dayofweek(o_orderdate) AS order_dow,
       strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
       datediff('day', DATE '2024-01-01', o_orderdate) AS days_since_2024
FROM orders
WHERE o_orderkey < 500
""",
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-function surface: trunc, day-of-week, arithmetic, diff.
    DuckDB ``dayofweek`` is 0=Sunday; Spark's is 1=Sunday — align with
    ``dayofweek - 1``. Dates are emitted as yyyy-MM-dd strings: a
    DATE-typed column crosses engines as date objects on one side and
    datetime64 on the other, which the value comparison can't unify."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.where(F.col("o_orderkey") < 500).select(
        "o_orderkey",
        F.date_format(F.trunc("o_orderdate", "month"), "yyyy-MM-dd").alias(
            "order_month"
        ),
        (F.dayofweek("o_orderdate") - 1).alias("order_dow"),
        F.date_format(F.date_add("o_orderdate", 90), "yyyy-MM-dd").alias("due_date"),
        F.datediff("o_orderdate", F.lit("2024-01-01").cast("date")).alias(
            "days_since_2024"
        ),
    )


@query(
    "regexp_functions_customers",
    oracle="""
SELECT c_custkey,
       regexp_extract(c_name, '([0-9]+)', 1) AS name_digits,
       regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
       CASE WHEN regexp_matches(c_mktsegment, '^(AUTO|BUIL)') THEN 1 ELSE 0 END
           AS segment_flag
FROM customer
WHERE c_custkey < 200
""",
)
def q_regexp_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp surface: extract (first group), global replace, rlike
    flag — identical POSIX-ish patterns evaluate the same in both
    engines."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.where(F.col("c_custkey") < 200).select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.regexp_replace("c_name", r"[0-9]", "#").alias("name_masked"),
        F.col("c_mktsegment").rlike("^(AUTO|BUIL)").cast("int").alias("segment_flag"),
    )


# --- SQL-text entry path ------------------------------------------------------

def _register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


@query(
    "sql_q3_shipping_priority",
    oracle="""
SELECT o.o_orderkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey
LIMIT 10
""",
)
def q_sql_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-TEXT entry path (everything else in the registry is
    DataFrame API): temp views + ``spark.sql`` — the same Catalyst
    plan space, exercised through the parser. TPC-H Q3 shape: 3-way
    join, pushed filters, agg, top-10."""
    _register_views(spark, sf_dir, ("customer", "orders", "lineitem"))
    return spark.sql("""
        SELECT o.o_orderkey,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS o_orderdate
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < DATE '1995-03-15'
          AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o.o_orderkey, o.o_orderdate
        ORDER BY revenue DESC, o.o_orderkey
        LIMIT 10
    """)


@query(
    "sql_corrupt_json_policy",
    # event_ids 0..97 with id % 13 == 0 are written as malformed JSON
    # by the fixture writer; the reader must keep good rows and count
    # the corrupt ones rather than fail or silently drop.
    oracle="""
SELECT COUNT(*) FILTER (WHERE event_id % 13 != 0) AS n_good,
       COUNT(*) FILTER (WHERE event_id % 13 = 0) AS n_corrupt,
       CAST(SUM(user_id) FILTER (WHERE event_id % 13 != 0) AS BIGINT) AS user_id_sum
FROM events
WHERE event_id < 98
""",
)
def q_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON reader policy: corrupt records land in
    ``_corrupt_record`` instead of failing the scan or vanishing —
    the drop-don't-crash contract the hit-log parser follows, on the
    JSON surface."""
    out = _roundtrip_dir(sf_dir, "corrupt_json")
    src = _events_projection(spark, sf_dir).where(F.col("event_id") < 98)
    lines = src.select(
        F.when(
            F.col("event_id") % 13 == 0,
            F.concat(F.lit('{"event_id": '), F.col("event_id"), F.lit(", BROKEN")),
        )
        .otherwise(F.to_json(F.struct("event_id", "user_id")))
        .alias("value")
    )
    lines.write.mode("overwrite").text(out)
    back = spark.read.schema(
        "event_id long, user_id long, _corrupt_record string"
    ).option("mode", "PERMISSIVE").option(
        "columnNameOfCorruptRecord", "_corrupt_record"
    ).json(out)
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("user_id"))).alias(
            "user_id_sum"
        ),
    )


# --- round-3 additions: ORC reader, unpivot, arg-max, skew-safe agg ----------

@query("orc_reader_roundtrip", oracle=_ROUNDTRIP_ORACLE)
def q_orc_reader(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC READER under the gate (columnar sibling of the parquet
    path — same round-trip contract as the CSV/JSON readers; ORC is
    binary+typed so the projection round-trips losslessly)."""
    out = _roundtrip_dir(sf_dir, "orc")
    src = _events_projection(spark, sf_dir)
    src.write.mode("overwrite").orc(out)
    back = spark.read.schema(
        "event_id long, ts_us long, user_id long, event_type string, value double"
    ).orc(out)
    return _roundtrip_agg(back)


@query(
    "unpivot_part_measures",
    oracle="""
SELECT p_partkey, 'p_retailprice' AS measure, p_retailprice::DOUBLE AS val
FROM part
UNION ALL
SELECT p_partkey, 'p_size', p_size::DOUBLE FROM part
""",
)
def q_unpivot_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (``DataFrame.unpivot`` / ``melt``): the part
    table's numeric measures stacked into (measure, val) rows — a
    narrow per-row expansion, no shuffle."""
    return (
        load_table(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
            F.col("p_size").cast("double").alias("p_size"),
        )
        .unpivot(
            ids=["p_partkey"],
            values=["p_retailprice", "p_size"],
            variableColumnName="measure",
            valueColumnName="val",
        )
    )


@query(
    "argmax_event_per_user",
    # Composite (value, event_id) tiebreak encoded as ONE exact BIGINT
    # key (round(value*100) * 2^40 + event_id): DuckDB's arg_max takes
    # only scalar ordering keys, and the integer encoding keeps the
    # comparison bit-exact in both engines (value has 2 decimals;
    # event_id < 2^40).
    oracle="""
SELECT user_id,
       arg_max(event_type,
               CAST(round(value * 100) AS BIGINT) * 1099511627776 + event_id)
           AS top_event_type,
       MAX(value) AS max_value
FROM events
GROUP BY user_id
""",
)
def q_argmax_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user arg-max (``max_by``): the event type of each user's
    highest-value event, ties broken by event_id. One hash aggregate —
    the single-shuffle alternative to the window/row_number top-1
    pattern (no sort, map-side partial arg-max)."""
    key = (
        F.round(F.col("value") * 100, 0).cast("long") * F.lit(1099511627776).cast("long")
        + F.col("event_id")
    )
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max_by("event_type", key).alias("top_event_type"),
            F.max("value").alias("max_value"),
        )
    )


@query(
    "salted_two_stage_agg",
    # Result ≡ a plain GROUP BY — salting is pure plan shape. Sums are
    # rounded: distributed addition order differs from DuckDB's.
    oracle="""
SELECT event_type, COUNT(*)::BIGINT AS n_events,
       ROUND(SUM(value), 2) AS value_sum
FROM events
GROUP BY event_type
""",
)
def q_salted_two_stage_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation: 5 event types over millions of
    rows is a worst-case skewed groupBy (5 reducers own everything).
    Stage 1 fans each hot key out across 16 salt buckets (uniform
    shuffle); stage 2 re-aggregates the 5×16 partials — the classic
    salting pattern, gated to prove it changes the plan, not the
    answer. (Spark's partial aggregation already map-side-combines;
    explicit salting is the escape hatch when per-key state, e.g.
    count-distinct, defeats partial agg.)"""
    from web_analytics_visits_re_processing_spark.functions.text import hash64

    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn(
        "_salt", F.pmod(hash64(F.col("event_id").cast("string")), F.lit(16))
    )
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("n_partial"),
        F.sum("value").alias("sum_partial"),
    )
    return partial.groupBy("event_type").agg(
        F.sum("n_partial").alias("n_events"),
        F.round(F.sum("sum_partial"), 2).alias("value_sum"),
    )


# --- data-engineering surface: gap-fill, SCD2, CDC merge ---------------------

@query(
    "gap_fill_hourly_counts",
    oracle="""
WITH b AS (
    SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
    FROM events
),
spine AS (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b
),
types AS (SELECT DISTINCT event_type FROM events),
c AS (
    SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT t.event_type, epoch_us(s.h) AS hour_us,
       COALESCE(c.n, 0)::BIGINT AS n_events
FROM spine s
CROSS JOIN types t
LEFT JOIN c ON c.event_type = t.event_type AND c.h = s.h
""",
)
def q_gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine GAP FILL: hourly per-type counts with explicit
    zero rows for silent hours — the dense series dashboards and
    downstream models need. The spine is generated (``sequence`` over
    the global min/max hour — one tiny agg), cross-joined with the
    distinct-type dim (both broadcast-size at any data scale: hours ×
    types ≪ events), then LEFT-joined to the real hash-aggregated
    counts."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(
        F.min(hour).alias("h0"), F.max(hour).alias("h1")
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h")
    )
    types = ev.select("event_type").distinct()
    counts = ev.groupBy(
        "event_type", hour.alias("h")
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        F.broadcast(spine)
        .crossJoin(F.broadcast(types))
        .join(counts, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            F.coalesce("n", F.lit(0)).alias("n_events"),
        )
    )


@query(
    "scd2_user_segments",
    oracle="""
WITH o AS (
    SELECT user_id, event_type, ts, event_id,
           lag(event_type) OVER w AS prev_type
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
starts AS (
    SELECT user_id, event_type, ts, event_id
    FROM o WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type AS segment,
       epoch_us(ts) AS valid_from_us,
       epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
           AS valid_to_us
FROM starts
""",
)
def q_scd2_user_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension built from the event stream:
    consecutive same-type runs collapse into one versioned row with
    [valid_from, valid_to) — valid_to NULL marks the current version.
    Run-start detection (lag) and interval stitching (lead) share ONE
    user-keyed exchange; no self-join."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    starts = ev.withColumn("prev_type", F.lag("event_type").over(w)).where(
        F.col("prev_type").isNull()
        | (F.col("prev_type") != F.col("event_type"))
    )
    return starts.select(
        "user_id",
        F.col("event_type").alias("segment"),
        F.unix_micros("ts").alias("valid_from_us"),
        F.unix_micros(F.lead("ts").over(w)).alias("valid_to_us"),
    )


@query(
    "cdc_merge_latest_state",
    # Key state = latest (ts, event_id) row per (user_id, event_type);
    # the merge classifies keys against a T-split snapshot: rows whose
    # key exists only before T are 'unchanged', only after 'insert',
    # both 'update'. T = median-ish fixed epoch of the fixture range.
    oracle="""
WITH keyed AS (
    SELECT user_id, event_type, ts, event_id, value,
           epoch_us(ts) >= 1705500000000000 AS is_update,
           row_number() OVER (
               PARTITION BY user_id, event_type,
                            epoch_us(ts) >= 1705500000000000
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
),
base AS (SELECT * FROM keyed WHERE NOT is_update AND rn = 1),
upd  AS (SELECT * FROM keyed WHERE is_update AND rn = 1)
SELECT COALESCE(u.user_id, b.user_id) AS user_id,
       COALESCE(u.event_type, b.event_type) AS event_type,
       COALESCE(epoch_us(u.ts), epoch_us(b.ts)) AS ts_us,
       COALESCE(u.value, b.value) AS value,
       CASE WHEN b.user_id IS NULL THEN 'insert'
            WHEN u.user_id IS NULL THEN 'unchanged'
            ELSE 'update' END AS change_type
FROM base b FULL OUTER JOIN upd u
  ON b.user_id = u.user_id AND b.event_type = u.event_type
""",
)
def q_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (upsert) semantics without a table format: latest
    state per key with base-vs-update classification (what a MERGE
    INTO audit emits), as ONE aggregation — two conditional ``max_by``
    slots (base side / update side; ``max_by`` skips null ordering
    keys) fold both snapshots in a single key exchange, replacing the
    window-top-1 + full-outer-join formulation the oracle still
    spells out (4 exchanges → 1; plan-pinned in
    test_cdc_merge_single_exchange_no_join)."""
    split_us = 1_705_500_000_000_000
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id", "value",
        (F.unix_micros("ts") >= split_us).alias("is_update"),
    )
    ord_ = F.struct("ts", "event_id")
    row = F.struct("ts", "value")
    merged = ev.groupBy("user_id", "event_type").agg(
        F.max_by(row, F.when(~F.col("is_update"), ord_)).alias("b"),
        F.max_by(row, F.when(F.col("is_update"), ord_)).alias("u"),
    )
    return merged.select(
        "user_id",
        "event_type",
        F.coalesce(F.unix_micros("u.ts"), F.unix_micros("b.ts")).alias("ts_us"),
        F.coalesce("u.value", "b.value").alias("value"),
        F.when(F.col("b").isNull(), "insert")
        .when(F.col("u").isNull(), "unchanged")
        .otherwise("update")
        .alias("change_type"),
    )


@query(
    "sql_exists_scalar_subquery",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
)
""",
)
def q_sql_exists_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + uncorrelated scalar subquery through the
    SQL parser: customers with at least one above-average-price order.
    Catalyst decorrelates EXISTS into a left-semi hash join and plans
    the scalar as a broadcast single-row subquery — the declarative
    form costs nothing over the hand-built semi join."""
    _register_views(spark, sf_dir, ("customer", "orders"))
    return spark.sql("""
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (
            SELECT 1 FROM orders o
            WHERE o.o_custkey = c.c_custkey
              AND o.o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        )
    """)


@query(
    "levenshtein_nation_pairs",
    oracle="""
SELECT a.n_name AS name_a, b.n_name AS name_b,
       levenshtein(a.n_name, b.n_name) AS edit_dist
FROM nation a
JOIN nation b
  ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
""",
)
def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance string similarity (fuzzy matching): nation-name
    pairs blocked by region — the block-key equi-join keeps the pair
    space bounded, the same candidate-then-score shape as the LSH
    dedup pipeline (never all-pairs across the corpus)."""
    nation = load_table(spark, sf_dir, "nation")
    a = nation.alias("a")
    b = nation.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_name").alias("name_a"),
        F.col("b.n_name").alias("name_b"),
        F.levenshtein(F.col("a.n_name"), F.col("b.n_name")).alias("edit_dist"),
    )


@query(
    "value_histogram_by_type",
    oracle="""
SELECT event_type,
       CAST(floor(value / 0.5) AS BIGINT) AS bucket,
       COUNT(*)::BIGINT AS n,
       ROUND(MIN(value), 2) AS bucket_min,
       ROUND(MAX(value), 2) AS bucket_max
FROM events
GROUP BY event_type, bucket
""",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (0.5-wide buckets) per event type — one
    hash aggregate on a derived key; bucket count is bounded by the
    value range, so the shuffle is tiny regardless of row count."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 0.5).cast("long").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("bucket_min"),
            F.round(F.max("value"), 2).alias("bucket_max"),
        )
    )


@query(
    "rolling_1h_user_value",
    oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       COUNT(*) OVER w AS n_1h,
       ROUND(SUM(value) OVER w, 2) AS value_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
)
def q_rolling_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based rolling window (RANGE frame): per event, the count
    and value sum of the same user's events in the preceding hour —
    the sliding-lookback feature windows row-count frames can't
    express (peers at the same timestamp are in-frame in both
    engines). One user-keyed exchange."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("value_1h"),
    )


# --- sketches + sampling ------------------------------------------------------

_CMS_BUCKET = (
    "('0x' || substring(md5(CAST({j} AS VARCHAR) || '|' || {key}), 1, 15))"
    "::BIGINT % 64"
)


# Build AND probe replayed bucket-exactly (portable hash) — the rare
# sketch whose whole pipeline hash-matches an SQL oracle. Shared with
# the STREAMING build (plans/streaming_queries.py): the stream-built
# sketch must equal the batch-built one bucket-for-bucket.
CMS_ORACLE = f"""
WITH cms AS (
    SELECT r.range AS j,
           {_CMS_BUCKET.format(j="r.range", key="event_type")} AS bucket,
           COUNT(*) AS c
    FROM events, range(4) r
    GROUP BY 1, 2
),
keys AS (SELECT DISTINCT event_type FROM events),
probes AS (
    SELECT k.event_type, r.range AS j,
           {_CMS_BUCKET.format(j="r.range", key="k.event_type")} AS bucket
    FROM keys k, range(4) r
),
est AS (
    SELECT p.event_type, MIN(COALESCE(cms.c, 0)) AS cms_estimate
    FROM probes p LEFT JOIN cms ON cms.j = p.j AND cms.bucket = p.bucket
    GROUP BY p.event_type
),
exact AS (SELECT event_type, COUNT(*)::BIGINT AS exact_count FROM events GROUP BY event_type)
SELECT est.event_type, est.cms_estimate::BIGINT AS cms_estimate, exact.exact_count
FROM est JOIN exact USING (event_type)
"""


@query("cms_event_type_estimates", oracle=CMS_ORACLE)
def q_cms_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (operators/sketch.py): frequency estimates
    from a ≤ depth×width-row sketch table vs the exact counts. The
    shuffle carries a CONSTANT number of rows regardless of input size
    — the sketch answer to heavy-hitter counting when distinct keys
    outnumber memory. Estimates upper-bound truth (collisions only
    inflate); with 5 keys in 64 buckets they are exact here, which the
    oracle's exact_count column proves."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        cms_estimate,
        count_min_table,
    )

    ev = load_table(spark, sf_dir, "events")
    cms = count_min_table(ev, "event_type")
    keys = ev.select("event_type").distinct()
    exact = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_count"))
    return cms_estimate(cms, keys, "event_type").join(exact, "event_type")


@query(
    "per_source_doc_sample",
    oracle="""
SELECT source, doc_id, rn::INT AS rn FROM (
    SELECT source, doc_id,
           row_number() OVER (
               PARTITION BY source
               ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                        doc_id
           ) AS rn
    FROM documents
) WHERE rn <= 3
""",
)
def q_per_source_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k 'reservoir' per group: exactly min(k, n)
    docs per source, chosen by portable-hash order — reproducible
    across runs/engines/partitionings where RNG reservoirs are not.
    One group-keyed exchange; at scale, rank-by-hash prunes with a
    window top-k."""
    from pyspark.sql import Window

    from web_analytics_visits_re_processing_spark.functions.text import hash64

    w = Window.partitionBy("source").orderBy(
        hash64(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        load_table(spark, sf_dir, "documents")
        .select("source", "doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= 3)
    )


@query(
    "approx_value_percentiles",
    # The GK sketch's returned VALUE is implementation-specific, so
    # it can never hash across engines — but its rank-error CONTRACT
    # can: the oracle states the guarantee (returned value's rank
    # within n/accuracy ± 1 of p·n) as the constants the inequality
    # must evaluate to.
    oracle="""
SELECT event_type, COUNT(*)::BIGINT AS n,
       1::BIGINT AS p50_rank_ok, 1::BIGINT AS p95_rank_ok
FROM events GROUP BY event_type
""",
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``percentile_approx`` (GK sketch) per event type, gated by its
    rank-error bound — the eval-gate pattern (see
    ``approx_count_distinct_users``): the sketch's returned value is
    joined back against the data to count its strict/non-strict ranks
    (``lt``/``le``), and the emitted flags assert the GK guarantee —
    some rank in ``[lt+1, le]`` lies within ``n/accuracy (±1 for the
    discrete boundary)`` of ``p·n`` — as cross-multiplied INTEGER
    inequalities (no float ranks), which hash-gate a sketch whose
    internals cannot. Accuracy 10000 ⇒ rank slack n/10000. The rank
    join is one broadcast of ≤ |event_type| rows; at 100 TB the
    referee pass is what an offline sketch-calibration job runs.
    The independent error-bound pytest
    (``test_approx_percentiles_within_bound``) still exercises the
    raw sketch values."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    apx = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50"),
        F.percentile_approx("value", 0.95, 10000).alias("p95"),
    )
    j = ev.join(F.broadcast(apx), "event_type")

    def rank_ok(lt: str, le: str, num: int) -> F.Column:
        # GK contract at quantile p = num/10000: ∃ rank r ∈ [lt+1, le]
        # with |r − p·n| ≤ n/10000 (+1 discrete slack) ⟸
        # lt·10000 ≤ n·(num+1) + 10000  AND  le·10000 ≥ n·(num−1) − 10000
        n = F.col("n")
        return (
            (F.col(lt) * 10000 <= n * (num + 1) + 10000)
            & (F.col(le) * 10000 >= n * (num - 1) - 10000)
        ).cast("long")

    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("value") < F.col("p50")).cast("long")).alias("lt50"),
            F.sum((F.col("value") <= F.col("p50")).cast("long")).alias("le50"),
            F.sum((F.col("value") < F.col("p95")).cast("long")).alias("lt95"),
            F.sum((F.col("value") <= F.col("p95")).cast("long")).alias("le95"),
        )
        .select(
            "event_type",
            "n",
            rank_ok("lt50", "le50", 5000).alias("p50_rank_ok"),
            rank_ok("lt95", "le95", 9500).alias("p95_rank_ok"),
        )
    )


@query(
    "histogram_quantiles_by_type",
    # The cumulative-count rule: quantile_p = the smallest bin whose
    # running count reaches ceil(p·n) — pure integer arithmetic, so
    # the sketch's ANSWER (unlike percentile_approx's GK internals)
    # replays verbatim in SQL.
    oracle="""
WITH b AS (
    SELECT event_type,
           CAST(FLOOR(value * 100) AS BIGINT) AS bin,
           COUNT(*)::BIGINT AS c
    FROM events GROUP BY event_type, bin
),
cum AS (
    SELECT event_type, bin, c,
           SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS n
    FROM b
)
SELECT event_type, MAX(n)::BIGINT AS n,
       MIN(CASE WHEN cum * 2 >= n THEN bin END)::BIGINT AS p50_cents,
       MIN(CASE WHEN cum * 10 >= n * 9 THEN bin END)::BIGINT AS p90_cents,
       MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END)::BIGINT AS p99_cents
FROM cum GROUP BY event_type
""",
)
def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles via a fixed-width integer histogram — the MERGEABLE
    distributed-quantile design that, unlike ``percentile_approx``
    (GK sketch, implementation-specific internals → rows-only gate),
    is integer-exact end to end and therefore hash-gateable: bin
    values to cents, count per (type, bin) with map-side combine
    (shuffle state = bin domain, constant in row count), then read
    p50/p90/p99 off the cumulative counts as the smallest bin whose
    running count reaches ceil(p·n) — the comparisons are
    cross-multiplied integers, no float ranks. Error is bounded by
    bin width (½ cent), known a priori — the trade the GK sketch
    makes adaptively, made static and replayable. A global sort
    computes exact quantiles; THIS is what you do at 100 TB
    instead."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    b = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * 100).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wc = Window.partitionBy("event_type").orderBy("bin")
    wn = Window.partitionBy("event_type")
    cum = b.select(
        "event_type",
        "bin",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(wn).alias("n"),
    )
    return cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("bin"))).alias(
            "p50_cents"
        ),
        F.min(
            F.when(F.col("cum") * 10 >= F.col("n") * 9, F.col("bin"))
        ).alias("p90_cents"),
        F.min(
            F.when(F.col("cum") * 100 >= F.col("n") * 99, F.col("bin"))
        ).alias("p99_cents"),
    )


# --- Python UDTF surface ------------------------------------------------------

@query(
    "udtf_token_bigrams",
    oracle="""
SELECT t.doc_id, u.pos - 1 AS pos,
       u.tok || ' ' || t.toks[u.pos + 1] AS bigram
FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t,
     LATERAL (SELECT unnest(toks) AS tok, generate_subscripts(toks, 1) AS pos) u
WHERE u.pos < len(t.toks)
""",
)
def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF under LATERAL — completes the Python-extension
    matrix (scalar pandas_udf, grouped-map/agg, mapInPandas and table
    functions). Row-at-a-time Python
    generators are the SLOW path — this exact result is expressible
    natively (see `token_positions`/`doc_chunks_overlap`), which is
    why it's gated for API completeness but excluded from the bench
    headline."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class Bigrams:
        def eval(self, text: str):
            toks = text.split(" ")
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    spark.udtf.register("bigrams_udtf", Bigrams)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v_udtf")
    return spark.sql(
        "SELECT doc_id, b.pos, b.bigram "
        "FROM documents_v_udtf, LATERAL bigrams_udtf(text) b"
    )


@query(
    "variant_try_functions",
    oracle="""
SELECT event_id,
       json_extract(props, '$.k')::INT AS k_int,
       json_extract(props, '$.missing')::INT AS missing_int,
       TRY_CAST(event_type AS INT) AS type_as_int,
       FLOOR(value * 1000000 / NULLIF(json_extract(props, '$.k')::INT - 60, 0))
           ::BIGINT AS safe_div_micros
FROM events
""",
)
def q_variant_try(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT + ANSI-safe ``try_*`` surface: semi-structured
    props parsed once into a variant, typed path extraction
    (``try_variant_get`` — missing paths yield NULL, not errors),
    NULL-on-failure casts, and division that nulls instead of raising
    on zero. All narrow projections; the variant parse replaces
    per-path JSON re-parsing (one parse, many extractions — the
    binary-encoded variant is the scale answer to schema-on-read
    columns)."""
    v = F.parse_json("props")
    k = F.try_variant_get(v, "$.k", "int")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        k.alias("k_int"),
        F.try_variant_get(v, "$.missing", "int").alias("missing_int"),
        F.expr("try_cast(event_type AS int)").alias("type_as_int"),
        # floor of the 1e6-scaled quotient, NOT round(x, 6): Spark's
        # round on doubles goes through the decimal string (HALF_UP on
        # "0.2615625") while DuckDB rounds the raw binary double — a
        # quotient landing on the 6-dp half boundary flips between
        # engines. floor of the identical double never does.
        F.floor(F.try_divide(F.col("value") * F.lit(1_000_000.0), k - 60))
        .cast("long")
        .alias("safe_div_micros"),
    )


@query(
    "window_rank_functions",
    # percent_rank/cume_dist emitted RAW (not rounded): both engines
    # compute the same integer-ratio doubles bit-identically, while
    # round() could flip on a half-boundary ratio.
    oracle="""
SELECT event_id, user_id,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pct_rank,
       cume_dist() OVER w AS cume,
       dense_rank() OVER w AS drank
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def q_window_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family over a total order (ts, event_id):
    ntile quartiles, percent_rank, cume_dist, dense_rank — one
    user-keyed exchange serves all four."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.dense_rank().over(w).alias("drank"),
    )


@query(
    "hof_array_functions",
    oracle="""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
SELECT doc_id,
       len(list_filter(toks, t -> length(t) > 4))::INT AS n_long,
       len(list_filter(toks, t -> length(t) >= 8)) > 0 AS has_rare,
       len(list_filter(toks, t -> length(t) > 12)) = 0 AS all_short,
       list_sum(list_transform(toks, t -> length(t)))::BIGINT AS total_chars
FROM t
""",
)
def q_hof_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (filter / exists / forall /
    aggregate) over the token array — the lambda-expression surface.
    Narrow projection; fine off the hot path (HOFs are interpreted —
    see minhash_signatures_df's docstring for when to explode
    instead)."""
    toks = F.split(F.col("text"), " ")
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 4)).alias("n_long"),
        F.exists(toks, lambda t: F.length(t) >= 8).alias("has_rare"),
        F.forall(toks, lambda t: F.length(t) <= 12).alias("all_short"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
        ).alias("total_chars"),
    )


@query(
    "python_datasource_synthetic",
    # The custom source's generator is closed-form per row id, so the
    # oracle rebuilds the entire "external system" from range(5000).
    oracle="""
SELECT (i.range % 50)::BIGINT AS user_id,
       COUNT(*)::BIGINT AS n_rows,
       ROUND(SUM((i.range * 7 % 100) / 10.0), 2) AS value_sum,
       MIN(i.range)::BIGINT AS min_event_id,
       MAX(i.range)::BIGINT AS max_event_id
FROM range(5000) i
GROUP BY 1
""",
)
def q_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM PYTHON DATA SOURCE (Spark 4 DataSource API,
    sources/pysource.py) under the gate: 8 declared input partitions,
    each read on an executor — the connector extension point,
    parallelized like a file scan. The aggregate proves every
    partition delivered exactly its slice."""
    from web_analytics_visits_re_processing_spark.sources import pysource

    pysource.register(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "5000")
        .option("partitions", "8")
        .load()
    )
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


# Portable-hash HLL pieces shared by the register and estimate oracles
# (and by the STREAMING build in plans/streaming_queries.py, whose
# stream-built register table must equal this batch one).
_HLL_REGS_CTE = """
h AS (
    SELECT event_type,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
    FROM events
),
regs AS (
    SELECT event_type,
           hv & 63 AS r_idx,
           MAX(CASE WHEN (hv >> 6) = 0 THEN 55
                    ELSE 55 - length(bin(hv >> 6)) END)::BIGINT AS r_rho
    FROM h GROUP BY 1, 2
)
"""

HLL_REGISTERS_ORACLE = f"""
WITH {_HLL_REGS_CTE}
SELECT event_type, r_idx, r_rho FROM regs
"""

HLL_ESTIMATE_ORACLE = f"""
WITH {_HLL_REGS_CTE},
per AS (
    SELECT event_type, COUNT(*) AS n_set,
           CAST(SUM(1::BIGINT << (55 - r_rho)) AS BIGINT) AS s_present
    FROM regs GROUP BY 1
),
fin AS (
    SELECT event_type,
           CAST(64 - n_set AS BIGINT) AS v_empty,
           CAST(s_present + (64 - n_set) * (1::BIGINT << 55) AS BIGINT) AS s_scaled
    FROM per
),
est AS (
    SELECT event_type, v_empty, s_scaled,
           CAST(FLOOR(10000 * CASE
               WHEN (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968) / s_scaled <= 160.0
                    AND v_empty > 0
               THEN 64 * ln(64 / CAST(v_empty AS DOUBLE))
               ELSE (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968) / s_scaled
           END) AS BIGINT) AS hll_estimate_e4
    FROM fin
),
exact AS (
    SELECT event_type, COUNT(DISTINCT user_id) AS n_exact FROM events GROUP BY 1
)
SELECT est.event_type, est.v_empty, est.s_scaled, est.hll_estimate_e4, exact.n_exact
FROM est JOIN exact USING (event_type)
"""


@query("hll_registers_users", oracle=HLL_REGISTERS_ORACLE)
def q_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register table (operators/sketch.py): per-event-type
    distinct-user sketch state, ≤ 64 rows per group with map-side MAX
    combine — the register table IS the shuffle payload, constant in
    both input rows and distinct keys. Pure integer arithmetic on the
    portable hash, so the sketch state itself is hash-gated (rare for
    a sketch; approx_count_distinct is rows-only because Spark's HLL++
    internals aren't replayable)."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    return hll_registers(ev, "user_id", ("event_type",))


@query("hll_distinct_users_estimate", oracle=HLL_ESTIMATE_ORACLE)
def q_hll_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL cardinality estimates vs exact distinct counts. The
    harmonic-mean denominator is accumulated as the exact integer
    sum(2^(55-rho)) — float-summation-order-proof — and the final
    estimate ships floor-scaled; the linear-counting small-range
    branch (Flajolet et al. §4) kicks in via the same literals on
    both sides."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, "user_id", ("event_type",))
    est = hll_estimate(regs, ("event_type",))
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact")
    )
    return est.join(exact, "event_type")


# Portable integer bloom hash in SQL (operators/bloom.py): two
# multiply-mod-prime mixes of the key, k=3 double-hashed positions
# mod m=4096 — pure int64 arithmetic, no md5/conv per probed row.
_BLOOM_POS = (
    "((((({key}) % 2147483647) * 48271) % 2147483647"
    " + {i} * ((((({key}) % 2147483647) * 69621) % 2147483647) * 2 + 1))"
    " % 4096)"
)


BLOOM_MEMBERSHIP_ORACLE = f"""
WITH recent AS (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= DATE '2001-06-01'
),
bloom AS (
    SELECT DISTINCT
        {_BLOOM_POS.format(key="o_custkey", i="r.range")} AS p
    FROM recent, range(3) r
),
probe_pos AS (
    SELECT c_custkey, c_mktsegment,
           {_BLOOM_POS.format(key="c_custkey", i="r.range")} AS p
    FROM customer, range(3) r
),
hits AS (
    SELECT pp.c_custkey,
           ANY_VALUE(pp.c_mktsegment) AS c_mktsegment,
           (COUNT(b.p) = 3) AS maybe
    FROM probe_pos pp LEFT JOIN bloom b ON b.p = pp.p
    GROUP BY pp.c_custkey
),
truth AS (SELECT o_custkey AS c_custkey, 1 AS is_true FROM recent)
SELECT h.c_mktsegment,
       COUNT(*) AS n_probed,
       COUNT(*) FILTER (WHERE h.maybe) AS n_maybe,
       COUNT(*) FILTER (WHERE t.is_true IS NOT NULL) AS n_true,
       COUNT(*) FILTER (WHERE h.maybe AND t.is_true IS NULL) AS n_false_pos
FROM hits h LEFT JOIN truth t ON t.c_custkey = h.c_custkey
GROUP BY h.c_mktsegment
ORDER BY h.c_mktsegment
"""


@query("bloom_membership_recent_buyers", oracle=BLOOM_MEMBERSHIP_ORACLE)
def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership (operators/bloom.py): probe every
    customer against a ≤ m-row filter built from recent buyers. No
    false negatives (n_true rows all pass — the oracle proves it:
    n_maybe = n_true + n_false_pos), false positives at the standard
    (1-e^{-kn/m})^k rate — and because the hash is portable, even the
    exact FP count is hash-gated, which no RNG-seeded bloom could be."""
    from web_analytics_visits_re_processing_spark.operators.bloom import (
        bloom_build,
        bloom_probe,
    )

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = (
        orders.where(F.col("o_orderdate") >= F.lit("2001-06-01").cast("date"))
        .select("o_custkey")
        .distinct()
    )
    bloom = bloom_build(recent, "o_custkey")
    probed = bloom_probe(bloom, cust.select("c_custkey"), "c_custkey")
    truth = recent.select(F.col("o_custkey").alias("c_custkey"), F.lit(1).alias("is_true"))
    return (
        probed.join(cust.select("c_custkey", "c_mktsegment"), "c_custkey")
        .join(truth, "c_custkey", "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.count_if(F.col("maybe_present")).alias("n_maybe"),
            F.count_if(F.col("is_true").isNotNull()).alias("n_true"),
            F.count_if(
                F.col("maybe_present") & F.col("is_true").isNull()
            ).alias("n_false_pos"),
        )
    )


@query(
    "bloom_pruned_join_urgent_items",
    # The oracle is the PLAIN join: bloom false positives pass the
    # prefilter but are removed by the exact join, so pruned ≡ plain —
    # that equality is the correctness contract of join pruning.
    oracle="""
SELECT strftime(o.o_orderdate, '%Y-%m') AS order_month,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_orderpriority = '1-URGENT'
  AND o.o_orderdate >= DATE '2001-01-01'
GROUP BY 1
ORDER BY 1
""",
)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join pruning via a literal packed bloom: the small side's keys
    are packed into m/64 int64 words (constant ~1 KB driver collect)
    and the big side is prefiltered by a projection-time membership
    predicate — zero extra shuffle, filter pushed to the scan. At
    100 TB this is the explicit-pipeline version of Spark's runtime
    bloom-filter join pruning: shuffle input drops by the join
    selectivity before the exchange, not after."""
    from web_analytics_visits_re_processing_spark.operators.bloom import (
        bloom_member_expr,
        bloom_words,
    )

    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.where(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= F.lit("2001-01-01").cast("date"))
    )
    words = bloom_words(urgent, "o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        bloom_member_expr(words, F.col("l_orderkey"))
    )
    return (
        li.join(urgent.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        )
        .orderBy("order_month")
    )


# --- mapInArrow (Arrow-native batch transform, no pandas hop) -----------------

@query(
    "arrow_byte_stats",
    # strlen = UTF-8 byte length in DuckDB (octet_length is
    # blob-only there); space count via the length-minus-replace
    # identity.
    oracle="""
SELECT doc_id,
       CAST(strlen(text) AS INT) AS n_bytes,
       CAST(length(text) - length(replace(text, ' ', '')) AS INT) AS n_spaces
FROM documents
""",
)
def q_arrow_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the last cell of the Python-vectorization
    matrix (scalar/grouped pandas_udf, applyInPandas, mapInPandas,
    UDTF, and now raw Arrow RecordBatches with
    no pandas conversion hop): per-doc UTF-8 byte length and space
    count computed entirely in ``pyarrow.compute`` kernels — zero
    per-row Python, zero pandas materialization, zero shuffle. The
    same values are trivially SQL-expressible, which is exactly what
    makes the Arrow path hash-gateable."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def fn(batches):
        for b in batches:
            text = b.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("doc_id"),
                    pc.cast(pc.binary_length(pc.cast(text, pa.binary())), pa.int32()),
                    pc.cast(pc.count_substring(text, " "), pa.int32()),
                ],
                names=["doc_id", "n_bytes", "n_spaces"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(fn, "doc_id long, n_bytes int, n_spaces int")


@query(
    "interpolate_hourly_value_series",
    oracle="""
WITH b AS (
    SELECT date_trunc('hour', MIN(ts)) AS h0, date_trunc('hour', MAX(ts)) AS h1
    FROM events
),
spine AS (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h FROM b
),
types AS (SELECT DISTINCT event_type FROM events),
c AS (
    SELECT event_type, date_trunc('hour', ts) AS h,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS cents
    FROM events GROUP BY 1, 2
),
g AS (
    SELECT t.event_type,
           epoch_us(s.h) AS hour_us,
           (epoch_us(s.h) // 3600000000)::BIGINT AS hn,
           c.cents
    FROM spine s
    CROSS JOIN types t
    LEFT JOIN c ON c.event_type = t.event_type AND c.h = s.h
),
w AS (
    SELECT event_type, hour_us, hn, cents,
           last_value(cents IGNORE NULLS) OVER pw AS pv,
           last_value(CASE WHEN cents IS NOT NULL THEN hn END IGNORE NULLS)
               OVER pw AS ph,
           first_value(cents IGNORE NULLS) OVER nw AS nv,
           first_value(CASE WHEN cents IS NOT NULL THEN hn END IGNORE NULLS)
               OVER nw AS nh
    FROM g
    WINDOW pw AS (PARTITION BY event_type ORDER BY hn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           nw AS (PARTITION BY event_type ORDER BY hn
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour_us,
       cents IS NULL AS interpolated,
       CASE WHEN cents IS NOT NULL THEN ROUND(CAST(cents AS DOUBLE), 4)
            WHEN pv IS NOT NULL AND nv IS NOT NULL
            THEN ROUND(pv + (nv - pv) * CAST(hn - ph AS DOUBLE)
                                      / CAST(nh - ph AS DOUBLE), 4)
            ELSE NULL END AS cents_filled
FROM w
""",
)
def q_interpolate_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series RESAMPLE + linear interpolation: the hourly
    per-type value series (exact integer cents) on the dense calendar
    spine, with silent interior hours linearly interpolated between
    their IGNORE-NULLS window neighbors (leading/trailing gaps stay
    null — interpolation, not extrapolation). The base metric is an
    exact int, and the interpolation is two correctly-rounded IEEE ops
    in an identical expression shape on both engines, so even the
    interpolated values hash-gate. Scale shape: events reduce in one
    hash agg; the spine×types series (hours × types ≪ events) carries
    the windows, partitioned by type — never a global sort."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = ev.agg(F.min(hour).alias("h0"), F.max(hour).alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    cents = ev.groupBy("event_type", hour.alias("h")).agg(
        F.sum(F.floor(F.col("value") * 100)).alias("cents")
    )
    g = (
        F.broadcast(spine)
        .crossJoin(F.broadcast(types))
        .join(cents, ["event_type", "h"], "left")
        .select(
            "event_type",
            F.unix_micros("h").alias("hour_us"),
            F.expr("unix_micros(h) div 3600000000").alias("hn"),
            "cents",
        )
    )
    pw = (
        Window.partitionBy("event_type")
        .orderBy("hn")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    nw = (
        Window.partitionBy("event_type")
        .orderBy("hn")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    hn_nn = F.when(F.col("cents").isNotNull(), F.col("hn"))
    w = g.select(
        "event_type",
        "hour_us",
        "hn",
        "cents",
        F.last("cents", ignorenulls=True).over(pw).alias("pv"),
        F.last(hn_nn, ignorenulls=True).over(pw).alias("ph"),
        F.first("cents", ignorenulls=True).over(nw).alias("nv"),
        F.first(hn_nn, ignorenulls=True).over(nw).alias("nh"),
    )
    interp = F.round(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * (F.col("hn") - F.col("ph")).cast("double")
        / (F.col("nh") - F.col("ph")).cast("double"),
        4,
    )
    return w.select(
        "event_type",
        "hour_us",
        F.col("cents").isNull().alias("interpolated"),
        F.when(F.col("cents").isNotNull(), F.round(F.col("cents").cast("double"), 4))
        .when(F.col("pv").isNotNull() & F.col("nv").isNotNull(), interp)
        .alias("cents_filled"),
    )


# --- round-6 operability diagnostics: skew profiler, table profiler ----------


@query(
    "key_skew_profile",
    oracle="""
WITH u AS (
    SELECT 'user_id' AS col, CAST(user_id AS VARCHAR) AS key FROM events
    UNION ALL
    SELECT 'event_type', event_type FROM events
), counts AS (
    SELECT col, key, COUNT(*)::BIGINT AS cnt FROM u GROUP BY col, key
), tot AS (
    SELECT col, SUM(cnt)::BIGINT AS n, COUNT(*)::BIGINT AS k
    FROM counts GROUP BY col
)
SELECT col, key, cnt,
       (cnt * 1000000) // t.n AS share_ppm,
       (cnt * 100 * t.k) // t.n AS skew_x100
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY col
                                   ORDER BY cnt DESC, key) AS rk
      FROM counts) c
JOIN tot t USING (col)
WHERE rk <= 10
""",
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution profiler — the diagnostic you run BEFORE
    choosing a partitioning at 100 TB: per candidate shuffle key
    (user_id, event_type), the 10 heaviest keys with integer ppm
    share and a ×100 skew factor (count ÷ mean count — ≥ say 1000
    flags a whale: AQE splits it in joins, but a user-keyed window or
    aggregate runs it on one task). One
    unpivoted scan, one (col, key) hash agg with map-side combine
    (shuffle state = distinct keys), per-col totals joined back from
    a tiny agg; the top-10 window sees only the grouped counts."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.select(
        F.lit("user_id").alias("col"),
        F.col("user_id").cast("string").alias("key"),
    ).unionAll(ev.select(F.lit("event_type"), F.col("event_type")))
    counts = u.groupBy("col", "key").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.groupBy("col").agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("k")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("col").orderBy(F.col("cnt").desc(), F.col("key"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .join(F.broadcast(tot), "col")
        .select(
            "col",
            "key",
            "cnt",
            F.expr("(cnt * 1000000) div n").alias("share_ppm"),
            F.expr("(cnt * 100 * k) div n").alias("skew_x100"),
        )
    )


# Profiled columns: (name, Spark numeric expr for min/max or None,
# Spark hash-input string expr, DuckDB hash-input string expr). The
# hash inputs are NORMALIZED before hashing (cents, epoch-µs, raw
# strings) so md5 sees identical text in both engines — float/date
# VARCHAR renderings differ across engines, integers never do.
_PROFILE_COLS: list[tuple] = [
    ("o_orderkey", "o_orderkey", "CAST(o_orderkey AS STRING)",
     "CAST(o_orderkey AS VARCHAR)"),
    ("o_custkey", "o_custkey", "CAST(o_custkey AS STRING)",
     "CAST(o_custkey AS VARCHAR)"),
    ("o_orderstatus", None, "o_orderstatus", "o_orderstatus"),
    ("o_totalprice", "FLOOR(o_totalprice * 100)",
     "CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS STRING)",
     "CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS VARCHAR)"),
    ("o_orderdate", "unix_micros(o_orderdate)",
     "CAST(unix_micros(o_orderdate) AS STRING)",
     "CAST(epoch_us(o_orderdate) AS VARCHAR)"),
    ("o_orderpriority", None, "o_orderpriority", "o_orderpriority"),
]

_PROFILE_EXACT_ARM = """
SELECT 'o_orderkey' AS col,
       SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
       COUNT(DISTINCT o_orderkey)::BIGINT AS n_distinct,
       MIN(o_orderkey)::DOUBLE AS min_num, MAX(o_orderkey)::DOUBLE AS max_num
FROM orders
UNION ALL
SELECT 'o_custkey', SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT o_custkey)::BIGINT,
       MIN(o_custkey)::DOUBLE, MAX(o_custkey)::DOUBLE FROM orders
UNION ALL
SELECT 'o_orderstatus',
       SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT o_orderstatus)::BIGINT, NULL, NULL FROM orders
UNION ALL
SELECT 'o_totalprice',
       SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT o_totalprice)::BIGINT,
       MIN(FLOOR(o_totalprice * 100))::DOUBLE,
       MAX(FLOOR(o_totalprice * 100))::DOUBLE FROM orders
UNION ALL
SELECT 'o_orderdate',
       SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT o_orderdate)::BIGINT,
       MIN(epoch_us(o_orderdate))::DOUBLE,
       MAX(epoch_us(o_orderdate))::DOUBLE FROM orders
UNION ALL
SELECT 'o_orderpriority',
       SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)::BIGINT,
       COUNT(DISTINCT o_orderpriority)::BIGINT, NULL, NULL FROM orders
"""

# Portable-HLL arm: identical register/estimate arithmetic to the
# hll_merge_groups oracle, one sketch per profiled column; null
# counts and min/max stay exact (no EXPAND needed for those).
_PROFILE_HLL_CTES = (
    "u AS (\n    "
    + "\n    UNION ALL ".join(
        f"SELECT '{name}' AS col, {dsql} AS sval FROM orders"
        f" WHERE {name} IS NOT NULL"
        for name, _num, _ssql, dsql in _PROFILE_COLS
    )
    + """
),
hh AS (
    SELECT col, ('0x' || substring(md5(sval), 1, 15))::BIGINT AS hv FROM u
),
regs AS (
    SELECT col, hv & 63 AS r_idx,
           MAX(CASE WHEN (hv >> 6) = 0 THEN 55
                    ELSE 55 - length(bin(hv >> 6)) END)::BIGINT AS r_rho
    FROM hh GROUP BY 1, 2
),
per AS (
    SELECT col, COUNT(*) AS n_set,
           CAST(SUM(1::BIGINT << (55 - r_rho)) AS BIGINT) AS s_present
    FROM regs GROUP BY col
),
est AS (
    SELECT col,
           CAST(FLOOR(10000 * CASE
               WHEN (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968)
                        / (s_present + (64 - n_set) * (1::BIGINT << 55))
                        <= 160.0
                    AND (64 - n_set) > 0
               THEN 64 * ln(64 / CAST(64 - n_set AS DOUBLE))
               ELSE (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968)
                        / (s_present + (64 - n_set) * (1::BIGINT << 55))
           END) AS BIGINT) // 10000 AS n_distinct
    FROM per
),
base AS (
"""
    + "\n    UNION ALL ".join(
        (
            f"SELECT '{name}' AS col,"
            f" SUM(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)::BIGINT"
            f" AS n_nulls,"
            + (
                f" MIN({num})::DOUBLE AS min_num,"
                f" MAX({num})::DOUBLE AS max_num"
                if num is not None
                else " NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num"
            )
            + " FROM orders"
        )
        for name, num, _ssql, _dsql in (
            (n, {"o_orderkey": "o_orderkey", "o_custkey": "o_custkey",
                 "o_totalprice": "FLOOR(o_totalprice * 100)",
                 "o_orderdate": "epoch_us(o_orderdate)"}.get(n), s, d)
            for n, _x, s, d in _PROFILE_COLS
        )
    )
    + """
),
hll_arm AS (
    SELECT base.col, base.n_nulls, est.n_distinct, base.min_num, base.max_num
    FROM base JOIN est USING (col)
)"""
)


def _profile_oracle() -> str:
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        PROFILE_EXACT_DISTINCT_MAX,
    )

    return f"""
WITH nct AS (SELECT COUNT(*) AS n FROM orders),
exact_arm AS ({_PROFILE_EXACT_ARM}),
{_PROFILE_HLL_CTES}
SELECT * FROM exact_arm
WHERE (SELECT n FROM nct) <= {PROFILE_EXACT_DISTINCT_MAX}
UNION ALL
SELECT * FROM hll_arm
WHERE (SELECT n FROM nct) > {PROFILE_EXACT_DISTINCT_MAX}
"""


def _profile_exact_arm(o: DataFrame) -> DataFrame:
    """Exact arm: one EXPAND agg (6 count-distincts in one scan)."""
    aggs: list[F.Column] = []
    for name, num, _ssql, _dsql in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(name).isNull(), 1).otherwise(0)).alias(f"{name}__nn")
        )
        aggs.append(F.count_distinct(F.col(name)).alias(f"{name}__nd"))
        lo = F.expr(num).cast("double") if num is not None else None
        aggs.append(
            (F.min(lo) if lo is not None else F.lit(None).cast("double")).alias(
                f"{name}__mn"
            )
        )
        aggs.append(
            (F.max(lo) if lo is not None else F.lit(None).cast("double")).alias(
                f"{name}__mx"
            )
        )
    one_row = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', `{name}__nn`, `{name}__nd`, `{name}__mn`, `{name}__mx`"
        for name, *_ in _PROFILE_COLS
    )
    return one_row.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " as (col, n_nulls, n_distinct, min_num, max_num)"
        )
    )


def _profile_hll_arm(o: DataFrame) -> DataFrame:
    """HLL arm: exact nulls/min/max (plain agg, no EXPAND) + one
    portable md5-HLL sketch per column — aggregation state is ≤ 64
    registers per column instead of every distinct value."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    parts = [
        o.where(F.col(name).isNotNull()).select(
            F.lit(name).alias("col"), F.expr(ssql).alias("sval")
        )
        for name, _num, ssql, _dsql in _PROFILE_COLS
    ]
    u = parts[0]
    for p in parts[1:]:
        u = u.unionAll(p)
    est = hll_estimate(hll_registers(u, "sval", ("col",)), ("col",)).select(
        "col", F.expr("hll_estimate_e4 div 10000").alias("n_distinct")
    )
    aggs: list[F.Column] = []
    for name, num, _ssql, _dsql in _PROFILE_COLS:
        aggs.append(
            F.sum(F.when(F.col(name).isNull(), 1).otherwise(0)).alias(f"{name}__nn")
        )
        lo = F.expr(num).cast("double") if num is not None else None
        aggs.append(
            (F.min(lo) if lo is not None else F.lit(None).cast("double")).alias(
                f"{name}__mn"
            )
        )
        aggs.append(
            (F.max(lo) if lo is not None else F.lit(None).cast("double")).alias(
                f"{name}__mx"
            )
        )
    stack_args = ", ".join(
        f"'{name}', `{name}__nn`, `{name}__mn`, `{name}__mx`"
        for name, *_ in _PROFILE_COLS
    )
    base = o.agg(*aggs).select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack_args})"
            " as (col, n_nulls, min_num, max_num)"
        )
    )
    return base.join(F.broadcast(est), "col").select(
        "col", "n_nulls", "n_distinct", "min_num", "max_num"
    )


@query("table_profile_stats", oracle=_profile_oracle())
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-table data profile of ``orders`` — per column: null
    count, distinct count, numeric min/max (cents for the price,
    epoch-µs for the date, NULL for categoricals). The ingest-time
    sanity check a lakehouse runs per partition drop.

    COUNT-BANDED distinct strategy (`operators/sketch.py::
    profile_distinct_mode`, the lsh_planes_for precedent): at or
    below 2^26 rows the 6 exact count-distincts plan as one EXPAND
    (one scan, one exchange — but aggregation state = every distinct
    value); above the band each column's distinct count downgrades
    to the portable md5 HLL (≤ 64 registers of agg state per column,
    the same arithmetic the hll_merge_groups gate machine-checks),
    with nulls/min/max staying exact. The oracle selects the same
    arm from the same COUNT(*); every fixture SF resolves to the
    exact arm, and the HLL arm is cross-engine-pinned by pytest."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        profile_distinct_mode,
    )

    o = load_table(spark, sf_dir, "orders")
    n = memo("orders_n", sf_dir, o.count)
    if profile_distinct_mode(n) == "exact":
        return _profile_exact_arm(o)
    return _profile_hll_arm(o)


@query(
    "salted_skew_join_segments",
    oracle="""
SELECT COALESCE(c.c_mktsegment, 'NONE') AS segment,
       COUNT(*)::BIGINT AS n_events,
       SUM(FLOOR(e.value * 100)::BIGINT)::BIGINT AS value_cents_sum
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1
""",
)
def q_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SALTED equi-join — the classic whale-key fix for shuffle joins,
    gated on exact equality with the plain join. The fact side
    (events) extends its key with ``pmod(hash(event_id), 8)`` so a
    hot user's rows spread over 8 reducers instead of one; the dim
    side replicates each row across all 8 salts with ONE
    ``explode(sequence(...))`` (never a cross join). The join result
    is row-identical to the unsalted join — which is exactly what the
    DuckDB oracle checks. When the dim fits in memory you broadcast
    instead (no shuffle to skew); salting is the fix for the
    SHUFFLE-join regime at 100 TB where neither side broadcasts, and
    AQE's skew-join split only handles sort-merge spills — salting
    also fixes the hash-partition imbalance AQE can't re-split
    (single-key hotspots). The aggregate after the join reuses the
    salted partitioning's superset (segment groupBy re-shuffles a
    tiny enriched projection)."""
    n_salt = 8
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    salted_fact = ev.withColumn(
        "_salt", F.pmod(F.hash("event_id"), F.lit(n_salt)).cast("int")
    )
    replicated_dim = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.explode(F.expr(f"sequence(0, {n_salt - 1})")).alias("_salt"),
    )
    # hint forces the SHUFFLE-join regime the technique exists for —
    # without it Catalyst would broadcast this demo-sized dim and the
    # salt would never reach the executed plan (plan-shape pytest
    # pins shuffle join + salted keys).
    joined = salted_fact.join(
        replicated_dim.hint("shuffle_hash"),
        on=[
            salted_fact["user_id"] == replicated_dim["c_custkey"],
            salted_fact["_salt"] == replicated_dim["_salt"],
        ],
        how="left",
    )
    return joined.groupBy(
        F.coalesce("c_mktsegment", F.lit("NONE")).alias("segment")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100)).alias("value_cents_sum"),
    )


@query(
    "schema_evolution_union",
    # The oracle recomputes the CONTENT from the original events —
    # v1 rows (first half-month) carry NULL event_type, v2 rows keep
    # it — so the gate checks Spark's write → mergeSchema-read round
    # trip preserves every row and resolves the missing column to
    # NULL, without the oracle touching the staged files.
    oracle="""
WITH unioned AS (
    SELECT event_id, user_id,
           CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN event_type END
               AS event_type
    FROM events
)
SELECT COALESCE(event_type, 'MISSING') AS event_type,
       COUNT(*)::BIGINT AS n_events,
       COUNT(DISTINCT user_id)::BIGINT AS n_users
FROM unioned GROUP BY 1
""",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution at the reader — the data-lake reality where
    last month's partitions lack this month's columns: the first
    half-month is staged WITHOUT ``event_type`` (schema v1), the rest
    WITH it (v2), and one ``mergeSchema=true`` parquet read unifies
    them, resolving the missing column to NULL. At 100 TB this is the
    default read mode of any long-lived table (schema-per-file
    footers merge on the driver; the scan stays columnar and pruned).
    Gate: the merged read must reproduce, row-for-row, the
    NULL-for-old-partitions semantics the oracle recomputes from the
    source table."""
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_schema_evo",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    ev.where(F.col("ts") < cutoff).select("event_id", "user_id").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "v=1"))
    ev.where(F.col("ts") >= cutoff).select(
        "event_id", "user_id", "event_type"
    ).write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "v=1"), os.path.join(base, "v=2")
    )
    return merged.groupBy(
        F.coalesce("event_type", F.lit("MISSING")).alias("event_type")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_distinct("user_id").alias("n_users"),
    )


@query(
    "distribution_drift_by_type",
    # drift score = Σ_bins (share1_ppm − share2_ppm)² — the L2² drift
    # statistic on binned distributions, integer-exact where PSI's
    # ln(p2/p1) is not replayable; same decision signal (0 ⇔
    # identical distributions, grows with divergence).
    oracle="""
WITH halves AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 2 END AS half,
           FLOOR(value)::BIGINT AS bin
    FROM events
), bc AS (
    SELECT event_type, half, bin, COUNT(*)::BIGINT AS c
    FROM halves GROUP BY 1, 2, 3
), tot AS (
    SELECT event_type, half, SUM(c)::BIGINT AS n FROM bc GROUP BY 1, 2
), shares AS (
    SELECT bc.event_type, bc.bin,
           SUM(CASE WHEN bc.half = 1
                    THEN (bc.c * 1000000) // t.n ELSE 0 END) AS ppm1,
           SUM(CASE WHEN bc.half = 2
                    THEN (bc.c * 1000000) // t.n ELSE 0 END) AS ppm2
    FROM bc JOIN tot t ON t.event_type = bc.event_type AND t.half = bc.half
    GROUP BY bc.event_type, bc.bin
)
SELECT event_type,
       SUM((ppm1 - ppm2) * (ppm1 - ppm2))::BIGINT AS drift_score,
       COUNT(*)::BIGINT AS n_bins,
       MIN(CASE WHEN (ppm1 - ppm2) * (ppm1 - ppm2) =
                     (SELECT MAX((s2.ppm1 - s2.ppm2) * (s2.ppm1 - s2.ppm2))
                      FROM shares s2 WHERE s2.event_type = shares.event_type)
                THEN bin END)::BIGINT AS top_drift_bin
FROM shares GROUP BY event_type
""",
)
def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor — the training-pipeline guard that
    catches feature drift before it poisons a model: per event type,
    the value distribution of the first half-month vs the second,
    binned to whole units, compared by the integer L2² score on
    ppm shares (PSI's ln(p₂/p₁) is float and truncation-fragile; the
    squared-share-difference statistic carries the same 0-iff-equal,
    grows-with-divergence signal exactly). Also reports the worst
    bin. Scale shape: one (type, half, bin) count with map-side
    combine — shuffle state is the bin domain; per-half totals and
    the share pivot ride tiny broadcasts; no sort anywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-16 00:00:00").cast("timestamp")
    bc = ev.select(
        "event_type",
        F.when(F.col("ts") < cutoff, 1).otherwise(2).alias("half"),
        F.floor("value").cast("long").alias("bin"),
    ).groupBy("event_type", "half", "bin").agg(F.count(F.lit(1)).alias("c"))
    tot = bc.groupBy("event_type", "half").agg(F.sum("c").alias("n"))
    shares = (
        bc.join(F.broadcast(tot), ["event_type", "half"])
        .groupBy("event_type", "bin")
        .agg(
            F.sum(
                F.when(F.col("half") == 1, F.expr("(c * 1000000) div n")).otherwise(0)
            ).alias("ppm1"),
            F.sum(
                F.when(F.col("half") == 2, F.expr("(c * 1000000) div n")).otherwise(0)
            ).alias("ppm2"),
        )
    )
    d2 = (F.col("ppm1") - F.col("ppm2")) * (F.col("ppm1") - F.col("ppm2"))
    w = Window.partitionBy("event_type")
    scored = shares.withColumn("d2", d2).withColumn("mx", F.max("d2").over(w))
    return scored.groupBy("event_type").agg(
        F.sum("d2").alias("drift_score"),
        F.count(F.lit(1)).alias("n_bins"),
        F.min(F.when(F.col("d2") == F.col("mx"), F.col("bin"))).alias(
            "top_drift_bin"
        ),
    )


@query(
    "weekly_revenue_wow_change",
    oracle="""
WITH wk AS (
    SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS revenue_cents
    FROM events WHERE event_type = 'purchase'
    GROUP BY date_trunc('week', ts)
)
SELECT week, revenue_cents,
       revenue_cents - LAG(revenue_cents) OVER (ORDER BY week)
           AS delta_cents,
       CASE WHEN LAG(revenue_cents) OVER (ORDER BY week) > 0
            THEN ((revenue_cents - LAG(revenue_cents) OVER (ORDER BY week))
                  * 10000) // LAG(revenue_cents) OVER (ORDER BY week)
       END AS change_bp
FROM wk
""",
)
def q_weekly_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue change in integer basis points — the
    KPI-dashboard staple. The single-partition lag window runs over
    WEEK rows (a handful), not events: the heavy lifting is the
    map-side-combined weekly cent sum; the unpartitioned window's
    single-task stage sees ~52 rows/year, which is the correct
    trade (a global sort of events for this would be the mistake)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
                "week"
            )
        )
        .agg(F.sum(F.floor(F.col("value") * 100)).alias("revenue_cents"))
    )
    w = Window.orderBy("week")
    prev = F.lag("revenue_cents").over(w)
    return wk.select(
        "week",
        "revenue_cents",
        (F.col("revenue_cents") - prev).alias("delta_cents"),
        F.when(
            prev > 0,
            F.expr(
                "((revenue_cents - lag(revenue_cents) over (order by week))"
                " * 10000) div lag(revenue_cents) over (order by week)"
            ),
        ).alias("change_bp"),
    )


@query(
    "partitioned_write_roundtrip",
    # content gate: the partitioned write → partition-pruned read
    # round trip must preserve every row; the oracle recomputes the
    # pruned slice straight from the source table.
    oracle="""
SELECT event_type, CAST(ts AS DATE)::VARCHAR AS day,
       COUNT(*)::BIGINT AS n_events,
       SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS value_cents_sum
FROM events
WHERE event_type IN ('purchase', 'click')
GROUP BY 1, 2
""",
)
def q_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-lake WRITE path: events land partitioned by
    (event_type, day) — hive-style directories, the layout every
    downstream reader prunes on — and the read-back is filtered to
    two types so ``PartitionFilters`` (not data filters) prune the
    scan; dynamic partition overwrite is ON, so re-running a day's
    backfill replaces ONLY the partitions it touches (the idempotent
    backfill contract — static overwrite would truncate the whole
    table; the pytest pins untouched-partition survival). The write
    repartitions by the partition columns first (guide §6 shape):
    each (event_type, day) then lands in exactly ONE shuffle task,
    so the job writes one file per partition directory instead of
    files × scan-tasks — the mandatory layout at 100 TB, where a
    commit of files × tasks small files is what kills
    hive-partitioned writes. The repartition is SIZE-GATED (r14,
    verdict item 6): below ``$SPARK_GRAFT_PARTWRITE_REPART_MIN_BYTES``
    (default 256 MiB) of source bytes the scan is a handful of tasks
    and the file count is already ~one per directory, so the extra
    full exchange is pure fixed cost (measured +32% at sf0.1's 2 MB
    input); above it the exchange is what bounds the commit. The gate
    reads driver-side file sizes — no extra Spark job — and a pytest
    pins the above-threshold one-file-per-partition-dir layout via
    the env override."""
    import os
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    base = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_part_write",
        os.path.basename(sf_dir.rstrip("/")) or "sf",
    )
    staged = ev.select(
        "event_id",
        "user_id",
        "value",
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    )
    repart_min = int(
        os.environ.get(
            "SPARK_GRAFT_PARTWRITE_REPART_MIN_BYTES", str(256 * 1024**2)
        )
    )
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        src_bytes = sum(
            os.path.getsize(os.path.join(src, f))
            for f in os.listdir(src)
            if not f.startswith(("_", "."))
        )
    else:
        src_bytes = os.path.getsize(src) if os.path.exists(src) else repart_min
    if src_bytes >= repart_min:
        staged = staged.repartition("event_type", "day")
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_type", "day")
        .parquet(base)
    )
    back = spark.read.parquet(base).where(
        F.col("event_type").isin("purchase", "click")
    )
    return back.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100)).alias("value_cents_sum"),
    )


def _equal_freq_oracle() -> str:
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        NTILE_EXACT_MAX,
    )

    cut_aggs = ",\n           ".join(
        f"MIN(CASE WHEN cum * 10 >= n * {i} THEN cents END) AS c{i}"
        for i in range(1, 10)
    )
    score = " + ".join(f"(t.cents > cuts.c{i})::INT" for i in range(1, 10))
    return f"""
WITH nct AS (SELECT COUNT(*) AS n FROM events),
t AS (
    SELECT event_type, event_id, value,
           FLOOR(value * 100)::BIGINT AS cents
    FROM events
),
scored AS (
    SELECT event_type, cents,
           NTILE(10) OVER (PARTITION BY event_type
                           ORDER BY value, event_id) AS decile
    FROM t
),
exact_arm AS (
    SELECT event_type, decile,
           COUNT(*)::BIGINT AS n,
           MIN(cents)::BIGINT AS lo_cents,
           MAX(cents)::BIGINT AS hi_cents
    FROM scored GROUP BY event_type, decile
),
hist AS (
    SELECT event_type, cents, COUNT(*) AS c FROM t GROUP BY 1, 2
),
cum AS (
    SELECT event_type, cents,
           SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
           SUM(c) OVER (PARTITION BY event_type) AS n
    FROM hist
),
cuts AS (
    SELECT event_type,
           {cut_aggs}
    FROM cum GROUP BY event_type
),
assigned AS (
    SELECT t.event_type, t.cents,
           1 + {score} AS decile
    FROM t JOIN cuts ON t.event_type = cuts.event_type
),
hist_arm AS (
    SELECT event_type, decile,
           COUNT(*)::BIGINT AS n,
           MIN(cents)::BIGINT AS lo_cents,
           MAX(cents)::BIGINT AS hi_cents
    FROM assigned GROUP BY event_type, decile
)
SELECT * FROM exact_arm WHERE (SELECT n FROM nct) <= {NTILE_EXACT_MAX}
UNION ALL
SELECT * FROM hist_arm WHERE (SELECT n FROM nct) > {NTILE_EXACT_MAX}
"""


def _equal_freq_hist_arm(ev: DataFrame) -> DataFrame:
    """The at-scale arm: per-type histogram cut points (9 cuts,
    broadcast) + pure-projection assignment — no data-grain sort."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        hist_ntile_cuts,
        hist_ntile_score,
    )

    t = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    cuts = hist_ntile_cuts(t, "cents", 10, ("event_type",))
    assigned = hist_ntile_score(t, cuts, "cents", 10, "decile", ("event_type",))
    return assigned.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


@query("equal_freq_feature_bins", oracle=_equal_freq_oracle())
def q_equal_freq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency feature binning — the discretization step
    before monotone models / WOE encoding: decile assignment per
    event type, then per-bin population and cent boundaries.

    COUNT-BANDED (`operators/ranks.py::ntile_mode`, the
    lsh_planes_for precedent): at or below 2^24 events the exact
    ``ntile(10)`` runs (deterministic under the (value, event_id)
    total order, one type-keyed exchange serves window AND groupBy);
    above the band the per-type DATA-GRAIN sort gives way to
    histogram cut points over the value-grain cents histogram
    (`histogram_quantiles_by_type`'s integer cumulative-count rule)
    with a broadcast 9-cut lookup and pure-projection assignment.
    The oracle selects the same arm from the same COUNT(*); fixtures
    resolve to exact, the histogram arm is cross-engine-pinned by
    pytest. The arms differ only in tie handling (histogram bins by
    VALUE — ties share a bucket)."""
    from pyspark.sql import Window

    from web_analytics_visits_re_processing_spark.operators.ranks import (
        ntile_mode,
    )

    ev = load_table(spark, sf_dir, "events")
    n = memo("events_n", sf_dir, ev.count)
    if ntile_mode(n) == "histogram":
        return _equal_freq_hist_arm(ev)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.ntile(10).over(w).alias("decile"),
    )
    return t.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
    )


@query(
    "weighted_sample_orders",
    # membership: salted 60-bit md5 of the order key mod 1e6 <
    # price-proportional ppm — no RNG, replays row-for-row; the same
    # portable-hash convention as temperature_sample.
    oracle="""
WITH mx AS (
    SELECT MAX(FLOOR(o_totalprice * 100)::BIGINT) AS max_cents FROM orders
), w AS (
    SELECT o_orderkey, o_orderpriority,
           FLOOR(o_totalprice * 100)::BIGINT AS cents,
           (FLOOR(o_totalprice * 100)::BIGINT * 1000000) // mx.max_cents
               AS w_ppm
    FROM orders, mx
), k AS (
    SELECT *,
           ('0x' || substring(md5(CAST(o_orderkey AS VARCHAR) || '|wsample'),
                              1, 15))::BIGINT % 1000000 < w_ppm AS kept
    FROM w
)
SELECT o_orderpriority,
       COUNT(*)::BIGINT AS n_total,
       SUM(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       SUM(CASE WHEN kept THEN cents ELSE 0 END)::BIGINT AS kept_value_cents
FROM k GROUP BY o_orderpriority
""",
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic VALUE-WEIGHTED sampling (probability-proportional
    -to-size): each order's inclusion probability is its price as a
    fraction of the maximum, membership decided by a salted portable
    hash — no RNG, so the exact kept set replays in SQL and re-runs
    are idempotent (the property Bernoulli `sample()` throws away).
    This is importance sampling for pipeline debugging: a 1%-ish
    slice that over-represents the revenue the analyst actually
    cares about. One-row max broadcast, keep decision is a pure
    projection — zero shuffle beyond the tiny priority rollup."""
    from web_analytics_visits_re_processing_spark.functions.text import hash64

    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(
        F.max(F.floor(F.col("o_totalprice") * 100)).alias("max_cents")
    )
    w = o.crossJoin(F.broadcast(mx)).select(
        "o_orderkey",
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.expr(
            "(cast(floor(o_totalprice * 100) as bigint) * 1000000)"
            " div max_cents"
        ).alias("w_ppm"),
    )
    kept = (
        hash64(F.concat_ws("|", F.col("o_orderkey").cast("string"), F.lit("wsample")))
        % F.lit(1_000_000)
        < F.col("w_ppm")
    )
    return w.withColumn("kept", kept).groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("kept"), F.col("cents")).otherwise(0)).alias(
            "kept_value_cents"
        ),
    )


@query(
    "hll_merge_groups",
    # The oracle computes the GLOBAL register table directly; the
    # Spark side MERGES the per-event-type sketches by register MAX.
    # Equality is the mergeability theorem (max is associative),
    # machine-checked — the property that lets per-day sketches roll
    # into monthly distincts without touching raw data.
    oracle="""
WITH h AS (
    SELECT ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
    FROM events
), regs AS (
    SELECT hv & 63 AS r_idx,
           MAX(CASE WHEN (hv >> 6) = 0 THEN 55
                    ELSE 55 - length(bin(hv >> 6)) END)::BIGINT AS r_rho
    FROM h GROUP BY 1
), per AS (
    SELECT COUNT(*) AS n_set,
           CAST(SUM(1::BIGINT << (55 - r_rho)) AS BIGINT) AS s_present
    FROM regs
), fin AS (
    SELECT CAST(64 - n_set AS BIGINT) AS v_empty,
           CAST(s_present + (64 - n_set) * (1::BIGINT << 55) AS BIGINT)
               AS s_scaled
    FROM per
), est AS (
    SELECT v_empty, s_scaled,
           CAST(FLOOR(10000 * CASE
               WHEN (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968)
                        / s_scaled <= 160.0 AND v_empty > 0
               THEN 64 * ln(64 / CAST(v_empty AS DOUBLE))
               ELSE (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968)
                        / s_scaled
           END) AS BIGINT) AS hll_estimate_e4
    FROM fin
)
SELECT est.v_empty, est.s_scaled, est.hll_estimate_e4,
       (SELECT COUNT(DISTINCT user_id) FROM events)::BIGINT AS n_exact
FROM est
""",
)
def q_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGE — the property that makes HLL worth carrying at
    100 TB: the per-event-type register tables (already a gated
    query) roll up to ONE global distinct-users sketch by register
    MAX, no raw-data re-scan. The oracle computes the global sketch
    DIRECTLY from events; equality of (register sum, estimate) is a
    machine check of the mergeability theorem, not just of one
    formula. Per-day → per-month rollups at scale are this exact
    shape with dates for event types."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events")
    per_group = hll_registers(ev, "user_id", ("event_type",))
    merged = per_group.groupBy("r_idx").agg(F.max("r_rho").alias("r_rho"))
    est = hll_estimate(merged, ())
    exact = ev.agg(F.count_distinct("user_id").alias("n_exact"))
    return est.crossJoin(F.broadcast(exact)).select(
        "v_empty", "s_scaled", "hll_estimate_e4", "n_exact"
    )


def _rfm_cut_sql(metric: str, val: str, k: int = 5) -> str:
    """Cut-point CTE chain for one RFM metric (value-grain histogram →
    cumulative counts → k-1 smallest-value-reaching-ceil(i·n/k) cuts,
    one output row)."""
    cut_aggs = ",\n           ".join(
        f"MIN(CASE WHEN cum * {k} >= n * {i} THEN v END) AS c{i}"
        for i in range(1, k)
    )
    return f"""{metric}h AS (
    SELECT {val} AS v, COUNT(*) AS c FROM rfm GROUP BY 1
),
{metric}cum AS (
    SELECT v, SUM(c) OVER (ORDER BY v) AS cum,
           (SELECT COUNT(*) FROM rfm) AS n
    FROM {metric}h
),
{metric}cuts AS (
    SELECT {cut_aggs}
    FROM {metric}cum
)"""


def _rfm_oracle() -> str:
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        NTILE_EXACT_MAX,
    )

    def score(metric: str, val: str, k: int = 5) -> str:
        return "1 + " + " + ".join(
            f"({val} > {metric}cuts.c{i})::INT" for i in range(1, k)
        )

    return f"""
WITH anchor AS (
    SELECT MAX(CAST(ts AS DATE)) AS d0 FROM events
), rfm AS (
    SELECT user_id,
           (anchor.d0 - MAX(CAST(ts AS DATE))) AS recency_days,
           COUNT(*)::BIGINT AS frequency,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS monetary_cents
    FROM events, anchor
    WHERE event_type = 'purchase'
    GROUP BY user_id, anchor.d0
), exact_scored AS (
    SELECT user_id, recency_days, frequency, monetary_cents,
           NTILE(5) OVER (ORDER BY recency_days DESC, user_id) AS r_score,
           NTILE(5) OVER (ORDER BY frequency, user_id) AS f_score,
           NTILE(5) OVER (ORDER BY monetary_cents, user_id) AS m_score
    FROM rfm
),
{_rfm_cut_sql("r", "-recency_days")},
{_rfm_cut_sql("f", "frequency")},
{_rfm_cut_sql("m", "monetary_cents")},
hist_scored AS (
    SELECT rfm.user_id, rfm.recency_days, rfm.frequency,
           rfm.monetary_cents,
           {score("r", "-rfm.recency_days")} AS r_score,
           {score("f", "rfm.frequency")} AS f_score,
           {score("m", "rfm.monetary_cents")} AS m_score
    FROM rfm, rcuts, fcuts, mcuts
),
arms AS (
    SELECT * FROM exact_scored
    WHERE (SELECT COUNT(*) FROM rfm) <= {NTILE_EXACT_MAX}
    UNION ALL
    SELECT * FROM hist_scored
    WHERE (SELECT COUNT(*) FROM rfm) > {NTILE_EXACT_MAX}
)
SELECT user_id, recency_days::BIGINT AS recency_days, frequency,
       monetary_cents, r_score, f_score, m_score,
       'R' || r_score || 'F' || f_score || 'M' || m_score AS segment
FROM arms
"""


def _rfm_hist_arm(rfm: DataFrame) -> DataFrame:
    """At-scale scoring: three global histogram-cut quintiles (each a
    value-grain two-pass running sum + a one-row broadcast of 4 cuts,
    assignment pure projection) — no user-grain total order."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        hist_ntile_cuts,
        hist_ntile_score,
    )

    t = rfm.withColumn("_neg_rec", -F.col("recency_days"))
    for metric, val in (("r", "_neg_rec"), ("f", "frequency"), ("m", "monetary_cents")):
        cuts = hist_ntile_cuts(t.select(val), val, 5)
        t = hist_ntile_score(t, cuts, val, 5, f"{metric}_score")
    return t.drop("_neg_rec")


@query("rfm_segments", oracle=_rfm_oracle())
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the CRM feature-assembly staple:
    per purchasing user, recency (days since last purchase, anchored
    at the corpus max date so the gate is time-independent),
    frequency and monetary cents, each quintile-scored by
    deterministic ntile (5 = best; user_id tiebreaks), concatenated
    into the 'R5F4M3' segment code a campaign tool consumes. The
    quintiles rank USERS — a frame that grows with the data — so all
    three ride the distributed two-pass ntile (operators.ranks,
    pinned against F.ntile by pytest); no unpartitioned window
    remains (r9 single-partition-window retirement). COUNT-BANDED
    (`ntile_mode`): above 2^24 ranked users even the two-pass exact
    ntile gives way to histogram cut points (4 cuts per metric,
    broadcast; assignment pure projection) — the oracle replays both
    arms behind the same COUNT(*) CASE, fixtures resolve to exact,
    and the histogram arm is cross-engine-pinned by pytest.
    Structure: the
    per-user rollup is STAGED once per (session, sf) — the CRM
    feature table a campaign warehouse materializes per snapshot —
    and the three quintiles rank the staged leaf INDEPENDENTLY, then
    join back 1:1 on user_id. Chaining them instead nests the
    two-pass rank's double self-reference multiplicatively: the
    pre-fix chained plan carried 408 exchanges and scanned the fact
    table 128 times (the wedge-tree plan-bloat class, and at 100 TB
    dozens of redundant fact scans — measured 0.6 s → 5.3 s at
    sf0.1 when the chain landed)."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        global_ntile,
        ntile_mode,
    )

    def build() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        anchor = ev.agg(F.max(F.to_date("ts")).alias("d0"))
        return (
            ev.where(F.col("event_type") == "purchase")
            .crossJoin(F.broadcast(anchor))
            .groupBy("user_id", "d0")
            .agg(
                F.max(F.to_date("ts")).alias("last_d"),
                F.count(F.lit(1)).alias("frequency"),
                F.sum(
                    F.floor(F.col("value") * 100)
                ).alias("monetary_cents"),
            )
            .select(
                "user_id",
                F.datediff("d0", "last_d")
                .cast("long")
                .alias("recency_days"),
                "frequency",
                "monetary_cents",
            )
        )

    rfm = staged("rfm_user_rollup", spark, sf_dir, build)
    n_users = memo("rfm_users_n", sf_dir, rfm.count)
    if ntile_mode(n_users) == "histogram":
        scored = _rfm_hist_arm(rfm)
    else:
        r = global_ntile(
            rfm.select("user_id", "recency_days"),
            [F.col("recency_days").desc(), F.col("user_id")],
            5,
            "r_score",
        ).select("user_id", "r_score")
        fsc = global_ntile(
            rfm.select("user_id", "frequency"),
            ["frequency", "user_id"],
            5,
            "f_score",
        ).select("user_id", "f_score")
        m = global_ntile(
            rfm.select("user_id", "monetary_cents"),
            ["monetary_cents", "user_id"],
            5,
            "m_score",
        ).select("user_id", "m_score")
        scored = (
            rfm.join(r, "user_id").join(fsc, "user_id").join(m, "user_id")
        )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        "r_score",
        "f_score",
        "m_score",
        F.concat(
            F.lit("R"), F.col("r_score").cast("string"),
            F.lit("F"), F.col("f_score").cast("string"),
            F.lit("M"), F.col("m_score").cast("string"),
        ).alias("segment"),
    )


@query(
    "k_anonymity_audit",
    oracle="""
SELECT c_nationkey, c_mktsegment,
       COUNT(*)::BIGINT AS n,
       CASE WHEN COUNT(*) < 5 THEN 1 ELSE 0 END AS at_risk
FROM customer GROUP BY 1, 2
""",
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the (nation, market-segment)
    quasi-identifier: equivalence-class sizes with the k<5 risk flag
    — the privacy gate you run before releasing a 'pseudonymized'
    extract, because classes of 1-4 re-identify by join with any
    public nation/segment attribute. One map-side-combined groupBy;
    at 100 TB the remediation (generalize or suppress the flagged
    classes) consumes this exact output."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.when(F.count(F.lit(1)) < 5, 1).otherwise(0).alias("at_risk"),
    )


@query(
    "gdpr_delete_cascade",
    oracle="""
WITH del AS (
    SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0
)
SELECT 'customer' AS tbl,
       (SELECT COUNT(*) FROM customer
        WHERE c_custkey IN (SELECT c_custkey FROM del))::BIGINT AS n_deleted,
       (SELECT COUNT(*) FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM del))::BIGINT
           AS n_remaining
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del))::BIGINT,
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM del))::BIGINT
UNION ALL
SELECT 'lineitem',
       (SELECT COUNT(*) FROM lineitem l JOIN orders o
            ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey IN (SELECT c_custkey FROM del))::BIGINT,
       (SELECT COUNT(*) FROM lineitem l JOIN orders o
            ON o.o_orderkey = l.l_orderkey
        WHERE o.o_custkey NOT IN (SELECT c_custkey FROM del))::BIGINT
""",
)
def q_gdpr_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten impact analysis: a deletion list (every
    97th customer — in production, the DSAR queue) cascaded through
    the FK graph customer → orders → lineitem, reporting per table
    the rows to purge and the rows that remain. SEMI/ANTI joins
    against the broadcast deletion list — the same two-sided split a
    real purge job executes (rewrite each partition keeping the anti
    side), so this query is its dry run. Transitive reach (lineitem)
    goes through the orders join, not a second scan of the deletion
    list."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    dels = c.where(F.col("c_custkey") % 97 == 0).select("c_custkey")

    def split(df: DataFrame, key: str, name: str) -> DataFrame:
        # the deletion list is customer-grain (a real purge queue
        # grows with the user base): no forced broadcast hint
        d = dels.select(F.col("c_custkey").alias(key))
        gone = df.join(d, key, "left_semi").agg(
            F.lit(name).alias("tbl"), F.count(F.lit(1)).alias("n_deleted")
        )
        kept = df.join(d, key, "left_anti").agg(
            F.count(F.lit(1)).alias("n_remaining")
        )
        return gone.crossJoin(kept)

    li_o = li.join(
        o.select(F.col("o_orderkey").alias("l_orderkey"), "o_custkey"),
        "l_orderkey",
    )
    out = (
        split(c, "c_custkey", "customer")
        .unionAll(split(o, "o_custkey", "orders"))
        .unionAll(split(li_o, "o_custkey", "lineitem"))
    )
    return out.select("tbl", "n_deleted", "n_remaining")


@query(
    "revenue_share_within_region",
    oracle="""
WITH rev AS (
    SELECT r.r_name AS region, n.n_name AS nation,
           SUM(FLOOR(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY r.r_name, n.n_name
)
SELECT region, nation, cents,
       ((cents * 1000000) // SUM(cents) OVER (PARTITION BY region))::BIGINT
           AS share_ppm,
       RANK() OVER (PARTITION BY region ORDER BY cents DESC, nation)
           AS rank_in_region
FROM rev
""",
)
def q_revenue_share_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total within group (Oracle's RATIO_TO_REPORT,
    integer-ppm form): each nation's share of its region's revenue
    plus its in-region rank — the BI drill-down staple. The window
    runs over the ~25-row nation rollup, never events; the revenue
    rollup itself broadcasts its three dimension joins (nation,
    region hinted; customer AQE-sized)."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100)).alias("cents"))
    )
    w = Window.partitionBy("region")
    wr = Window.partitionBy("region").orderBy(F.col("cents").desc(), "nation")
    return rev.select(
        "region",
        "nation",
        "cents",
        F.expr(
            "cast((cast(cents as decimal(38,0)) * 1000000)"
            " div sum(cents) over (partition by region) as long)"
        ).alias("share_ppm"),
        F.rank().over(wr).alias("rank_in_region"),
    )


@query(
    "trimmed_mean_by_type",
    # 10%-trimmed mean: drop the lowest and highest decile BY RANK
    # (row_number over (value, event_id) — deterministic), average the
    # middle 80% in integer cents ppm. The robust-location statistic
    # that survives the fat tails the plain mean doesn't.
    oracle="""
WITH ranked AS (
    SELECT event_type, FLOOR(value * 100)::BIGINT AS cents,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
), mid AS (
    SELECT event_type, cents, n FROM ranked
    WHERE rn * 10 > n AND (n - rn) * 10 >= n
)
SELECT event_type,
       COUNT(*)::BIGINT AS n_kept,
       SUM(cents)::BIGINT AS kept_cents,
       ((SUM(cents) * 1000000) // COUNT(*))::BIGINT AS trimmed_mean_ppm
FROM mid GROUP BY event_type
""",
)
def q_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean per event type — the robust complement to the
    3σ anomaly rule: rank rows deterministically, keep the middle 80%
    by the cross-multiplied integer rank tests (rn·10 > n and
    (n−rn)·10 ≥ n — no float percent anywhere), then an integer-ppm
    mean of cents. One type-keyed exchange serves ranking and both
    aggregates. At 100 TB the per-type sort gives way to
    histogram-bin trimming (drop the tail BINS) — same statistic to
    bin precision."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        # long rank: the int32 row_number would overflow the rn*10
        # cross-multiplied test past ~2e8 rows/group (the Spearman
        # scale-probe lesson applied preemptively).
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.where(
        (F.col("rn") * 10 > F.col("n"))
        & ((F.col("n") - F.col("rn")) * 10 >= F.col("n"))
    )
    return mid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("cents").alias("kept_cents"),
        F.expr(
            "cast((cast(sum(cents) as decimal(38,0)) * 1000000)"
            " div count(1) as long)"
        ).alias("trimmed_mean_ppm"),
    )


@query(
    "mad_outlier_flags",
    # Robust outliers with ZERO float math: med = the cents value at
    # the ceil(n/2) rank (smallest value whose rank reaches n/2 via
    # cross-multiplied integers), MAD = the same rule over |x − med|,
    # flag |x − med| > 3·MAD. Counts per type keep the output small.
    oracle="""
WITH ranked AS (
    SELECT event_type, FLOOR(value * 100)::BIGINT AS cents,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
), med AS (
    SELECT event_type, MIN(CASE WHEN rn * 2 >= n THEN cents END) AS med
    FROM ranked GROUP BY event_type
), dev AS (
    SELECT r.event_type, r.cents, ABS(r.cents - m.med) AS ad, m.med,
           ROW_NUMBER() OVER (PARTITION BY r.event_type
                              ORDER BY ABS(r.cents - m.med), r.cents, r.rn)
               AS arn,
           COUNT(*) OVER (PARTITION BY r.event_type) AS n
    FROM ranked r JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, MIN(CASE WHEN arn * 2 >= n THEN ad END) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type, MAX(d.med)::BIGINT AS median_cents,
       MAX(mad.mad)::BIGINT AS mad_cents,
       COUNT(*)::BIGINT AS n,
       SUM(CASE WHEN d.ad > 3 * mad.mad THEN 1 ELSE 0 END)::BIGINT
           AS n_outliers
FROM dev d JOIN mad USING (event_type)
GROUP BY d.event_type
""",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier detection — the robust
    alternative to the 3σ rule (one whale day moves a mean+stddev
    fence; it barely moves median+MAD). Entirely integer: both
    medians read off cross-multiplied ranks (the histogram-quantile
    rule applied to exact ranks), the fence is |x−med| > 3·MAD. Two
    type-keyed window passes + one broadcast med/mad join; at 100 TB
    both medians come from the mergeable cent-bin histogram instead
    of ranks — same fence to bin precision."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") * 2 >= F.col("n"), F.col("cents"))
        ).alias("med")
    )
    dev = ranked.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("cents") - F.col("med"))
    )
    wd = Window.partitionBy("event_type").orderBy("ad", "cents", "rn")
    dev = dev.withColumn("arn", F.row_number().over(wd).cast("long"))
    mad = dev.groupBy("event_type").agg(
        F.min(F.when(F.col("arn") * 2 >= F.col("n"), F.col("ad"))).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("med").alias("median_cents"),
            F.max("mad").alias("mad_cents"),
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "open_order_aging_buckets",
    # Aging report over open orders: days since order date, anchored
    # at the corpus max orderdate (time-independent gate), bucketed
    # into the standard AR aging bands per priority.
    oracle="""
WITH anchor AS (
    SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders
), aged AS (
    SELECT o_orderpriority,
           (anchor.d0 - CAST(o_orderdate AS DATE)) AS age_days,
           FLOOR(o_totalprice * 100)::BIGINT AS cents
    FROM orders, anchor WHERE o_orderstatus = 'O'
)
SELECT o_orderpriority,
       CASE WHEN age_days <= 30 THEN '0-30'
            WHEN age_days <= 90 THEN '31-90'
            WHEN age_days <= 180 THEN '91-180'
            ELSE '180+' END AS bucket,
       COUNT(*)::BIGINT AS n_orders,
       SUM(cents)::BIGINT AS value_cents,
       MAX(age_days)::BIGINT AS oldest_days
FROM aged GROUP BY 1, 2
""",
)
def q_open_order_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order aging buckets — the AR/fulfillment backlog report:
    every still-open order's age (vs the corpus max orderdate, so the
    gate is time-independent) banded into 0-30/31-90/91-180/180+ days
    per priority, with count, value and the oldest straggler. The
    status filter pushes to the parquet scan; the bucket CASE is a
    zero-shuffle projection; one map-side-combined groupBy ends it."""
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("d0"))
    aged = (
        o.where(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_orderpriority",
            F.datediff("d0", F.to_date("o_orderdate"))
            .cast("long")
            .alias("age_days"),
            F.floor(F.col("o_totalprice") * 100).alias("cents"),
        )
    )
    bucket = (
        F.when(F.col("age_days") <= 30, "0-30")
        .when(F.col("age_days") <= 90, "31-90")
        .when(F.col("age_days") <= 180, "91-180")
        .otherwise("180+")
    )
    return aged.groupBy("o_orderpriority", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("value_cents"),
        F.max("age_days").alias("oldest_days"),
    )


# Morton (Z-order) interleave of two 16-bit keys via pure integer
# arithmetic — ((x div 2^b) % 2) * 2^(2b) terms — so the SAME formula
# replays in Spark (`div`) and DuckDB (`//`) with no engine-specific
# bit operators.
def _morton_terms(xcol: str, ycol: str, op: str) -> str:
    terms = []
    for b in range(16):
        terms.append(f"(({xcol} {op} {2 ** b}) % 2) * {2 ** (2 * b)}")
        terms.append(f"(({ycol} {op} {2 ** b}) % 2) * {2 ** (2 * b + 1)}")
    return " + ".join(terms)


@query(
    "zorder_locality_stats",
    # Z-order layout audit: orders keyed by the Morton interleave of
    # (custkey low 16 bits, orderdate epoch-day low 16 bits), cut into
    # 64 equal z-ranges; per range, the min/max of BOTH dimensions —
    # the zone-map ranges a z-sorted file layout would expose.
    oracle=f"""
WITH keyed AS (
    SELECT (o_custkey % 65536) AS xk,
           (datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
                % 65536) AS yk
    FROM orders
), z AS (
    SELECT xk, yk, ({_morton_terms('xk', 'yk', '//')}) AS zval
    FROM keyed
)
SELECT (zval // {2 ** 26})::BIGINT AS z_bucket,
       COUNT(*)::BIGINT AS n_orders,
       MIN(xk)::BIGINT AS min_x, MAX(xk)::BIGINT AS max_x,
       MIN(yk)::BIGINT AS min_y, MAX(yk)::BIGINT AS max_y
FROM z GROUP BY 1
""",
)
def q_zorder_locality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout audit — the multi-dimensional
    data-clustering technique behind Delta/Iceberg OPTIMIZE ZORDER:
    interleaving the bits of (customer, order-day) gives a single
    sort key under which ANY contiguous range spans a bounded
    rectangle of BOTH dimensions, so per-file zone maps (the min/max
    this query reports per z-range) prune two-dimensional predicates
    a single-column sort can only prune on one. The interleave is 32
    generated pure-integer terms (no UDF, fully codegen'd); the
    audit agg is one map-side-combined groupBy over 64 buckets. At
    100 TB this key feeds `repartitionByRange(zval).sortWithinPartitions`
    before the partitioned write already gated in
    `partitioned_write_roundtrip`."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        (F.col("o_custkey") % 65536).alias("xk"),
        (
            F.datediff(F.to_date("o_orderdate"), F.lit("1970-01-01"))
            % 65536
        ).alias("yk"),
    )
    z = keyed.select(
        "xk", "yk", F.expr(_morton_terms("xk", "yk", "div")).alias("zval")
    )
    return z.groupBy(
        F.expr(f"zval div {2 ** 26}").alias("z_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("xk").alias("min_x"),
        F.max("xk").alias("max_x"),
        F.min("yk").alias("min_y"),
        F.max("yk").alias("max_y"),
    )


@query(
    "part_demand_trend_top20",
    # Integer OLS slope of weekly shipped quantity per part: slope =
    # (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) in ppm, weeks indexed from the
    # corpus min week (broadcast scalar) so x stays small. Top-20
    # risers via TakeOrdered; den guard for single-week parts.
    oracle="""
WITH w AS (
    SELECT l_partkey,
           (epoch_us(l_shipdate) // 604800000000
                - (SELECT MIN(epoch_us(l_shipdate) // 604800000000)
                   FROM lineitem))::BIGINT AS x,
           SUM(FLOOR(l_quantity)::BIGINT)::BIGINT AS y
    FROM lineitem GROUP BY 1, 2
), fit AS (
    SELECT l_partkey,
           COUNT(*)::BIGINT AS n_weeks,
           SUM(y)::BIGINT AS total_qty,
           (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))::BIGINT AS num,
           (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))::BIGINT AS den
    FROM w GROUP BY l_partkey
)
SELECT l_partkey, n_weeks, total_qty,
       ((num * 1000000) // GREATEST(den, 1))::BIGINT AS slope_ppm
FROM fit
ORDER BY slope_ppm DESC, l_partkey LIMIT 20
""",
)
def q_part_demand_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand-trend screening: per part, the ordinary-least-squares
    slope of its weekly shipped quantity — entirely in integers
    (weeks index from the corpus min week, the classic n·Σxy − ΣxΣy
    cross-multiplied form, ppm output), ranked to the top-20 risers.
    This is the replenishment-planning sweep: which SKUs are
    accelerating. Scale shape: lineitems collapse map-side to
    (part, week) cells; the regression is one part-keyed aggregate
    over ≤ |weeks| rows per part; ranking is TakeOrdered (top-20 to
    the driver, never a global sort). Slope magnitudes stay in int64
    because x is a small week index, not an epoch."""
    li = load_table(spark, sf_dir, "lineitem")
    w0 = li.agg(
        F.expr("min(unix_micros(l_shipdate) div 604800000000)").alias("w0")
    )
    w = (
        li.crossJoin(F.broadcast(w0))
        .groupBy(
            "l_partkey",
            F.expr(
                "unix_micros(l_shipdate) div 604800000000 - w0"
            ).alias("x"),
        )
        .agg(F.sum(F.floor("l_quantity")).alias("y"))
    )
    fit = w.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum("y").alias("total_qty"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
            - F.sum("x") * F.sum("y")
        ).alias("num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
            - F.sum("x") * F.sum("x")
        ).alias("den"),
    )
    scored = fit.select(
        "l_partkey",
        "n_weeks",
        "total_qty",
        # num is per-part but crossable: a whale SKU with ~1e8 total
        # units pushes num·1e6 past int64 while slope_ppm stays in
        # range — widen BEFORE the multiply (the probe-class lesson).
        F.expr(
            "cast((cast(num as decimal(38,0)) * 1000000)"
            " div greatest(den, 1) as long)"
        ).alias("slope_ppm"),
    )
    return scored.orderBy(
        F.col("slope_ppm").desc(), "l_partkey"
    ).limit(20)


@query(
    "wow_revenue_contribution",
    # 'Why did revenue move': the last week's delta vs the prior week
    # decomposed by event type — each type's share of the TOTAL delta
    # in ppm (shares sum to ~1e6 up to truncation) plus its own
    # growth in basis points. Weeks are epoch-week integers (no
    # weekofyear localism).
    oracle="""
WITH wk AS (
    SELECT event_type, epoch_us(ts) // 604800000000 AS w,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS cents
    FROM events
    GROUP BY 1, 2
), last2 AS (
    SELECT MAX(w) AS wmax FROM wk
), cmp AS (
    SELECT e.event_type,
           SUM(CASE WHEN e.w = l.wmax THEN e.cents ELSE 0 END) AS cur,
           SUM(CASE WHEN e.w = l.wmax - 1 THEN e.cents ELSE 0 END) AS prev
    FROM wk e CROSS JOIN last2 l
    GROUP BY e.event_type
), tot AS (
    SELECT SUM(cur - prev) AS total_delta FROM cmp
)
SELECT c.event_type,
       c.cur::BIGINT AS cur_cents,
       c.prev::BIGINT AS prev_cents,
       (c.cur - c.prev)::BIGINT AS delta_cents,
       (((c.cur - c.prev) * 1000000)
            // (CASE WHEN t.total_delta = 0 THEN 1
                     ELSE t.total_delta END))::BIGINT AS contrib_ppm,
       (((c.cur - c.prev) * 10000)
            // GREATEST(c.prev, 1))::BIGINT AS growth_bp
FROM cmp c CROSS JOIN tot t
""",
)
def q_wow_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movement decomposition — the 'why did the
    number move' follow-up to `weekly_revenue_wow_change`: the final
    week's delta split by event type, each type's contribution to
    the TOTAL delta in ppm (a negative contributor offset by a
    positive one is exactly what this surfaces) plus per-type growth
    in basis points. Events collapse map-side to (type, epoch-week)
    cells; everything after runs on ≤ |types|·|weeks| rows with the
    two-week comparison as a conditional aggregate — no joins, no
    second scan."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        "event_type",
        F.expr("unix_micros(ts) div 604800000000").alias("w"),
    ).agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
    wmax = wk.agg(F.max("w").alias("wmax"))
    cmp_df = (
        wk.crossJoin(F.broadcast(wmax))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("w") == F.col("wmax"), F.col("cents")).otherwise(0)
            ).alias("cur"),
            F.sum(
                F.when(F.col("w") == F.col("wmax") - 1, F.col("cents")).otherwise(0)
            ).alias("prev"),
        )
    )
    tot = cmp_df.agg(F.sum(F.col("cur") - F.col("prev")).alias("total_delta"))
    return (
        cmp_df.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("cur").alias("cur_cents"),
            F.col("prev").alias("prev_cents"),
            (F.col("cur") - F.col("prev")).alias("delta_cents"),
            F.expr(
                "((cur - prev) * 1000000) div"
                " (case when total_delta = 0 then 1 else total_delta end)"
            ).alias("contrib_ppm"),
            F.expr(
                "((cur - prev) * 10000) div greatest(prev, 1)"
            ).alias("growth_bp"),
        )
    )


@query(
    "basket_size_stats",
    # Order-size distribution: baskets (distinct parts per order)
    # histogrammed, with per-size order counts and mean basket value
    # in integer cents — the 'do bigger baskets spend more per item'
    # readout.
    oracle="""
WITH per_order AS (
    SELECT l_orderkey,
           COUNT(DISTINCT l_partkey)::BIGINT AS basket_size,
           SUM(FLOOR(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
    FROM lineitem GROUP BY l_orderkey
)
SELECT basket_size,
       COUNT(*)::BIGINT AS n_orders,
       SUM(cents)::BIGINT AS total_cents,
       (SUM(cents) // COUNT(*))::BIGINT AS mean_cents
FROM per_order GROUP BY basket_size
""",
)
def q_basket_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution with mean basket value per size — the
    merchandising readout behind bundle pricing and the bounded-
    basket assumption every pair-join operator in this repo leans on
    (this query IS the evidence that assumption holds: the histogram's
    max size bounds the pair fan-out). Two map-side-combined
    aggregates on the same order key — the second groupBy's input is
    one row per order."""
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_partkey").alias("basket_size"),
        F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("cents"),
    )
    return per_order.groupBy("basket_size").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("total_cents"),
        F.expr("sum(cents) div count(1)").alias("mean_cents"),
    )


@query(
    "supplier_hhi_by_nation",
    # Herfindahl-Hirschman concentration of supplier revenue within
    # each nation: HHI = Σ share² with shares in ppm, so the index is
    # Σ(share_ppm²) div 1e6 — 1e6 = monopoly, 1e6/n = perfect
    # competition. Pure integers; the antitrust-style market-
    # concentration screen, paired with the Gini tier.
    oracle="""
WITH rev AS (
    SELECT s.s_nationkey, l.l_suppkey,
           SUM(FLOOR(l.l_extendedprice * 100)::BIGINT)::BIGINT AS cents
    FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
    GROUP BY 1, 2
), shares AS (
    SELECT s_nationkey, l_suppkey,
           (cents * 1000000)
               // SUM(cents) OVER (PARTITION BY s_nationkey) AS share_ppm
    FROM rev
)
SELECT n.n_name AS nation,
       COUNT(*)::BIGINT AS n_suppliers,
       (SUM(share_ppm * share_ppm) // 1000000)::BIGINT AS hhi_ppm
FROM shares sh JOIN nation n ON n.n_nationkey = sh.s_nationkey
GROUP BY n.n_name
""",
)
def q_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation as the Herfindahl-
    Hirschman index in ppm (1e6 = one supplier takes everything;
    1e6/n = perfectly even) — the concentration screen procurement
    and antitrust analyses start from, and the quadratic companion
    to `gini_revenue_by_nation` (HHI weights big shares harder). All
    integer: ppm shares off the nation-keyed window, squared and
    rescaled by one division. The lineitem scan collapses to
    (nation, supplier) cells map-side; windows and the HHI sum run
    over the supplier rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        # supplier is SF-linear (10k × SF): no forced broadcast hint —
        # size-based planning broadcasts while it fits, shuffles at
        # 100 TB (r9 forced-broadcast audit)
        li.join(
            s.select("s_suppkey", "s_nationkey"),
            li["l_suppkey"] == s["s_suppkey"],
        )
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("cents"))
    )
    shares = rev.select(
        "s_nationkey",
        F.expr(
            "(cents * 1000000)"
            " div sum(cents) over (partition by s_nationkey)"
        ).alias("share_ppm"),
    )
    return (
        shares.join(
            F.broadcast(n), shares["s_nationkey"] == n["n_nationkey"]
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.expr(
                "sum(share_ppm * share_ppm) div 1000000"
            ).alias("hhi_ppm"),
        )
    )


@query(
    "winsorized_mean_by_type",
    # Winsorized mean: tails CLAMPED to the p10/p90 boundary values
    # (vs the trimmed mean, which drops them). Boundaries via the
    # cross-multiplied integer rank rule on the same one exchange;
    # clamping is a projection, the mean is integer ppm.
    oracle="""
WITH ranked AS (
    SELECT event_type, FLOOR(value * 100)::BIGINT AS cents,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY value, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY event_type) AS n
    FROM events
), bounds AS (
    SELECT event_type,
           MIN(CASE WHEN rn * 10 >= n THEN cents END) AS lo,
           MIN(CASE WHEN rn * 10 >= 9 * n THEN cents END) AS hi
    FROM ranked GROUP BY event_type
)
SELECT r.event_type,
       COUNT(*)::BIGINT AS n,
       b.lo::BIGINT AS lo_cents,
       b.hi::BIGINT AS hi_cents,
       ((SUM(LEAST(GREATEST(r.cents, b.lo), b.hi)) * 1000000)
            // COUNT(*))::BIGINT AS winsorized_mean_ppm
FROM ranked r JOIN bounds b ON b.event_type = r.event_type
GROUP BY r.event_type, b.lo, b.hi
""",
)
def q_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type — the robust-location cousin of
    the trimmed mean that CLAMPS the tails to the p10/p90 boundary
    values instead of dropping them (keeps n, bounds influence; the
    estimator of choice when sample size itself matters). Boundaries
    come off the same cross-multiplied integer rank rule as the
    trimmed mean; the clamp is a zero-shuffle projection and the
    boundary table (≤ |types| rows) broadcasts back. Completes the
    robust-statistics trio: trimmed mean, MAD fences, winsorized
    mean."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = ranked.groupBy("event_type").agg(
        F.min(
            F.when(F.col("rn") * 10 >= F.col("n"), F.col("cents"))
        ).alias("lo"),
        F.min(
            F.when(F.col("rn") * 10 >= 9 * F.col("n"), F.col("cents"))
        ).alias("hi"),
    )
    clamped = ranked.join(F.broadcast(bounds), "event_type")
    return clamped.groupBy("event_type", "lo", "hi").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "cast((cast(sum(least(greatest(cents, lo), hi))"
            " as decimal(38,0)) * 1000000)"
            " div count(1) as long)"
        ).alias("winsorized_mean_ppm"),
    ).select(
        "event_type",
        "n",
        F.col("lo").alias("lo_cents"),
        F.col("hi").alias("hi_cents"),
        "winsorized_mean_ppm",
    )


@query(
    "longest_growth_streak_weeks",
    # Longest run of consecutive week-over-week revenue increases —
    # the gaps-and-islands trick on the tiny weekly rollup: up-weeks
    # marked by lag, islands keyed by week_index − running_up_count.
    oracle="""
WITH wk AS (
    SELECT epoch_us(ts) // 604800000000 AS w,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
), flagged AS (
    SELECT w, cents,
           CASE WHEN cents > LAG(cents) OVER (ORDER BY w)
                THEN 1 ELSE 0 END AS up,
           ROW_NUMBER() OVER (ORDER BY w) AS i
    FROM wk
), isl AS (
    SELECT w, up,
           i - SUM(up) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)
               AS island
    FROM flagged
), runs AS (
    SELECT island, COUNT(*)::BIGINT AS len,
           MIN(w)::BIGINT AS from_w, MAX(w)::BIGINT AS to_w
    FROM isl WHERE up = 1 GROUP BY island
)
SELECT COALESCE(MAX(len), 0)::BIGINT AS longest_streak,
       MIN(CASE WHEN len = (SELECT MAX(len) FROM runs) THEN from_w END
       )::BIGINT AS streak_from_week,
       MIN(CASE WHEN len = (SELECT MAX(len) FROM runs) THEN to_w END
       )::BIGINT AS streak_to_week,
       (SELECT COUNT(*) FROM wk)::BIGINT AS n_weeks
FROM runs
""",
)
def q_growth_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive week-over-week revenue growth streak (with
    its week span) — the 'N straight weeks of growth' line in every
    earnings narrative, computed by the gaps-and-islands trick over
    the WEEKLY rollup: up-weeks flagged by lag, runs keyed by
    week_index minus the running up-count. The windows walk ≤ a few
    hundred week rows by design (single-partition, the weekly-KPI
    trade); events collapse map-side first."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    wk = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.expr("unix_micros(ts) div 604800000000").alias("w"))
        .agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
    )
    wo = Window.orderBy("w")
    flagged = wk.select(
        "w",
        F.when(
            F.col("cents") > F.lag("cents").over(wo), 1
        ).otherwise(0).alias("up"),
        F.row_number().over(wo).alias("i"),
    )
    isl = flagged.select(
        "w",
        "up",
        (
            F.col("i")
            - F.sum("up").over(
                wo.rowsBetween(Window.unboundedPreceding, 0)
            )
        ).alias("island"),
    )
    runs = (
        isl.where(F.col("up") == 1)
        .groupBy("island")
        .agg(
            F.count(F.lit(1)).alias("len"),
            F.min("w").alias("from_w"),
            F.max("w").alias("to_w"),
        )
    )
    n_weeks = wk.agg(F.count(F.lit(1)).alias("n_weeks"))
    # struct-max picks (max len, then min from_w); runs are disjoint,
    # so the carried to_w matches the oracle's MIN-among-max-len.
    # agg-over-empty yields one NULL row, keeping the no-up-week case
    # consistent with the oracle's COALESCE/NULL output.
    pick = runs.agg(
        F.max(
            F.struct(
                F.col("len"),
                (-F.col("from_w")).alias("neg_from"),
                F.col("to_w"),
            )
        ).alias("p")
    )
    return pick.crossJoin(F.broadcast(n_weeks)).select(
        F.coalesce(F.col("p.len"), F.lit(0)).alias("longest_streak"),
        (-F.col("p.neg_from")).alias("streak_from_week"),
        F.col("p.to_w").alias("streak_to_week"),
        "n_weeks",
    )


@query(
    "fulfillment_latency_sla",
    # Order-to-first-ship latency per priority: SLA attainment
    # (0..30 days) in ppm, negative latencies surfaced as a
    # data-quality count (ship before order — the FK-audit spirit),
    # and the median latency via the cumulative-histogram rank rule.
    oracle="""
WITH per_order AS (
    SELECT o.o_orderpriority,
           (MIN(CAST(l.l_shipdate AS DATE))
                - CAST(o.o_orderdate AS DATE))::BIGINT AS lat
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
), cells AS (
    SELECT o_orderpriority, lat, COUNT(*)::BIGINT AS c
    FROM per_order GROUP BY 1, 2
), cum AS (
    SELECT o_orderpriority, lat, c,
           SUM(c) OVER (PARTITION BY o_orderpriority ORDER BY lat
                        ROWS UNBOUNDED PRECEDING) AS run,
           SUM(c) OVER (PARTITION BY o_orderpriority) AS n
    FROM cells
)
SELECT o_orderpriority,
       MAX(n)::BIGINT AS n_orders,
       SUM(CASE WHEN lat < 0 THEN c ELSE 0 END)::BIGINT AS n_negative,
       SUM(CASE WHEN lat BETWEEN 0 AND 30 THEN c ELSE 0 END)::BIGINT
           AS n_within_30d,
       ((SUM(CASE WHEN lat BETWEEN 0 AND 30 THEN c ELSE 0 END) * 1000000)
            // MAX(n))::BIGINT AS sla_ppm,
       MIN(CASE WHEN run * 2 >= n THEN lat END)::BIGINT AS p50_latency_days
FROM cum GROUP BY o_orderpriority
""",
)
def q_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA report: order-to-first-ship latency per
    priority class — attainment of the 30-day window in ppm, the
    median latency off the cumulative-histogram integer rank rule,
    and ship-before-order rows surfaced as an explicit data-quality
    count instead of silently polluting the median (the referential-
    integrity-audit spirit applied to time). The order-grain collapse
    (min shipdate) rides the order-keyed join exchange; latencies
    then compress to (priority, latency-day) cells map-side, so every
    window walks a bounded day domain, never orders."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = (
        li.join(
            o.select(
                F.col("o_orderkey").alias("l_orderkey"),
                "o_orderpriority",
                "o_orderdate",
            ),
            "l_orderkey",
        )
        .groupBy("l_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min(F.to_date("l_shipdate")).alias("first_ship"))
        .select(
            "o_orderpriority",
            F.datediff("first_ship", F.to_date("o_orderdate"))
            .cast("long")
            .alias("lat"),
        )
    )
    cells = per_order.groupBy("o_orderpriority", "lat").agg(
        F.count(F.lit(1)).alias("c")
    )
    from pyspark.sql import Window

    wc = Window.partitionBy("o_orderpriority").orderBy("lat").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("o_orderpriority")
    cum = cells.select(
        "o_orderpriority",
        "lat",
        "c",
        F.sum("c").over(wc).alias("run"),
        F.sum("c").over(wn).alias("n"),
    )
    return cum.groupBy("o_orderpriority").agg(
        F.max("n").alias("n_orders"),
        F.sum(F.when(F.col("lat") < 0, F.col("c")).otherwise(0)).alias(
            "n_negative"
        ),
        F.sum(
            F.when(F.col("lat").between(0, 30), F.col("c")).otherwise(0)
        ).alias("n_within_30d"),
        F.expr(
            "(sum(case when lat between 0 and 30 then c else 0 end)"
            " * 1000000) div max(n)"
        ).alias("sla_ppm"),
        F.min(
            F.when(F.col("run") * 2 >= F.col("n"), F.col("lat"))
        ).alias("p50_latency_days"),
    )


@query(
    "join_fanout_audit",
    # Join-amplification audit over the star schema's FK edges: per
    # edge, match-side row counts per key → max fan-out, the
    # amplification ratio in ppm (output rows per probe row), and
    # keys exceeding 2x the mean — the pre-join explosion check.
    oracle="""
WITH co AS (
    SELECT o_custkey AS k, COUNT(*)::BIGINT AS c FROM orders GROUP BY 1
), ol AS (
    SELECT l_orderkey AS k, COUNT(*)::BIGINT AS c FROM lineitem GROUP BY 1
), pl AS (
    SELECT l_partkey AS k, COUNT(*)::BIGINT AS c FROM lineitem GROUP BY 1
), u AS (
    SELECT 'customer->orders' AS edge, k, c FROM co
    UNION ALL SELECT 'orders->lineitem', k, c FROM ol
    UNION ALL SELECT 'part->lineitem', k, c FROM pl
), st AS (
    SELECT edge, c,
           COUNT(*) OVER (PARTITION BY edge) AS nk,
           SUM(c) OVER (PARTITION BY edge) AS sc
    FROM u
)
SELECT edge,
       MAX(nk)::BIGINT AS n_keys,
       MAX(sc)::BIGINT AS n_rows,
       MAX(c)::BIGINT AS max_fanout,
       ((MAX(sc) * 1000000) // MAX(nk))::BIGINT AS mean_fanout_ppm,
       SUM(CASE WHEN c * nk > 2 * sc THEN 1 ELSE 0 END)::BIGINT
           AS n_hot_keys
FROM st GROUP BY edge
""",
)
def q_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-amplification audit — the number you check BEFORE running
    a fact-fact join at 100 TB: for each star-schema FK edge, the
    per-key match cardinality's max (the whale), mean (integer ppm)
    and the count of keys fanning out past 2× the mean (the
    cross-multiplied hot-key rule: c·n_keys > 2·Σc — no float mean
    exists). A max_fanout in the millions on one key is the signal to
    salt (`salted_skew_join_segments`) or pre-aggregate; this audit
    costs three map-side-combined groupBys and a ≤3-row rollup.
    Companion to `key_skew_profile` (which profiles shuffle keys;
    this profiles JOIN match sides)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    co = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    ).select(F.lit("customer->orders").alias("edge"), "k", "c")
    ol = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    ).select(F.lit("orders->lineitem").alias("edge"), "k", "c")
    pl = li.groupBy(F.col("l_partkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c")
    ).select(F.lit("part->lineitem").alias("edge"), "k", "c")
    u = co.unionAll(ol).unionAll(pl)
    from pyspark.sql import Window

    we = Window.partitionBy("edge")
    stats = u.select(
        "edge",
        "c",
        F.count(F.lit(1)).over(we).alias("nk"),
        F.sum("c").over(we).alias("sc"),
    )
    return stats.groupBy("edge").agg(
        F.max("nk").alias("n_keys"),
        F.max("sc").alias("n_rows"),
        F.max("c").alias("max_fanout"),
        F.expr("(max(sc) * 1000000) div max(nk)").alias("mean_fanout_ppm"),
        F.sum(
            F.when(F.col("c") * F.col("nk") > 2 * F.col("sc"), 1).otherwise(0)
        ).alias("n_hot_keys"),
    )


@query(
    "cohort_revenue_matrix",
    # Revenue cohort analysis on ORDERS: customers grouped by
    # first-order month, revenue tracked by months-since-first
    # (offsets 0-5), each cell's retention vs the cohort's month-0
    # revenue in ppm — the net-revenue-retention readout.
    oracle="""
WITH fo AS (
    SELECT o_custkey,
           MIN((EXTRACT(year FROM o_orderdate) * 12
                + EXTRACT(month FROM o_orderdate))::BIGINT) AS m0
    FROM orders GROUP BY o_custkey
), cells AS (
    SELECT fo.m0 AS cohort_month,
           ((EXTRACT(year FROM o.o_orderdate) * 12
             + EXTRACT(month FROM o.o_orderdate))::BIGINT - fo.m0)
               AS offset_m,
           SUM(FLOOR(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
    FROM orders o JOIN fo ON fo.o_custkey = o.o_custkey
    GROUP BY 1, 2
), base AS (
    SELECT cohort_month, cents AS base_cents FROM cells WHERE offset_m = 0
)
SELECT c.cohort_month, c.offset_m, c.cents,
       ((c.cents * 1000000) // b.base_cents)::BIGINT AS retention_ppm
FROM cells c JOIN base b ON b.cohort_month = c.cohort_month
WHERE c.offset_m BETWEEN 0 AND 5
""",
)
def q_cohort_revenue_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue cohort matrix (net-revenue-retention view): customers
    cohorted by first-order month, each cohort's revenue tracked for
    its first six months as a ppm ratio to month 0 — above 1e6 at
    offset k means the cohort EXPANDED (the NRR > 100% story).
    Months are y*12+m integers, no date-diff localism. The
    first-order month collapses per customer on one exchange; cells
    aggregate map-side; the month-0 base joins back broadcast (one
    row per cohort). The user-level sibling is
    `cohort_retention_weekly`; this is the finance-grade
    revenue-weighted form."""
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = o.groupBy("o_custkey").agg(F.min(m).alias("m0"))
    cells = (
        o.join(fo, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (m - F.col("m0")).alias("offset_m"),
        )
        .agg(F.sum(F.floor(F.col("o_totalprice") * 100)).alias("cents"))
    )
    base = cells.where(F.col("offset_m") == 0).select(
        "cohort_month", F.col("cents").alias("base_cents")
    )
    return (
        cells.where(F.col("offset_m").between(0, 5))
        .join(F.broadcast(base), "cohort_month")
        .select(
            "cohort_month",
            "offset_m",
            "cents",
            F.expr(
                "cast((cast(cents as decimal(38,0)) * 1000000)"
                " div base_cents as long)"
            ).alias("retention_ppm"),
        )
    )


@query(
    "new_customer_revenue_share_monthly",
    # Revenue split by customer newness per order month: an order is
    # 'new revenue' iff it lands in its customer's first-order month.
    # Shares in ppm; the acquisition-vs-base finance split.
    oracle="""
WITH fo AS (
    SELECT o_custkey,
           MIN((EXTRACT(year FROM o_orderdate) * 12
                + EXTRACT(month FROM o_orderdate))::BIGINT) AS m0
    FROM orders GROUP BY o_custkey
), tagged AS (
    SELECT (EXTRACT(year FROM o.o_orderdate) * 12
            + EXTRACT(month FROM o.o_orderdate))::BIGINT AS m,
           CASE WHEN (EXTRACT(year FROM o.o_orderdate) * 12
                      + EXTRACT(month FROM o.o_orderdate))::BIGINT = fo.m0
                THEN 1 ELSE 0 END AS is_new,
           FLOOR(o.o_totalprice * 100)::BIGINT AS cents
    FROM orders o JOIN fo ON fo.o_custkey = o.o_custkey
)
SELECT m AS month_idx,
       SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END)::BIGINT
           AS new_cents,
       SUM(CASE WHEN is_new = 0 THEN cents ELSE 0 END)::BIGINT
           AS existing_cents,
       ((SUM(CASE WHEN is_new = 1 THEN cents ELSE 0 END) * 1000000)
            // SUM(cents))::BIGINT AS new_share_ppm
FROM tagged GROUP BY m
""",
)
def q_new_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue split between NEW customers (orders in their
    customer's first-ever month) and the existing base — the
    acquisition-dependence metric: a high new-share month looks great
    until acquisition stalls. One per-customer first-month collapse,
    the newness tag rides the customer join (AQE-broadcast at the
    rollup's size), and the monthly split is one map-side-combined
    conditional aggregate."""
    o = load_table(spark, sf_dir, "orders")
    m = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).cast("long")
    fo = o.groupBy("o_custkey").agg(F.min(m).alias("m0"))
    tagged = o.join(fo, "o_custkey").select(
        m.alias("m"),
        F.when(m == F.col("m0"), 1).otherwise(0).alias("is_new"),
        F.floor(F.col("o_totalprice") * 100).alias("cents"),
    )
    return tagged.groupBy(F.col("m").alias("month_idx")).agg(
        F.sum(
            F.when(F.col("is_new") == 1, F.col("cents")).otherwise(0)
        ).alias("new_cents"),
        F.sum(
            F.when(F.col("is_new") == 0, F.col("cents")).otherwise(0)
        ).alias("existing_cents"),
        F.expr(
            "(sum(case when is_new = 1 then cents else 0 end) * 1000000)"
            " div sum(cents)"
        ).alias("new_share_ppm"),
    )


@query(
    "return_rate_by_brand",
    # Merchandise return analysis: share of lineitems (and of value)
    # returned (l_returnflag = 'R') per part brand, ppm — the
    # quality/abuse screen merchandising reads weekly.
    oracle="""
SELECT p.p_brand,
       COUNT(*)::BIGINT AS n_lines,
       SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
           AS n_returned,
       ((SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*))::BIGINT AS return_rate_ppm,
       ((SUM(CASE WHEN l.l_returnflag = 'R'
                  THEN FLOOR(l.l_extendedprice * 100)::BIGINT
                  ELSE 0 END) * 1000000)
            // SUM(FLOOR(l.l_extendedprice * 100)::BIGINT))::BIGINT
           AS returned_value_ppm
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
GROUP BY p.p_brand
""",
)
def q_return_rate_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-rate screen per brand: line share AND value share of
    returned items in ppm — the two diverge exactly when expensive
    items return disproportionately, which is the fraud/quality
    signal the single rate hides. The part-dimension join rides
    size-based planning (broadcast while it fits); one conditional
    map-side aggregate per brand."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # part is SF-linear: no forced broadcast hint (size-based
    # planning; a hint would pin the 100 TB plan to a driver build)
    j = li.join(
        p.select("p_partkey", "p_brand"),
        li["l_partkey"] == p["p_partkey"],
    )
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    cents = F.floor(F.col("l_extendedprice") * 100)
    return j.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(ret).alias("n_returned"),
        F.expr(
            "(sum(case when l_returnflag = 'R' then 1 else 0 end)"
            " * 1000000) div count(1)"
        ).alias("return_rate_ppm"),
        F.expr(
            "(sum(case when l_returnflag = 'R'"
            " then floor(l_extendedprice * 100) else 0 end) * 1000000)"
            " div sum(floor(l_extendedprice * 100))"
        ).alias("returned_value_ppm"),
    )


@query(
    "discount_quantity_spearman",
    # Price-response proxy: Spearman rank correlation between discount
    # and quantity per part brand (basis points) — the rank machinery
    # of the events-side Spearman applied to pricing. Long ranks +
    # int128 ratio per the scale-probe lesson.
    oracle="""
WITH ranked AS (
    SELECT p.p_brand, l.l_discount, l.l_quantity,
           ROW_NUMBER() OVER (PARTITION BY p.p_brand
                              ORDER BY l.l_discount) AS rx0,
           ROW_NUMBER() OVER (PARTITION BY p.p_brand
                              ORDER BY l.l_quantity) AS ry0,
           COUNT(*) OVER (PARTITION BY p.p_brand) AS n
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
), mid AS (
    SELECT p_brand, n,
           MIN(rx0) OVER (PARTITION BY p_brand, l_discount)
               + MAX(rx0) OVER (PARTITION BY p_brand, l_discount) AS rx2,
           MIN(ry0) OVER (PARTITION BY p_brand, l_quantity)
               + MAX(ry0) OVER (PARTITION BY p_brand, l_quantity) AS ry2
    FROM ranked
), agg AS (
    SELECT p_brand, MAX(n)::BIGINT AS n,
           SUM((rx2 - ry2) * (rx2 - ry2))::BIGINT AS d2x4_sum
    FROM mid GROUP BY p_brand
)
SELECT p_brand, n, d2x4_sum,
       (10000 - (15000::HUGEINT * d2x4_sum)
                    // (n::HUGEINT * (n::HUGEINT * n - 1)))::BIGINT
           AS rho_bp
FROM agg WHERE n >= 2
""",
)
def q_discount_quantity_spearman(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Does discounting move volume? Spearman rank correlation
    between discount and quantity per brand (basis points) — the
    whale-proof monotone-association test from the events tier
    applied to pricing, where Pearson on raw cents would square past
    int64 immediately. Positive rho = deeper discounts ship more
    units for that brand; near zero = the discounts are decoration.
    Rank windows share one brand-keyed exchange; the ratio runs
    int128-wide (probe lesson)."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    # part is SF-linear: no forced broadcast hint (size-based
    # planning; a hint would pin the 100 TB plan to a driver build)
    j = li.join(
        p.select("p_partkey", "p_brand"),
        li["l_partkey"] == p["p_partkey"],
    )
    # The fixture has duplicate (orderkey, linenumber) rows, so no
    # column set totally orders ties — MIDRANKS (the AUC trick: work
    # in doubled rank units, min+max row_number per tied value) make
    # the ranks deterministic regardless of row identity. d is a
    # difference of doubled midranks, so the classic ratio divides by
    # 4: rho = 1 - (6/4)·Σd²/(n(n²-1)).
    wx = Window.partitionBy("p_brand").orderBy("l_discount")
    wy = Window.partitionBy("p_brand").orderBy("l_quantity")
    wn = Window.partitionBy("p_brand")
    wtx = Window.partitionBy("p_brand", "l_discount")
    wty = Window.partitionBy("p_brand", "l_quantity")
    ranked = j.select(
        "p_brand",
        "l_discount",
        "l_quantity",
        F.row_number().over(wx).cast("long").alias("rx0"),
        F.row_number().over(wy).cast("long").alias("ry0"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mid = ranked.select(
        "p_brand",
        "n",
        (F.min("rx0").over(wtx) + F.max("rx0").over(wtx)).alias("rx2"),
        (F.min("ry0").over(wty) + F.max("ry0").over(wty)).alias("ry2"),
    )
    d = (F.col("rx2") - F.col("ry2")) * (F.col("rx2") - F.col("ry2"))
    return (
        mid.groupBy("p_brand")
        .agg(F.max("n").alias("n"), F.sum(d).alias("d2x4_sum"))
        .where(F.col("n") >= 2)
        .select(
            "p_brand",
            "n",
            "d2x4_sum",
            F.expr(
                "cast(10000 - (cast(15000 as decimal(38,0)) * d2x4_sum)"
                " div (cast(n as decimal(38,0)) * n * n"
                "      - cast(n as decimal(38,0))) as long)"
            ).alias("rho_bp"),
        )
    )


@query(
    "priority_anova_eta2",
    # One-way ANOVA of order value (whole dollars) across priority
    # classes, integer-exact: SSB/SSW via per-group (S_g² div n_g)
    # truncated identically in both engines, all squares int128-wide;
    # effect size eta² and the F statistic in ppm.
    oracle="""
WITH g AS (
    SELECT o_orderpriority,
           COUNT(*)::BIGINT AS ng,
           SUM(FLOOR(o_totalprice)::BIGINT)::BIGINT AS sg,
           SUM(FLOOR(o_totalprice)::BIGINT
               * FLOOR(o_totalprice)::BIGINT)::BIGINT AS qg
    FROM orders GROUP BY o_orderpriority
), t AS (
    SELECT COUNT(*)::BIGINT AS k,
           SUM(ng)::BIGINT AS n,
           SUM(sg)::HUGEINT AS s,
           SUM(qg)::HUGEINT AS q,
           SUM((sg::HUGEINT * sg) // ng)::HUGEINT AS a
    FROM g
)
SELECT k, n,
       (a - (s * s) // n)::BIGINT AS ssb_d2,
       (q - a)::BIGINT AS ssw_d2,
       (((a - (s * s) // n) * 1000000)
            // GREATEST(q - (s * s) // n, 1))::BIGINT AS eta2_ppm,
       (((a - (s * s) // n) * (n - k) * 1000000)
            // GREATEST((q - a) * (k - 1), 1))::BIGINT AS f_ppm
FROM t
""",
)
def q_priority_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: does order value actually differ across
    priority classes? Between-group and within-group sums of squares
    in whole dollars², the eta² effect size (share of variance the
    grouping explains, ppm) and the F statistic (ppm — divide by 1e6
    and compare to an F table) — all integer-exact: every square runs
    int128-wide (Spark decimal(38,0) ≡ DuckDB HUGEINT, the probe
    lesson) and the per-group S²/n terms truncate identically in
    both engines. An eta² near zero on TPC-H-ish data is itself the
    finding: priority does not price orders. One 5-row group rollup;
    the final row is arithmetic on it."""
    o = load_table(spark, sf_dir, "orders")
    x = F.floor("o_totalprice")
    # qg sums x² (~4e10/row): a long accumulator crosses int64 at
    # ~2e8 orders per priority class (≈ sf1500) — widen BEFORE the
    # multiply so the docstring's int128 claim holds for the raw
    # moments too, not just the downstream products. Beyond that the
    # binding range is the BIGINT raw-SS *output* contract (ssb/ssw
    # ≈ n·var crosses int64 near sf2500): both engines then throw at
    # the final cast — loud and identical, never silent.
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum(x.cast("decimal(38,0)") * x).alias("qg"),
        F.sum(x).alias("sg"),
    )
    t = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(
            F.expr("(cast(sg as decimal(38,0)) * sg) div ng")
        ).alias("a"),
    )
    return t.select(
        "k",
        "n",
        F.expr(
            "cast(a - (cast(s as decimal(38,0)) * s) div n as long)"
        ).alias("ssb_d2"),
        F.expr("cast(cast(q as decimal(38,0)) - a as long)").alias(
            "ssw_d2"
        ),
        F.expr(
            "cast((cast(a - (cast(s as decimal(38,0)) * s) div n"
            "           as decimal(38,0)) * 1000000)"
            " div greatest(cast(q as decimal(38,0))"
            "              - (cast(s as decimal(38,0)) * s) div n,"
            "              1) as long)"
        ).alias("eta2_ppm"),
        F.expr(
            # div yields LONG in Spark — re-widen before the (n−k)·1e6
            # multiply or it overflows int64 (caught at sf0.01).
            "cast((cast(a - (cast(s as decimal(38,0)) * s) div n"
            "           as decimal(38,0)) * (n - k) * 1000000)"
            " div greatest((cast(q as decimal(38,0)) - a) * (k - 1), 1)"
            " as long)"
        ).alias("f_ppm"),
    )


@query(
    "segment_priority_chi2",
    # Chi-square independence screen for (customer segment × order
    # priority), cross-multiplied integer form: each cell contributes
    # (O·N − rs·cs)² div (rs·cs·N) — a constant-N rescaling of the
    # classic (O−E)²/E that never materializes the fractional E.
    # int128-wide squares (probe lesson).
    oracle="""
WITH cells AS (
    SELECT c.c_mktsegment AS seg, o.o_orderpriority AS pri,
           COUNT(*)::BIGINT AS obs
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
), m AS (
    SELECT seg, pri, obs,
           SUM(obs) OVER (PARTITION BY seg) AS rs,
           SUM(obs) OVER (PARTITION BY pri) AS cs,
           SUM(obs) OVER () AS n
    FROM cells
)
SELECT COUNT(*)::BIGINT AS n_cells,
       MAX(n)::BIGINT AS n,
       SUM(((obs::HUGEINT * n - rs::HUGEINT * cs)
                * (obs::HUGEINT * n - rs::HUGEINT * cs))
               // (rs::HUGEINT * cs * n))::BIGINT AS chi2_scaled,
       ((COUNT(DISTINCT seg) - 1)
            * (COUNT(DISTINCT pri) - 1))::BIGINT AS dof
FROM m
""",
)
def q_segment_priority_chi2(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square independence screen: is order priority associated
    with customer segment? The classic Σ(O−E)²/E statistic computed
    WITHOUT ever materializing the fractional expectation — each
    cell's term is the N-rescaled cross-multiplied form
    (O·N − rs·cs)² / (rs·cs·N), truncating identically in both
    engines (chi2_scaled ≈ N·χ²/N = χ² up to per-cell truncation;
    compare to the χ²(dof) table). The categorical companion to
    `priority_anova_eta2`; near-zero on independent TPC-H-ish
    assignments is itself the check. One 25-cell contingency rollup;
    margins are windows over it; squares run int128-wide. Caveat
    (pinned by pytest): cells with ZERO observations never enter the
    rollup, so their (rs·cs/N)-sized terms are missing — the screen
    UNDER-states χ² when the table is sparse; dense-grid completion
    (cross-join the margins) is the exact-χ² upgrade."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    ws = Window.partitionBy("seg")
    wp = Window.partitionBy("pri")
    wall = Window.partitionBy()
    m = cells.select(
        "seg",
        "pri",
        "obs",
        F.sum("obs").over(ws).alias("rs"),
        F.sum("obs").over(wp).alias("cs"),
        F.sum("obs").over(wall).alias("n"),
    )
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").alias("n"),
        F.sum(
            F.expr(
                "(cast(obs as decimal(38,0)) * n - cast(rs as decimal(38,0)) * cs)"
                " * (cast(obs as decimal(38,0)) * n - cast(rs as decimal(38,0)) * cs)"
                " div (cast(rs as decimal(38,0)) * cs * n)"
            )
        ).cast("long").alias("chi2_scaled"),
        (
            (F.count_distinct("seg") - 1) * (F.count_distinct("pri") - 1)
        ).alias("dof"),
    )


# Benford first-digit expectations, ppm (log10(1 + 1/d) rounded).
_BENFORD_PPM = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910,
    5: 79181, 6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@query(
    "benford_first_digit_audit",
    # Benford's-law audit over order totals (whole dollars ≥ 1):
    # observed first-digit shares vs the log10(1+1/d) expectation in
    # ppm, with squared deviation per digit — the forensic-accounting
    # screen for fabricated or capped amounts.
    oracle=f"""
WITH d AS (
    SELECT CAST(substring(CAST(FLOOR(o_totalprice)::BIGINT AS VARCHAR),
                          1, 1) AS BIGINT) AS digit
    FROM orders WHERE o_totalprice >= 1
), counts AS (
    SELECT digit, COUNT(*)::BIGINT AS n FROM d GROUP BY digit
), e(digit, benford_ppm) AS (
    VALUES {", ".join(f"({d}, {p})" for d, p in sorted(_BENFORD_PPM.items()))}
)
SELECT e.digit, COALESCE(c.n, 0)::BIGINT AS n,
       ((COALESCE(c.n, 0) * 1000000)
            // (SELECT SUM(n) FROM counts))::BIGINT AS obs_ppm,
       e.benford_ppm::BIGINT AS benford_ppm,
       (((COALESCE(c.n, 0) * 1000000) // (SELECT SUM(n) FROM counts)
             - e.benford_ppm)
        * ((COALESCE(c.n, 0) * 1000000) // (SELECT SUM(n) FROM counts)
             - e.benford_ppm))::BIGINT AS sq_dev
FROM e LEFT JOIN counts c ON c.digit = e.digit
""",
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit on order totals — the forensic
    screen for fabricated, capped or threshold-gamed amounts (real
    multiplicative processes follow log10(1+1/d); synthetic uniform
    generators and just-under-approval-limit books don't). Observed
    shares in integer ppm against the hardcoded Benford constants,
    squared deviation per digit (the drift monitor's L2 convention —
    no float logs at query time). All nine digits always emit via
    the expectation spine, zeros included, so a MISSING digit — the
    loudest fraud tell — can't silently vanish from the report. One
    map-side digit count; everything else is a 9-row join."""
    o = load_table(spark, sf_dir, "orders")
    d = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("string"), 1, 1
        ).cast("long").alias("digit")
    )
    counts = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(F.sum("n").alias("t"))
    e = spark.createDataFrame(
        sorted(_BENFORD_PPM.items()), "digit long, benford_ppm long"
    )
    j = (
        e.join(counts, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce("n", F.lit(0)).alias("n"),
            F.expr("(coalesce(n, 0) * 1000000) div t").alias("obs_ppm"),
            "benford_ppm",
        )
    )
    dev = F.col("obs_ppm") - F.col("benford_ppm")
    return j.select("digit", "n", "obs_ppm", "benford_ppm",
                    (dev * dev).alias("sq_dev"))


@query(
    "mann_kendall_trend",
    # Mann-Kendall nonparametric trend test on daily purchase revenue:
    # S = Σ_{i<j} sign(x_j − x_i) over day pairs, with the 3σ
    # significance test fully cross-multiplied — S² > 9·var ⟺
    # 2·S² > n(n−1)(2n+5) — so no float variance or sqrt exists.
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           SUM(FLOOR(value * 100)::BIGINT)::BIGINT AS cents
    FROM events WHERE event_type = 'purchase' GROUP BY 1
), pairs AS (
    SELECT CASE WHEN b.cents > a.cents THEN 1
                WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sgn
    FROM daily a JOIN daily b ON a.d < b.d
)
SELECT (SELECT COUNT(*) FROM daily)::BIGINT AS n_days,
       SUM(sgn)::BIGINT AS s,
       CASE WHEN 2 * SUM(sgn) * SUM(sgn)
                 > (SELECT COUNT(*) FROM daily)
                   * ((SELECT COUNT(*) FROM daily) - 1)
                   * (2 * (SELECT COUNT(*) FROM daily) + 5)
            THEN 1 ELSE 0 END AS significant_3sigma
FROM pairs
""",
)
def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test — the nonparametric standard for 'is
    this series trending' (environmental monitoring's workhorse):
    S sums the signs of all day-pair differences, so one whale day
    contributes the same ±1s as a mild one (the rank family's
    robustness again), and the 3σ significance threshold collapses
    to the pure integer test 2S² > n(n−1)(2n+5). The pair join runs
    over the ~30-row DAY rollup (≤ 435 pairs) — the raw stream
    collapses first, the classic guard against quadratic blowup."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(F.floor(F.col("value") * 100)).alias("cents"))
    )
    a = daily.select(F.col("d").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("cents").alias("cb"))
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        F.when(F.col("cb") > F.col("ca"), 1)
        .when(F.col("cb") < F.col("ca"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    nd = daily.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        pairs.agg(F.sum("sgn").alias("s"))
        .crossJoin(F.broadcast(nd))
        .select(
            "n_days",
            "s",
            F.when(
                2 * F.col("s") * F.col("s")
                > F.col("n_days")
                * (F.col("n_days") - 1)
                * (2 * F.col("n_days") + 5),
                1,
            )
            .otherwise(0)
            .alias("significant_3sigma"),
        )
    )


@query(
    "skyline_parts_price_size",
    # 2-D skyline (Pareto frontier) of parts on (retail price low,
    # size high). The ORACLE states the quadratic NOT-EXISTS
    # definition; the Spark side computes it with the sort + running-
    # max rewrite (O(n log n), one window) — hash equality PROVES the
    # rewrite implements the definition. Points pre-aggregate to
    # distinct (price, size) so duplicates can't self-dominate.
    oracle="""
WITH pts AS (
    SELECT FLOOR(p_retailprice * 100)::BIGINT AS price_cents,
           p_size::BIGINT AS size,
           MIN(p_partkey)::BIGINT AS example_partkey,
           COUNT(*)::BIGINT AS n_parts
    FROM part GROUP BY 1, 2
)
SELECT price_cents, size, example_partkey, n_parts
FROM pts p
WHERE NOT EXISTS (
    SELECT 1 FROM pts q
    WHERE q.price_cents <= p.price_cents AND q.size >= p.size
      AND (q.price_cents < p.price_cents OR q.size > p.size)
)
""",
)
def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-frontier operator (Börzsönyi et al. 2001):
    parts no other part beats on BOTH price (lower better) and size
    (higher better) — the multi-criteria shortlist every 'cheapest
    but biggest' product query wants. The oracle states the O(n²)
    NOT-EXISTS definition; this side computes the frontier with the
    2-D skyline rewrite — sort by (price asc, size desc), keep a
    point iff its size strictly exceeds the running max BEFORE it —
    over the distinct-point rollup instead of a self-join, and the
    hash gate PROVES the rewrite equals the definition. The
    distinct-value grid still grows with the data (price is
    data-valued), so the strictly-preceding running max rides the
    distributed two-pass form (operators.ranks.global_running_max,
    r9 single-partition-window retirement); d>2 skylines escalate to
    grid-partitioned block-nested-loop — the 2-D sweep stays the
    pruning pass."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        global_running_max,
    )

    p = load_table(spark, sf_dir, "part")
    pts = p.groupBy(
        F.floor(F.col("p_retailprice") * 100).cast("long").alias(
            "price_cents"
        ),
        F.col("p_size").cast("long").alias("size"),
    ).agg(
        F.min("p_partkey").alias("example_partkey"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    flagged = global_running_max(
        pts,
        [F.col("price_cents"), F.col("size").desc()],
        "size",
        "prev_max_size",
    )
    return flagged.where(
        F.col("prev_max_size").isNull()
        | (F.col("size") > F.col("prev_max_size"))
    ).select("price_cents", "size", "example_partkey", "n_parts")


# Rolling-MAU sketch: per-day HLL registers max-merged over a trailing
# 28-day window — the sketch-powered alternative to the exact day-grid
# rolling distinct (dau_mau_stickiness), both gated so the trade is
# measurable. Register CTE mirrors _HLL_REGS_CTE with day keys.
_HLL_DAY_REGS_CTE = """
h AS (
    SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
           CAST(ts AS DATE) AS d,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS hv
    FROM events
),
dayregs AS (
    SELECT day, d, hv & 63 AS r_idx,
           MAX(CASE WHEN (hv >> 6) = 0 THEN 55
                    ELSE 55 - length(bin(hv >> 6)) END)::BIGINT AS r_rho
    FROM h GROUP BY 1, 2, 3
),
grid AS (SELECT DISTINCT d AS g, day AS gday FROM h),
merged AS (
    SELECT grid.gday AS day, dr.r_idx, MAX(dr.r_rho)::BIGINT AS r_rho
    FROM grid JOIN dayregs dr
      ON dr.d <= grid.g AND dr.d >= grid.g - 27
    GROUP BY grid.gday, dr.r_idx
)
"""


@query(
    "hll_rolling_mau",
    oracle=f"""
WITH {_HLL_DAY_REGS_CTE},
per AS (
    SELECT day, COUNT(*) AS n_set,
           CAST(SUM(1::BIGINT << (55 - r_rho)) AS BIGINT) AS s_present
    FROM merged GROUP BY 1
),
fin AS (
    SELECT day, CAST(64 - n_set AS BIGINT) AS v_empty,
           CAST(s_present + (64 - n_set) * (1::BIGINT << 55) AS BIGINT)
               AS s_scaled
    FROM per
),
est AS (
    SELECT day, v_empty, s_scaled,
           CAST(FLOOR(10000 * CASE
               WHEN (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968)
                        / s_scaled <= 160.0 AND v_empty > 0
               THEN 64 * ln(64 / CAST(v_empty AS DOUBLE))
               ELSE (CAST(0.709 AS DOUBLE) * 4096 * 36028797018963968)
                        / s_scaled
           END) AS BIGINT) AS hll_mau_e4
    FROM fin
),
ud AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
exact AS (
    SELECT strftime(g.d, '%Y-%m-%d') AS day,
           COUNT(DISTINCT u.user_id)::BIGINT AS mau_exact
    FROM (SELECT DISTINCT d FROM ud) g
    JOIN ud u ON u.d <= g.d AND u.d >= g.d - 27
    GROUP BY g.d
)
SELECT est.day, est.v_empty, est.s_scaled, est.hll_mau_e4, exact.mau_exact
FROM est JOIN exact USING (day)
""",
)
def q_hll_rolling_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-day MAU from MERGED per-day HLL sketches — the
    at-scale answer to rolling distinct counting, gated side by side
    with the exact day-grid form (`dau_mau_stickiness`) so the trade
    is measurable, not asserted: per-day register tables (≤64 rows
    per day, built once) max-merge across each trailing window —
    mergeability, the property the `hll_merge_groups` gate
    machine-checks, is what makes the rolling window FREE of raw-data
    re-scans: 28 days of history cost 28×64 register rows, not 28
    days of events. Estimates carry the exact-integer harmonic
    denominator and the linear-counting branch; the exact MAU rides
    along for the error column."""
    from web_analytics_visits_re_processing_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "d", F.to_date("ts")
    )
    dayregs = hll_registers(ev, "user_id", ("d",))
    grid = ev.select("d").distinct().select(F.col("d").alias("g"))
    merged = (
        dayregs.join(
            F.broadcast(grid),
            (F.col("d") <= F.col("g"))
            & (F.col("d") >= F.date_sub(F.col("g"), 27)),
        )
        .groupBy(F.col("g"), F.col("r_idx"))
        .agg(F.max("r_rho").alias("r_rho"))
        .select(
            F.date_format("g", "yyyy-MM-dd").alias("day"),
            "r_idx",
            "r_rho",
        )
    )
    est = hll_estimate(merged, ("day",)).withColumnRenamed(
        "hll_estimate_e4", "hll_mau_e4"
    )
    ud = ev.select("d", "user_id").distinct()
    exact = (
        ud.join(
            F.broadcast(grid),
            (F.col("d") <= F.col("g"))
            & (F.col("d") >= F.date_sub(F.col("g"), 27)),
        )
        .groupBy("g")
        .agg(F.count_distinct("user_id").alias("mau_exact"))
        .select(F.date_format("g", "yyyy-MM-dd").alias("day"), "mau_exact")
    )
    return est.join(exact, "day")


@query(
    "duplicate_order_flags",
    # Ops audit: potential double-charges — orders sharing (customer,
    # day, exact cent total). Groups of ≥2 with counts and the
    # affected value; the review queue a billing team works through.
    oracle="""
SELECT o_custkey,
       strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
       FLOOR(o_totalprice * 100)::BIGINT AS cents,
       COUNT(*)::BIGINT AS n_orders,
       MIN(o_orderkey)::BIGINT AS first_orderkey
FROM orders
GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
""",
)
def q_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge candidates: orders sharing (customer, day, exact
    cent amount) — the billing review queue, where a retry storm or
    a double-submitted checkout shows up as n_orders ≥ 2 on one key.
    One map-side groupBy with a HAVING; the exact-duplicate dedup
    family's semantics applied to transactions instead of documents
    (same fingerprint idea, different stakes)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            "o_custkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias(
                "day"
            ),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias(
                "cents"
            ),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("first_orderkey"),
        )
        .where(F.col("n_orders") >= 2)
    )


@query(
    "abc_classification_parts",
    # Merchandising ABC: parts ranked by revenue descending, class A
    # = items inside the first 80% of cumulative revenue, B to 95%,
    # C the tail — thresholds tested cross-multiplied (cum·100 vs
    # total·80/95), no float share exists.
    oracle="""
WITH rev AS (
    SELECT l_partkey,
           SUM(FLOOR(l_extendedprice * 100)::BIGINT)::BIGINT AS cents
    FROM lineitem GROUP BY l_partkey
), ranked AS (
    SELECT l_partkey, cents,
           SUM(cents) OVER (ORDER BY cents DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum,
           SUM(cents) OVER () AS total
    FROM rev
), classed AS (
    SELECT CASE WHEN cum * 100 <= total * 80 THEN 'A'
                WHEN cum * 100 <= total * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           cents
    FROM ranked
)
SELECT abc_class,
       COUNT(*)::BIGINT AS n_parts,
       SUM(cents)::BIGINT AS revenue_cents,
       ((SUM(cents) * 1000000)
            // SUM(SUM(cents)) OVER ())::BIGINT AS revenue_share_ppm
FROM classed GROUP BY abc_class
""",
)
def q_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification — the merchandising workhorse:
    parts sorted by revenue, class A = the head inside 80% of
    cumulative revenue (count-and-manage-tightly), B to 95%, C the
    long tail (automate or drop). Class sizes vs revenue shares ARE
    the Pareto statement with actionable names. Threshold tests
    cross-multiply (cum·100 ≤ total·80) so no float share exists;
    the per-part rollup collapses lineitems first and the cumulative
    walk over parts — a frame that GROWS with the data — rides the
    distributed two-pass running sum (operators.ranks, r9
    single-partition-window retirement); the grand total is a 1-row
    broadcast, never an all-rows window."""
    from web_analytics_visits_re_processing_spark.operators.ranks import (
        global_running_sum,
    )

    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("cents")
    )
    total = rev.agg(F.sum("cents").alias("total"))
    ranked = global_running_sum(
        rev, [F.col("cents").desc(), "l_partkey"], "cents", "cum"
    ).crossJoin(F.broadcast(total)).select("cents", "cum", "total")
    # decimal(38,0) widening before every multiply against the grand
    # total: cum/total are corpus-level cent sums, so cum·100 and
    # revenue_cents·1e6 blow past int64 once the corpus does (the
    # 10× probe caught the share term overflowing at ~2.3e14 cents
    # total; DuckDB's HUGEINT side never noticed). The thresholds
    # stay exact cross-multiplied integer tests — just wider.
    classed = ranked.select(
        F.when(
            F.col("cum").cast("decimal(38,0)") * 100
            <= F.col("total").cast("decimal(38,0)") * 80,
            "A",
        )
        .when(
            F.col("cum").cast("decimal(38,0)") * 100
            <= F.col("total").cast("decimal(38,0)") * 95,
            "B",
        )
        .otherwise("C")
        .alias("abc_class"),
        "cents",
    )
    per = classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("cents").alias("revenue_cents"),
    )
    return per.select(
        "abc_class",
        "n_parts",
        "revenue_cents",
        F.expr(
            "(cast(revenue_cents as decimal(38,0)) * 1000000)"
            " div sum(revenue_cents) over ()"
        ).cast("long").alias("revenue_share_ppm"),
    )


@query(
    "daily_vwap_shipments",
    # Volume-weighted average price per ship day: Σ(price·qty)/Σqty
    # in integer cents (prices to cents, quantities to whole units
    # BEFORE the product, one truncated division at the end).
    oracle="""
SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS day,
       SUM(FLOOR(l_quantity)::BIGINT)::BIGINT AS units,
       SUM(FLOOR(l_extendedprice * 100)::BIGINT
           * FLOOR(l_quantity)::BIGINT)::BIGINT AS value_units,
       (SUM(FLOOR(l_extendedprice * 100)::BIGINT
            * FLOOR(l_quantity)::BIGINT)
            // GREATEST(SUM(FLOOR(l_quantity)::BIGINT), 1))::BIGINT
           AS vwap_cents
FROM lineitem GROUP BY 1
""",
)
def q_daily_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average price of shipments — the VWAP
    that separates 'we shipped more' from 'we shipped cheaper': a
    flat simple-average price with a falling VWAP means the volume
    migrated into cheap SKUs. Everything quantizes BEFORE the
    product (cents × whole units, int64-safe to ~9e5 units·cents per
    line) with one truncated division per day; a single map-side
    groupBy."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100)
    units = F.floor("l_quantity")
    return li.groupBy(
        F.date_format(F.to_date("l_shipdate"), "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(units).alias("units"),
        F.sum(cents * units).alias("value_units"),
        F.expr(
            "sum(floor(l_extendedprice * 100) * floor(l_quantity))"
            " div greatest(sum(floor(l_quantity)), 1)"
        ).alias("vwap_cents"),
    )


@query(
    "order_value_reconciliation",
    # The warehouse reconciliation every star schema needs: does the
    # order header total equal the sum of its lines? Match/mismatch
    # counts, total drift cents and the worst offender — in cents,
    # exact, because 'approximately reconciles' is not a thing
    # auditors accept.
    oracle="""
WITH lines AS (
    SELECT l_orderkey,
           SUM(FLOOR(l_extendedprice * 100)::BIGINT)::BIGINT AS line_cents
    FROM lineitem GROUP BY l_orderkey
), j AS (
    SELECT o.o_orderkey,
           FLOOR(o.o_totalprice * 100)::BIGINT AS header_cents,
           COALESCE(l.line_cents, 0) AS line_cents
    FROM orders o LEFT JOIN lines l ON l.l_orderkey = o.o_orderkey
)
SELECT COUNT(*)::BIGINT AS n_orders,
       SUM(CASE WHEN header_cents = line_cents THEN 1 ELSE 0 END)::BIGINT
           AS n_matched,
       SUM(CASE WHEN header_cents <> line_cents THEN 1 ELSE 0 END)::BIGINT
           AS n_mismatched,
       SUM(ABS(header_cents - line_cents))::BIGINT AS total_drift_cents,
       MAX(ABS(header_cents - line_cents))::BIGINT AS worst_drift_cents
FROM j
""",
)
def q_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-lines reconciliation: does o_totalprice equal the sum
    of the order's line values — the fact-table consistency audit
    every warehouse runs nightly, in exact cents because
    'approximately reconciles' is not a category auditors accept.
    Reports matched/mismatched counts, total absolute drift and the
    worst offender (on this synthetic fixture the header is generated
    independently of the lines, so the drift columns are non-zero BY
    CONSTRUCTION — which is precisely what makes the audit's
    arithmetic verifiable at the gate). One order-keyed rollup + a
    LEFT join so line-less orders reconcile against zero.

    Since r12 both fact legs READ THE SESSION-STAGED BUCKETED LAYOUT
    (``plans/round10._ensure_bucketed`` — the same write-once tables
    the r10 layout gates and the referential audit consume): the
    per-order line rollup groups on the bucket key (no exchange for
    the fact-sized aggregation) and the header join runs as
    co-located SortMergeJoin with zero join-side exchange
    (plan-pinned). At 100 TB the fact shuffle + fact×fact join
    exchange IS this audit's cost — the layout removes both; the
    merge hint keeps fixture-scale Spark from broadcasting around
    the layout this query exists to exercise."""
    from web_analytics_visits_re_processing_spark.plans.round10 import (
        _ensure_bucketed,
    )
    from web_analytics_visits_re_processing_spark.sources.layout import (
        read_table,
    )

    li_tbl, ord_tbl = _ensure_bucketed(spark, sf_dir)
    li = read_table(spark, li_tbl)
    o = read_table(spark, ord_tbl)
    lines = li.groupBy(F.col("l_orderkey")).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100)).alias("line_cents")
    )
    j = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias(
            "header_cents"
        ),
    ).hint("merge").join(
        lines.withColumnRenamed("l_orderkey", "o_orderkey"),
        "o_orderkey",
        "left",
    ).select(
        "header_cents",
        F.coalesce("line_cents", F.lit(0)).alias("line_cents"),
    )
    drift = F.abs(F.col("header_cents") - F.col("line_cents"))
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            F.when(F.col("header_cents") == F.col("line_cents"), 1).otherwise(0)
        ).alias("n_matched"),
        F.sum(
            F.when(F.col("header_cents") != F.col("line_cents"), 1).otherwise(0)
        ).alias("n_mismatched"),
        F.sum(drift).alias("total_drift_cents"),
        F.max(drift).alias("worst_drift_cents"),
    )


@query(
    "xml_parse_roundtrip",
    # XML is parse-side only here: Spark serializes each order through
    # to_xml and parses it back with from_xml (Spark 4 native XML),
    # then aggregates the PARSED fields — a lossy parser would break
    # the hash against this oracle, which computes the same aggregate
    # straight off the table. n_parse_failures pins that from_xml
    # produced a non-null struct for every row.
    oracle="""
SELECT o_orderpriority,
       COUNT(*)::BIGINT AS n_orders,
       SUM(FLOOR(o_totalprice * 100)::BIGINT)::BIGINT AS total_cents,
       0::BIGINT AS n_parse_failures
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def q_xml_parse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingest path (Spark 4 built-in XML support): every order is
    serialized to an XML document string (``to_xml``) and parsed back
    (``from_xml``) — the round trip proves the parser preserves
    values exactly, because the gate aggregates the PARSED columns
    against an oracle computed straight off the table. This is the
    XML counterpart of the CSV/JSON/ORC reader round-trips in the
    file-format suite; money goes through the floor-cents convention
    AFTER parsing so the XML carries the raw doubles. Scale: both
    directions are per-row projections (no shuffle added); the
    aggregate is one map-side-combined rollup."""
    o = load_table(spark, sf_dir, "orders")
    xml = o.select(
        F.to_xml(
            F.struct("o_orderkey", "o_orderpriority", "o_totalprice")
        ).alias("x")
    )
    parsed = xml.select(
        F.from_xml(
            "x",
            "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE",
        ).alias("s")
    )
    return (
        parsed.groupBy(F.col("s.o_orderpriority").alias("o_orderpriority"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.floor(F.col("s.o_totalprice") * 100))
            .cast("long")
            .alias("total_cents"),
            F.sum(F.when(F.col("s").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_parse_failures"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "l_diversity_audit",
    # l-diversity (Machanavajjhala et al. 2007): the attack
    # k-anonymity misses — a class can hold 50 people and still leak
    # if they all share the sensitive value. Same (nation, segment)
    # quasi-identifier as k_anonymity_audit; sensitive attribute is
    # the account-balance band (pure comparisons on the stored
    # double, no float arithmetic — portable).
    oracle="""
WITH t AS (
    SELECT c_nationkey, c_mktsegment,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END AS band
    FROM customer
)
SELECT c_nationkey, c_mktsegment,
       COUNT(*)::BIGINT AS n,
       COUNT(DISTINCT band)::BIGINT AS l_distinct,
       CASE WHEN COUNT(DISTINCT band) < 2 THEN 1 ELSE 0 END
           AS at_risk_homogeneous,
       CASE WHEN COUNT(DISTINCT band) < 3 THEN 1 ELSE 0 END
           AS at_risk_low_diversity
FROM t GROUP BY 1, 2
""",
)
def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the sensitive-attribute sequel to
    k_anonymity_audit: per (nation, market-segment) equivalence
    class, how many DISTINCT sensitive values (account-balance band
    debt/mid/high) does it contain? A class of any size with l = 1
    discloses every member's band to anyone who knows the
    quasi-identifier (the homogeneity attack k-anonymity cannot
    see — its k<5 flag and this l<2 flag are independent failure
    modes, which is why release gates run both); l = 2 still yields
    a 50% inference, hence the secondary l<3 flag. Banding uses
    comparisons only on the stored double — no float arithmetic, so
    the gate is exact. One map-side-combined groupBy; remediation
    (suppress or generalize flagged classes) consumes this output
    exactly as for the k-audit."""
    c = load_table(spark, sf_dir, "customer")
    band = (
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
    )
    return (
        c.select("c_nationkey", "c_mktsegment", band.alias("band"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("band").alias("l_distinct"),
            F.when(F.count_distinct("band") < 2, 1)
            .otherwise(0)
            .alias("at_risk_homogeneous"),
            F.when(F.count_distinct("band") < 3, 1)
            .otherwise(0)
            .alias("at_risk_low_diversity"),
        )
    )
