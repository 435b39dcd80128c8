"""Hit-log TSV queries — the reference's core parse surface
(``/root/reference/main.py:44-81``) under the driver's CORRECTNESS gate.

The driver's oracle runs only over the pre-registered parquet views, so
these queries ROUND-TRIP the fixture: a deterministic 10-column TSV is
derived from the ``events`` table (same construction on both engines),
written to a scratch dir, and re-read through the real ingest path
(``sources.hitlog.read_hitlog``). The DuckDB oracle rebuilds the same
lines in SQL and parses them independently with
``string_split(line, chr(9))`` — so the thing being verified is the
PARSE (field extraction, event-flag membership, malformed-row policy),
not just the construction arithmetic.

Planted malformed rows (both engines construct, only the parse drops):

- ``event_id % 101 == 0`` → 8-column short row (the reference's
  committed test data is exactly this 8-column drift, SURVEY §1.2 —
  its bare ``except`` swallows the IndexError; we drop + count);
- ``event_id % 103 == 0`` → non-numeric timestamp (the reference's
  ``int(ts)`` at ``main.py:93`` would crash; we drop + count).

Event-code lists exercise every flag column (main.py:26-34): exact
membership — code '1' must not match '11'/'12' — plus the dead 'rfb'
mapping ('13' sets no output flag) and an empty events list.
"""

from __future__ import annotations

import datetime as dt
import gzip
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.operators.sessionize import (
    visits_from_hits,
    with_session_columns,
)
from web_analytics_visits_re_processing_spark.plans.registry import query
from web_analytics_visits_re_processing_spark.sources.hitlog import read_hitlog
from web_analytics_visits_re_processing_spark.sources.tables import load_table
from web_analytics_visits_re_processing_spark.streaming.replay import replay_workdir

# event_type → comma-separated event-code list. Covers: multi-code
# lists, the '1' vs '11'/'12' exact-membership trap, the dead 'rfb'
# code ('13'), and the empty list.
_EVENT_CODES_BY_TYPE = {
    "view": "2",
    "click": "12,14",
    "purchase": "1,11,204",
    "signup": "13",
    "error": "",
}


def _line_col() -> F.Column:
    """The TSV line for one events row — Spark construction.

    MUST mirror ``_fields_sql`` below and ``_python_fields`` exactly;
    the oracle depends on both engines building identical lines.
    """
    eid = F.col("event_id")
    uid = F.col("user_id")
    ts_field = (
        F.when(eid % 103 == 0, F.lit("notanumber"))
        .otherwise(F.expr("unix_micros(ts) div 1000000").cast("string"))
    )
    codes = F.lit(None).cast("string")
    codes_expr = None
    for etype, c in _EVENT_CODES_BY_TYPE.items():
        cond = F.col("event_type") == etype
        codes_expr = F.when(cond, c) if codes_expr is None else codes_expr.when(cond, c)
    codes = codes_expr.otherwise("")
    fields = [
        ts_field,
        uid.cast("string"),
        (uid % 3).cast("string"),
        F.col("event_type"),
        F.when(
            F.col("event_type") == "purchase",
            F.concat(
                F.lit("P"), eid.cast("string"), F.lit(";"),
                (eid % 7).cast("string"), F.lit(";x"),
            ),
        ).otherwise(""),
        codes,
        F.concat(F.lit("page_"), (eid % 50).cast("string")),
        F.concat(F.lit("srv"), (uid % 5).cast("string")),
        F.concat(F.lit("ibm_"), uid.cast("string")),
        F.concat(F.lit("scv_"), uid.cast("string")),
    ]
    return F.when(eid % 101 == 0, F.concat_ws("\t", *fields[:8])).otherwise(
        F.concat_ws("\t", *fields)
    )


_CODES_SQL = " ".join(
    f"WHEN '{etype}' THEN '{codes}'" for etype, codes in _EVENT_CODES_BY_TYPE.items()
)


def _tsv_cte(where: str = "", tracking_suffix: str = "") -> str:
    """DuckDB CTE: build the same lines, then parse them independently
    via ``string_split(line, chr(9))`` (the VERDICT-prescribed oracle).
    """
    suffix_sql = f" || '{tracking_suffix}'" if tracking_suffix else ""
    return f"""
WITH fields AS (
    SELECT event_id,
           CASE WHEN event_id % 103 = 0 THEN 'notanumber'
                ELSE CAST(epoch_us(ts) // 1000000 AS VARCHAR) END AS f0,
           CAST(user_id AS VARCHAR) AS f1,
           CAST(user_id % 3 AS VARCHAR) AS f2,
           event_type{suffix_sql} AS f3,
           CASE WHEN event_type = 'purchase'
                THEN 'P' || CAST(event_id AS VARCHAR) || ';' ||
                     CAST(event_id % 7 AS VARCHAR) || ';x'
                ELSE '' END AS f4,
           CASE event_type {_CODES_SQL} ELSE '' END AS f5,
           'page_' || CAST(event_id % 50 AS VARCHAR) AS f6,
           'srv' || CAST(user_id % 5 AS VARCHAR) AS f7,
           'ibm_' || CAST(user_id AS VARCHAR) AS f8,
           'scv_' || CAST(user_id AS VARCHAR) AS f9
    FROM events {where}
), lines AS (
    SELECT CASE WHEN event_id % 101 = 0
                THEN concat_ws(chr(9), f0, f1, f2, f3, f4, f5, f6, f7)
                ELSE concat_ws(chr(9), f0, f1, f2, f3, f4, f5, f6, f7, f8, f9)
           END AS line
    FROM fields
), c AS (
    SELECT string_split(line, chr(9)) AS p FROM lines
), parsed AS (
    SELECT try_cast(p[1] AS BIGINT) AS ts,
           p[2] || '_' || p[3] AS user_id,
           p[4] AS tracking_code,
           CASE WHEN contains(p[5], ';') THEN string_split(p[5], ';')[2]
                ELSE '' END AS line_number,
           CASE WHEN list_contains(string_split(p[6], ','), '2') THEN 1 ELSE 0 END AS pdp_view,
           CASE WHEN list_contains(string_split(p[6], ','), '1') THEN 1 ELSE 0 END AS "order",
           CASE WHEN list_contains(string_split(p[6], ','), '14') THEN 1 ELSE 0 END AS bag_view,
           CASE WHEN list_contains(string_split(p[6], ','), '12') THEN 1 ELSE 0 END AS atb,
           CASE WHEN list_contains(string_split(p[6], ','), '11') THEN 1 ELSE 0 END AS checkout,
           CASE WHEN list_contains(string_split(p[6], ','), '204') THEN 1 ELSE 0 END AS payment,
           p[7] AS page,
           p[8] AS server,
           p[9] AS ibm_id,
           p[10] AS scv_id
    FROM c
    WHERE len(p) >= 10 AND try_cast(p[1] AS BIGINT) IS NOT NULL
)
"""


# Bump when the line construction changes — stale cached fixtures
# would otherwise silently diverge from the oracle's rebuild.
_FIXTURE_VERSION = "2"


def _fixture_meta(sf_dir: str) -> str:
    src = f"{sf_dir}/events.parquet"
    try:
        stat = f"{os.path.getmtime(src)}:{os.path.getsize(src)}"
    except OSError:
        stat = "unknown"
    return f"{src}:{stat}:v{_FIXTURE_VERSION}"


def materialize_hitlog_tsv(spark: SparkSession, sf_dir: str) -> str:
    """Write the derived TSV fixture (one line per events row) and
    return its directory. Cached per (source mtime/size, construction
    version) so repeated runs measure the parse, not fixture
    regeneration."""
    out = replay_workdir("hitlog_tsv", sf_dir)
    marker = os.path.join(out, "_FIXTURE_META")
    meta = _fixture_meta(sf_dir)
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == meta:
                return out
    events = load_table(spark, sf_dir, "events")
    events.select(_line_col().alias("value")).write.mode("overwrite").text(out)
    with open(marker, "w") as f:
        f.write(meta)
    return out


@query("hitlog_parse_flags", oracle=_tsv_cte() + "SELECT * FROM parsed")
def q_hitlog_parse_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1+R2+R2a+R3: text scan → TSV parse → derived columns → event
    flags → malformed-row drop, against an independent SQL parse."""
    path = materialize_hitlog_tsv(spark, sf_dir)
    return read_hitlog(spark, path)


@query(
    "hitlog_sessionize",
    oracle=_tsv_cte()
    + """
, seq AS (
    SELECT user_id, ts,
           CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > 1800
                THEN 1 ELSE 0 END AS is_new
    FROM parsed
), sess AS (
    SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_seq
    FROM seq
)
SELECT user_id || '_' || CAST(MIN(ts) AS VARCHAR) AS visit_key,
       user_id,
       MIN(ts) AS visit_start,
       MAX(ts) AS visit_end,
       COUNT(*) AS n_hits
FROM sess
GROUP BY user_id, session_seq
""",
)
def q_hitlog_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end reference pipeline on the TSV path: parse →
    30-min-gap sessionize → visits, with the reference's exact
    ``user_id_<epoch-seconds>`` visit keys (``main.py:122``)."""
    path = materialize_hitlog_tsv(spark, sf_dir)
    hits = read_hitlog(spark, path)
    stamped = with_session_columns(hits, user_col="user_id", ts_col="ts", gap_seconds=1800)
    return visits_from_hits(stamped).select(
        "visit_key", "user_id", "visit_start", "visit_end", "n_hits"
    )


# --- ISO-8859-1 + gzip ingest (R15, /root/reference/encoding_update.py) ------

_LATIN1_LIMIT = 100
_LATIN1_SUFFIX = "é®"  # Latin-1-encodable non-ASCII


def _python_fields(event_id: int, user_id: int, event_type: str, ts: dt.datetime) -> list[str]:
    """Python mirror of ``_line_col`` for the Latin-1 fixture writer
    (plain-file gzip bytes can't be produced by Spark's UTF-8 writer).
    Exact integer epoch math — no float rounding."""
    epoch_us = (ts - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts_field = "notanumber" if event_id % 103 == 0 else str(epoch_us // 1_000_000)
    products = (
        f"P{event_id};{event_id % 7};x" if event_type == "purchase" else ""
    )
    return [
        ts_field,
        str(user_id),
        str(user_id % 3),
        event_type + _LATIN1_SUFFIX,
        products,
        _EVENT_CODES_BY_TYPE.get(event_type, ""),
        f"page_{event_id % 50}",
        f"srv{user_id % 5}",
        f"ibm_{user_id}",
        f"scv_{user_id}",
    ]


def write_latin1_gzip_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Gzipped ISO-8859-1 TSV from the first ``_LATIN1_LIMIT`` events
    rows (fixture generator — the tiny driver-side collect is the
    fixture writer, not the engine path under test)."""
    out_dir = replay_workdir("hitlog_latin1", sf_dir)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "hits.tsv.gz")
    rows = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") < _LATIN1_LIMIT)
        .select("event_id", "user_id", "event_type", "ts")
        .orderBy("event_id")
        .collect()
    )
    with gzip.open(path, "wb") as f:
        for r in rows:
            fields = _python_fields(r.event_id, r.user_id, r.event_type, r.ts)
            line = "\t".join(fields[:8] if r.event_id % 101 == 0 else fields)
            f.write(line.encode("iso-8859-1") + b"\n")
    return path


@query(
    "hitlog_latin1_gzip_parse",
    oracle=_tsv_cte(
        where=f"WHERE event_id < {_LATIN1_LIMIT}", tracking_suffix=_LATIN1_SUFFIX
    )
    + "SELECT * FROM parsed",
)
def q_hitlog_latin1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R15: gzip + ISO-8859-1 ingest (the reference's
    ``encoding_update.py`` transcoding pass, dissolved into a reader
    option) — non-ASCII bytes must round-trip through the charset
    decode into identical UTF-8 strings."""
    path = write_latin1_gzip_fixture(spark, sf_dir)
    return read_hitlog(spark, path, encoding="ISO-8859-1")
