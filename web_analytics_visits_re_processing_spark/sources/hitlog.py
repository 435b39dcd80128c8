"""Hit-log TSV source: scan + parse + derive + malformed-row policy.

Re-expresses the reference's ``extract_data`` DoFn
(``/root/reference/main.py:44-81``) as native Column expressions —
the per-row Python dict parse becomes ``split``/``element_at``/
``concat_ws``/``array_contains`` inside whole-stage codegen, so
Catalyst can prune and push down, and nothing crosses into Python.

Canonical input: 10-column tab-separated lines (FIXTURES.md §A):
``ts, visitor_id_hi, visitor_id_lo, tracking_code, products_string,
events, page, site_server, ibm_id, scv_id``.

Malformed-row policy (SURVEY §2.1 R3/R4): the reference's bare
``except`` silently discards any row whose parse raises — short rows
(IndexError at ``columns[8]``), a non-empty ``products_string``
without ``';'`` (IndexError at ``main.py:57``) — and its ``int(ts)``
at ``main.py:93`` would *crash* on a non-numeric timestamp. We apply
one uniform drop-don't-crash policy and COUNT the drops via
``df.observe`` (the Stackdriver-counter TODO at ``main.py:80``,
realized with Spark's observation metrics).

We split lines ourselves (``F.split(value, '\\t')``) instead of the
CSV reader: the hit feed is quote-free TSV, and ``split`` mirrors the
reference's ``element.split('\\t')`` exactly — no quote/escape/null
inference surprises, empty fields stay empty strings, short rows
become short arrays we can test with ``size()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from web_analytics_visits_re_processing_spark.functions.events import all_event_flags

N_COLUMNS = 10

PARSE_OBSERVATION = "hitlog_parse"


def read_hitlog_lines(
    spark: SparkSession, path: str, encoding: str = "UTF-8"
) -> DataFrame:
    """Raw lines (column ``value``). Glob patterns work natively.

    One text reader for every charset: it splits on ``\\n``, ``\\r\\n``
    or ``\\r`` and keeps each line's bytes untouched (a blank line is an
    empty row). UTF-8 input keeps ``value`` as read. Any other
    ``encoding`` (the upstream feed is ISO-8859-1, the reference's
    ``encoding_update.py``) is decoded in the projection, so the
    reference's separate gzip-transcode pass becomes one expression.
    ISO-8859-1 maps every byte to a character. For the other charsets
    ``decode`` accepts (e.g. US-ASCII), an undecodable byte fails the
    job with ``MALFORMED_CHARACTER_CODING`` under ANSI mode. Gzip input
    is transparent (Hadoop codec by extension).
    """
    lines = spark.read.text(path)
    if encoding.upper().replace("-", "") == "UTF8":
        # The reader's string is already UTF-8; decode() would raise on
        # invalid UTF-8 under ANSI.
        return lines
    # The text reader never validates UTF-8, so the binary cast returns
    # the line's original bytes.
    return lines.select(F.decode(F.col("value").cast("binary"), encoding).alias("value"))


def parse_hitlog(
    lines: DataFrame,
    strict_reference_mode: bool = False,
    observation: Observation | None = None,
    drop_bad_ts: bool = True,
) -> DataFrame:
    """Lines → typed hits DataFrame; malformed rows dropped + counted.

    Output columns: ``ts`` (long, epoch seconds), ``user_id``,
    ``tracking_code``, ``line_number``, ``page``, ``server``,
    ``ibm_id``, ``scv_id``, six int flags (``pdp_view, order,
    bag_view, atb, checkout, payment``).

    ``strict_reference_mode`` also drops rows the reference would
    (non-empty ``products_string`` without ``';'``); default keeps
    them with ``line_number=''`` — the sane policy (SURVEY §4.3).

    ``drop_bad_ts=False`` keeps rows whose timestamp doesn't parse
    (``ts`` NULL): the reference emits VISITOR rows before its
    timestamp stage (``main.py:214`` vs ``:216``), so a row with an
    empty ts still yields a visitor — only the sessionization path
    filters it. Counters still report ``bad_timestamp_rows``.
    """
    cols = F.split(F.col("value"), "\t")
    parsed = lines.select(
        cols.alias("c"),
        F.size(cols).alias("n"),
    ).select(
        F.try_element_at("c", F.lit(1)).alias("ts_raw"),
        F.concat_ws("_", F.try_element_at("c", F.lit(2)), F.try_element_at("c", F.lit(3))).alias("user_id"),
        F.try_element_at("c", F.lit(4)).alias("tracking_code"),
        F.try_element_at("c", F.lit(5)).alias("products_string"),
        F.split(F.try_element_at("c", F.lit(6)), ",").alias("events_list"),
        F.try_element_at("c", F.lit(7)).alias("page"),
        F.try_element_at("c", F.lit(8)).alias("server"),
        F.try_element_at("c", F.lit(9)).alias("ibm_id"),
        F.try_element_at("c", F.lit(10)).alias("scv_id"),
        "n",
    )

    products_has_sep = F.col("products_string").contains(";")
    short_row = F.col("n") < N_COLUMNS
    bad_ts = F.col("ts_raw").try_cast("long").isNull()
    bad_products = (F.col("products_string") != "") & ~products_has_sep
    malformed = (
        short_row
        | (bad_ts if drop_bad_ts else F.lit(False))
        | (bad_products if strict_reference_mode else F.lit(False))
    )

    # With an Observation the caller reads counters after the first
    # action (batch); the string-named variant streams metrics to
    # QueryExecutionListener / StreamingQueryListener instead.
    counted = parsed.observe(
        observation if observation is not None else PARSE_OBSERVATION,
        F.count(F.lit(1)).alias("rows_in"),
        F.sum(short_row.cast("long")).alias("short_rows"),
        F.sum((~short_row & bad_ts).cast("long")).alias("bad_timestamp_rows"),
        F.sum(malformed.cast("long")).alias("dropped_rows"),
    )

    line_number = F.when(
        products_has_sep, F.try_element_at(F.split("products_string", ";"), F.lit(2))
    ).otherwise(F.lit(""))

    return counted.where(~malformed).select(
        F.col("ts_raw").try_cast("long").alias("ts"),
        "user_id",
        "tracking_code",
        line_number.alias("line_number"),
        *all_event_flags(F.col("events_list")),
        "page",
        "server",
        "ibm_id",
        "scv_id",
    )


def read_hitlog(
    spark: SparkSession,
    path: str,
    encoding: str = "UTF-8",
    strict_reference_mode: bool = False,
    observation: Observation | None = None,
    drop_bad_ts: bool = True,
) -> DataFrame:
    return parse_hitlog(
        read_hitlog_lines(spark, path, encoding),
        strict_reference_mode,
        observation,
        drop_bad_ts,
    )
