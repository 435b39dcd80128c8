"""Event-time sessionization ("visits"), the reference's core computation.

The reference (``main.py:207-234``) keys hits by ``user_id``, windows
them into 30-minute-gap sessions (``window.Sessions(1800)``,
``main.py:217``), groups them and gives each group ``visit_start =
min(ts)``, ``visit_end = max(ts)`` and ``visit_key = user_id + '_' +
visit_start`` (``main.py:113-146``), stamping the key on every hit.

**The rule.** Within one user, ordered by ``ts`` (then by any tie-break
columns), a hit starts a new visit when its gap to the previous hit is
strictly greater than ``gap_seconds``; a hit exactly at the gap stays
in the open visit. The gap is compared in integers: epoch micros for
timestamps, the raw value for integral epoch seconds. A null ``ts``
belongs to no visit.

``with_session_columns`` is the only code that applies this rule,
numbers the visits and builds the key, in one user-ordered pass: a
``lag`` window finds the boundaries, then one window operator holds the
running sum that numbers the visits (``session_seq``) and a running max
of the visit-start ``ts`` (``visit_start``), and the key is built from
that start. Every registry query that groups by ``(user_id,
session_seq)`` calls it too; Spark prunes the running max and the key
such a query never reads, so it plans one exchange, one sort and two
window operators. ``visit_end`` is an aggregate of the visit, taken in
``visits_from_hits``. The DuckDB oracles spell the same lag/running sum
in SQL.

``sessionize_visits`` aggregates the same visits with Spark's
``session_window``, the form that also runs under ``readStream`` +
``withWatermark`` (``streaming.sessionize_stream``), and keys them with
the same expression. Spark merges session windows in micros and joins
an event landing exactly at a window's end, so its visits are the ones
``with_session_columns`` numbers; ``tests/test_sessionize.py`` pins
both against a plain-Python gap walk.

Divergences from the reference, both deliberate (SURVEY §4.3):

- min/max computed on the numeric timestamp, not lexicographically on
  strings (``main.py:120-121``); identical results for fixed-width
  epoch-seconds strings, correct for everything else.
- Rows with null/unparseable timestamps never join a visit (the
  parser counts them; ``main.py:93`` would raise on non-numeric).
  ``sessionize_visits`` drops them; ``with_session_columns`` keeps them
  with null session columns so one frame can still feed the visitors
  sink, and ``visits_from_hits`` skips them.

Scale notes (100 TB): the only shuffle is on the user key. Web-scale
user keys are power-law skewed (bots); AQE skew-join/agg splitting is
on by default in our session, and ``gap_seconds`` sessions bound state
in streaming. For a pathological single hot key, pre-split with
``salt_sessions`` (see its doc) before aggregating.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_GAP_SECONDS = 1800  # 30 min, the reference's main.py:207


def sessionize_visits(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """One row per (user, visit): the reference's ``visits`` output,
    ``visit_key, user, visit_start, visit_end, n_hits`` and then
    ``extra_aggs``.

    ``groupBy(user, session_window(ts, gap))`` over the non-null-``ts``
    rows: one hash shuffle on the user key, with partial aggregation.
    The same expression runs in batch and, over a ``withWatermark``
    input, in Structured Streaming. ``ts`` must be a timestamp.
    """
    aggs = [
        F.min(ts_col).alias("visit_start"),
        F.max(ts_col).alias("visit_end"),
        F.count(F.lit(1)).alias("n_hits"),
    ]
    if extra_aggs:
        aggs.extend(extra_aggs)
    out = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), f"{int(gap_seconds)} seconds"))
        .agg(*aggs)
    )
    return out.select(
        _visit_key(out, user_col).alias("visit_key"),
        F.col(user_col),
        "visit_start",
        "visit_end",
        "n_hits",
        *[c for c in out.columns if c not in (user_col, "session_window", "visit_start", "visit_end", "n_hits")],
    )


def _epoch_int(df: DataFrame, col: str) -> tuple[Column, int]:
    """Column ``col`` as the integer visits are compared and keyed in
    (epoch micros for a timestamp, integral epoch seconds as they are),
    and one second in that unit."""
    dtype = df.schema[col].dataType
    if isinstance(dtype, T.TimestampType):
        return F.unix_micros(F.col(col)), 1_000_000
    if isinstance(dtype, T.IntegralType):
        return F.col(col), 1
    raise TypeError(
        f"{col} must be a timestamp or integral epoch seconds, not {dtype.simpleString()}"
    )


def _visit_key(df: DataFrame, user_col: str) -> Column:
    """``visit_key = user || '_' || visit_start`` over ``df``'s
    ``visit_start``, the start as ``_epoch_int`` gives it.

    The reference concatenates the raw epoch-seconds string
    (``main.py:122``), which the hit log's epoch seconds reproduce
    exactly; a timestamp start gives epoch *micros*, so sub-second data
    cannot collide, and the key stays DuckDB-reproducible
    (``user_id || '_' || epoch_us(visit_start)``).
    """
    start, _ = _epoch_int(df, "visit_start")
    return F.concat_ws("_", F.col(user_col).cast("string"), start)


def with_session_columns(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Stamp ``session_seq`` / ``visit_start`` / ``visit_key`` onto
    every hit (the reference's R7+R10 without collect/explode) by the
    module's rule, ``order_cols`` breaking ``ts`` ties: ``session_seq``
    is the hit's visit number within its user, from 0.

    One user-ordered pass: a ``lag`` window finds the boundaries, then
    one window holds the running sum that numbers the visits and the
    running max of the visit-start ``ts`` (rows are in ``ts`` order, so
    the latest start seen is the row's own visit's). One ``user_col``
    exchange and one sort, no Python, which any later window or
    ``groupBy`` keyed by ``(user_col, session_seq)`` reuses; columns a
    caller never reads are pruned from the plan. Unlike the reference's
    collect-then-explode (``main.py:115-146``), no session must fit in
    one worker's memory. A null ``ts`` gives null session columns and
    does not shift the numbering. A visit's end is an aggregate, not a
    per-hit column: ``visits_from_hits`` takes it.
    """
    t, second = _epoch_int(df, ts_col)
    w_user = Window.partitionBy(user_col).orderBy(ts_col, *(order_cols or []))
    w_run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts, new = F.col(ts_col), F.col("_new_visit")
    framed = (
        df.withColumn("_new_visit", t - F.lag(t).over(w_user) > F.lit(gap_seconds * second))
        .withColumns(
            {
                "session_seq": F.when(ts.isNotNull(), F.sum(F.when(new, 1).otherwise(0)).over(w_run)),
                "visit_start": F.when(ts.isNotNull(), F.max(F.when(F.coalesce(new, F.lit(True)), ts)).over(w_run)),
            }
        )
        .drop("_new_visit")
    )
    return framed.withColumn("visit_key", F.when(ts.isNotNull(), _visit_key(framed, user_col)))


def visits_from_hits(hits_with_keys: DataFrame) -> DataFrame:
    """Reduce a ``with_session_columns`` result (columns ``user_id``
    and ``ts``) to one row per visit: ``visit_key, user_id,
    visit_start, visit_end, n_hits``, with ``visit_start = min(ts)``
    and ``visit_end = max(ts)`` (``main.py:120-121``).

    Grouping on ``(visit_key, user_id)`` reuses the user-key exchange
    the window functions already created (hash on ``user_id`` clusters
    every finer key), so the whole visits+hits fan-out costs one
    shuffle — persist the ``with_session_columns`` result when writing
    both. Null-``visit_key`` rows (null ``ts``) belong to no visit and
    are dropped here.
    """
    return (
        hits_with_keys.where(F.col("visit_key").isNotNull())
        .groupBy("visit_key", "user_id")
        .agg(
            F.min("ts").alias("visit_start"),
            F.max("ts").alias("visit_end"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )


def salt_sessions(df: DataFrame, user_col: str, ts_col: str = "ts") -> DataFrame:
    """Optional skew guard: append a coarse time-bucket (UTC day) to
    the grouping key before sessionizing a pathologically hot user
    (e.g. a bot with 10^8 hits). Sessions never span a day boundary
    for such keys — an explicit, documented approximation for the skew
    escape hatch.

    Works on both timestamp columns (the events fixture) and raw
    epoch-seconds longs (the hit-log path, where a direct
    ``to_date(bigint)`` would fail analysis).
    """
    ts = F.col(ts_col)
    if not isinstance(df.schema[ts_col].dataType, T.TimestampType):
        ts = F.timestamp_seconds(ts)
    return df.withColumn(
        "_salted_user",
        F.concat_ws("#", F.col(user_col).cast("string"), F.to_date(ts).cast("string")),
    )


def merge_incremental_visits(
    prior: DataFrame,
    new: DataFrame,
    user_col: str = "user_id",
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Incremental sessionization: merge a NEW batch's visits
    (all events ≥ some time cutoff) into the PRIOR visits table
    (all events < the cutoff) so the result equals full-batch
    sessionization over the union — without re-reading history.

    This is the batch half of the Lambda bridge: at 100 TB you
    sessionize each daily drop against yesterday's visits table
    instead of re-scanning the whole corpus. Correctness rests on
    session locality: with a TIME-ALIGNED split, the only possible
    cross-boundary interaction is the last prior session vs the
    first new session of each user — interior sessions cannot change.
    So the merge is: mark per-user extremes with two row_number
    windows, join ONE row per user, glue when the boundary gap is
    ≤ gap (Spark's merge-at-exactly-gap rule — strict > splits),
    and pass everything else through untouched. All windows and the
    join are user-keyed: one exchange per input, no event-level
    work. The equivalence gate (oracle = full-batch SQL over ALL
    events) is the strongest available: any drift from the batch
    semantics hash-mismatches.

    Inputs are ``sessionize_visits`` outputs (visit_key, user,
    visit_start, visit_end, n_hits). The merged row recomputes its
    visit_key from the PRIOR start, exactly as full batch would.
    """
    u = F.col(user_col)
    gap_us = gap_seconds * 1_000_000
    w_last = Window.partitionBy(user_col).orderBy(F.col("visit_end").desc())
    w_first = Window.partitionBy(user_col).orderBy("visit_start")
    p = prior.withColumn("_rn", F.row_number().over(w_last))
    n = new.withColumn("_rn", F.row_number().over(w_first))
    prior_rest = p.where(F.col("_rn") > 1).drop("_rn")
    new_rest = n.where(F.col("_rn") > 1).drop("_rn")
    lasts = p.where(F.col("_rn") == 1).drop("_rn")
    firsts = n.where(F.col("_rn") == 1).drop("_rn")
    j = firsts.alias("f").join(
        lasts.alias("l").select(
            u.alias("_pu"),
            F.col("visit_key").alias("_pkey"),
            F.col("visit_start").alias("_pstart"),
            F.col("visit_end").alias("_pend"),
            F.col("n_hits").alias("_pn"),
        ),
        on=u == F.col("_pu"),
        how="full_outer",
    )
    merges = F.col("_pu").isNotNull() & u.isNotNull() & (
        F.unix_micros(F.col("f.visit_start")) - F.unix_micros(F.col("_pend"))
        <= gap_us
    )
    glued = j.select(
        F.coalesce(u, F.col("_pu")).alias(user_col),
        F.when(merges, F.col("_pkey"))
        .otherwise(F.coalesce(F.col("f.visit_key"), F.col("_pkey")))
        .alias("visit_key"),
        F.when(merges, F.col("_pstart"))
        .otherwise(F.coalesce(F.col("f.visit_start"), F.col("_pstart")))
        .alias("visit_start"),
        F.coalesce(F.col("f.visit_end"), F.col("_pend")).alias("visit_end"),
        F.when(merges, F.col("f.n_hits") + F.col("_pn"))
        .otherwise(F.coalesce(F.col("f.n_hits"), F.col("_pn")))
        .alias("n_hits"),
        # un-merged prior last must ALSO survive when the user has new
        # visits: emit it as a second struct and inline-explode.
        F.when(
            ~merges & F.col("_pu").isNotNull() & u.isNotNull(),
            F.struct(
                F.col("_pkey").alias("visit_key"),
                F.col("_pstart").alias("visit_start"),
                F.col("_pend").alias("visit_end"),
                F.col("_pn").alias("n_hits"),
            ),
        ).alias("_carry"),
    )
    carried = glued.where(F.col("_carry").isNotNull()).select(
        user_col,
        F.col("_carry.visit_key").alias("visit_key"),
        F.col("_carry.visit_start").alias("visit_start"),
        F.col("_carry.visit_end").alias("visit_end"),
        F.col("_carry.n_hits").alias("n_hits"),
    )
    cols = [user_col, "visit_key", "visit_start", "visit_end", "n_hits"]
    return (
        glued.select(*cols)
        .unionAll(carried.select(*cols))
        .unionAll(prior_rest.select(*cols))
        .unionAll(new_rest.select(*cols))
    )
