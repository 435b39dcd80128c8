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

The rule lives in three places, one per input shape:

- **hits** — ``with_session_columns``, in one user-ordered pass: a
  ``lag`` window finds the boundaries, then one window operator holds
  the running sum that numbers the visits (``session_seq``) and a
  running max of the visit-start ``ts`` (``visit_start``), and the key
  is built from that start. Every registry query that groups by
  ``(user_id, session_seq)`` calls it too; Spark prunes the running
  max and the key such a query never reads, so it plans one exchange,
  one sort and two window operators. ``visit_end`` is an aggregate of
  the visit, taken in ``visits_from_hits``. The DuckDB oracles spell
  the same lag/running sum in SQL.
- **visits and streams** — Spark's ``session_window``, in
  ``sessionize_visits``: the form that also runs under ``readStream``
  + ``withWatermark`` (``streaming.sessionize_stream`` and the
  registry's abandoned-session stream), keyed with the same
  expression. Spark merges session windows in micros and joins an
  event landing exactly at a window's end, so its visits are the ones
  ``with_session_columns`` numbers; ``tests/test_sessionize.py`` pins
  both against a plain-Python gap walk.
- **visits merged with visits** — ``merge_incremental_visits``: the
  same lag and running sum over visit intervals, a visit's start
  against the previous visit's end.

Divergences from the reference, both deliberate (SURVEY §4.3):

- min/max computed on the numeric timestamp, not lexicographically on
  strings (``main.py:120-121``); identical results for fixed-width
  epoch-seconds strings, correct for everything else.
- Rows with null/unparseable timestamps never join a visit (the
  parser counts them; ``main.py:93`` would raise on non-numeric).
  ``sessionize_visits`` drops them; ``with_session_columns`` keeps them
  with null session columns so one frame can still feed the visitors
  sink, and ``visits_from_hits`` skips them.

Scale notes (100 TB): the only shuffle is on the user key, and one
task owns each user's window partition (or session-window group).
Web-scale user keys are power-law skewed (bots), and AQE's skew
handling splits skewed join partitions, not windows or aggregates
keyed by the user: a bot's hits are sorted and walked by one task.
On a 4-core host, warm, a ~480k-hit feed in which one bot held 400k
hits (85%) took 7.9-8.4 s against 4.3-4.9 s for the same volume spread
over 33k users, about 1.8× slower. In streaming, ``gap_seconds``
sessions and the watermark bound the state.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_GAP_SECONDS = 1800  # 30 min, the reference's main.py:207


def sessionize_visits(
    df: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    extra_aggs: list[Column] | None = None,
) -> DataFrame:
    """One row per (user, visit): the reference's ``visits`` output,
    ``visit_key, user_id, visit_start, visit_end, n_hits`` and then
    ``extra_aggs``.

    ``groupBy(user_id, session_window(ts, gap))`` over the non-null-``ts``
    rows: one hash shuffle on the user key, with partial aggregation.
    The same expression runs in batch and, over a ``withWatermark``
    input, in Structured Streaming. ``ts`` must be a timestamp.
    """
    aggs = [
        F.min("ts").alias("visit_start"),
        F.max("ts").alias("visit_end"),
        F.count(F.lit(1)).alias("n_hits"),
    ]
    if extra_aggs:
        aggs.extend(extra_aggs)
    out = (
        df.where(F.col("ts").isNotNull())
        .groupBy("user_id", F.session_window("ts", f"{int(gap_seconds)} seconds"))
        .agg(*aggs)
    )
    return out.select(
        _visit_key(out).alias("visit_key"),
        "user_id",
        "visit_start",
        "visit_end",
        "n_hits",
        *[c for c in out.columns if c not in ("user_id", "session_window", "visit_start", "visit_end", "n_hits")],
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


def _visit_key(df: DataFrame) -> Column:
    """``visit_key = user_id || '_' || visit_start`` over ``df``'s
    ``visit_start``, the start as ``_epoch_int`` gives it.

    The reference concatenates the raw epoch-seconds string
    (``main.py:122``), which the hit log's epoch seconds reproduce
    exactly; a timestamp start gives epoch *micros*, so sub-second data
    cannot collide, and the key stays DuckDB-reproducible
    (``user_id || '_' || epoch_us(visit_start)``).
    """
    start, _ = _epoch_int(df, "visit_start")
    return F.concat_ws("_", F.col("user_id").cast("string"), start)


def _opens_visit(df: DataFrame, start_col: str, end_col: str, w: Window, gap_seconds: int) -> Column:
    """The gap rule over ``w``'s order: true where the row's
    ``start_col`` is more than ``gap_seconds`` after the previous row's
    ``end_col`` (a hit is the interval ``[ts, ts]``), compared in
    ``_epoch_int``'s integers; null on a partition's first row."""
    start, second = _epoch_int(df, start_col)
    end, _ = _epoch_int(df, end_col)
    return start - F.lag(end).over(w) > F.lit(gap_seconds * second)


def _visit_seq(new_visit: Column, w: Window) -> Column:
    """The visit number, from 0: the running count of ``new_visit``
    rows over ``w``'s order."""
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(F.when(new_visit, 1).otherwise(0)).over(w_run)


def with_session_columns(
    df: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Stamp ``session_seq`` / ``visit_start`` / ``visit_key`` onto
    every hit (columns ``user_id`` and ``ts``, a timestamp or integral
    epoch seconds; the reference's R7+R10 without collect/explode) by
    the module's rule, ``order_cols`` breaking ``ts`` ties: ``session_seq``
    is the hit's visit number within its user, from 0.

    One user-ordered pass: a ``lag`` window finds the boundaries, then
    one window holds the running sum that numbers the visits and the
    running max of the visit-start ``ts`` (rows are in ``ts`` order, so
    the latest start seen is the row's own visit's). One ``user_id``
    exchange and one sort, no Python, which any later window or
    ``groupBy`` keyed by ``(user_id, session_seq)`` reuses; columns a
    caller never reads are pruned from the plan. Unlike the reference's
    collect-then-explode (``main.py:115-146``), no session must fit in
    one worker's memory. A null ``ts`` gives null session columns and
    does not shift the numbering. A visit's end is an aggregate, not a
    per-hit column: ``visits_from_hits`` takes it.
    """
    w_user = Window.partitionBy("user_id").orderBy("ts", *(order_cols or []))
    w_run = w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts, new = F.col("ts"), F.col("_new_visit")
    framed = (
        df.withColumn("_new_visit", _opens_visit(df, "ts", "ts", w_user, gap_seconds))
        .withColumns(
            {
                "session_seq": F.when(ts.isNotNull(), _visit_seq(new, w_user)),
                "visit_start": F.when(ts.isNotNull(), F.max(F.when(F.coalesce(new, F.lit(True)), ts)).over(w_run)),
            }
        )
        .drop("_new_visit")
    )
    return framed.withColumn("visit_key", F.when(ts.isNotNull(), _visit_key(framed)))


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


def merge_incremental_visits(
    prior: DataFrame,
    new: DataFrame,
    gap_seconds: int = DEFAULT_GAP_SECONDS,
) -> DataFrame:
    """Merge the visits of a NEW batch (all hits at or after a time
    cutoff) into the PRIOR visits (all hits before it), so the result
    equals the visits of one pass over the union, without re-reading
    the prior hits: the daily drop sessionized against yesterday's
    visits table.

    The module's rule over intervals: per user, ordered by
    ``visit_start``, a visit starts a new group when its start is more
    than ``gap_seconds`` after the previous visit's end; each group
    takes the earliest start, the latest end and the summed ``n_hits``,
    and is keyed from its start like any visit. With a time-aligned
    split the visits of each side are disjoint and ordered, so only a
    user's last prior and first new visit can join. One user-keyed
    window over the union, no join. Inputs are ``sessionize_visits`` or
    ``visits_from_hits`` outputs (``visit_key``, ``user_id``,
    ``visit_start``, ``visit_end``, ``n_hits``), with timestamps or
    integral epoch seconds.
    """
    visits = prior.unionByName(new)
    w_user = Window.partitionBy("user_id").orderBy("visit_start")
    grouped = (
        visits.withColumn("_new_visit", _opens_visit(visits, "visit_start", "visit_end", w_user, gap_seconds))
        .withColumn("_visit", _visit_seq(F.col("_new_visit"), w_user))
        .groupBy("user_id", "_visit")
        .agg(
            F.min("visit_start").alias("visit_start"),
            F.max("visit_end").alias("visit_end"),
            F.sum("n_hits").alias("n_hits"),
        )
    )
    return grouped.select(
        _visit_key(grouped).alias("visit_key"), "user_id", "visit_start", "visit_end", "n_hits"
    )
