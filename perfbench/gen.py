"""Seeded input generators and the independent ground truth.

Everything here is numpy/pyarrow only: the truth must not share code
with the Spark package it checks.

Hit log (FIXTURES.md §A, 10 tab-separated columns, ISO-8859-1, gzip):
users with Zipf-distributed visit counts, a few bot users with
thousands of hits, planted visits whose within-visit gaps are at most
900 s (so one dropped row never splits a visit) and whose between-visit
gaps exceed 1800 s, 1% short rows, 0.5% non-numeric timestamps,
Latin-1 page names and the ``'1'``-vs-``'11'`` event-code trap.

Events (FIXTURES.md §B ``events`` schema): the table the analytics
queries read, and the files the stream consumes.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GAP_S = 1800
DAY_S = 86_400
HITLOG_T0 = 1517443200  # 2018-02-01 00:00:00 UTC, the reference feed's era
EVENTS_T0 = 1704067200  # 2024-01-01 00:00:00 UTC, the events fixture's era

# Only "1" and "1,2,204" carry the order code '1'; the others carry
# '11'/'12'/'13'/'14' and must not set the order flag.
EVENT_LISTS = np.array(
    ["1", "2", "11,12", "1,2,204", "12,13,14", "11", "", "2,100,110", "204,14", "102,106"]
)
ORDER_LISTS = EVENT_LISTS[[0, 3]]
PAGES = np.array(
    [
        "M:Home:Home Page",
        "M:T-Cat:Beauty",
        "M:Café:Crème brûlée",
        "M:PSP:Beauty > Paco Rabanne",
        "M:Search Results:Search",
        "M:Über:Größen",
    ]
)
LATIN1_PAGE = "M:Café:Crème brûlée"
PRODUCTS = np.array(["", "prod;LINE-42;x", "sku;L7", "no-separator"])
TRACKING = np.array(["", "cmp-101", "aff-7"])
SERVERS = np.array(["m.debenhams.com", "www.debenhams.com"])
EVENT_TYPES = np.array(["view", "click", "signup", "purchase", "error"])
EVENT_TYPE_P = [0.45, 0.3, 0.08, 0.07, 0.1]


def sessionize_truth(user, ts, gap: int = GAP_S, values=None):
    """Reference sessionizer: a new visit starts when the user changes or
    the gap to the user's previous hit STRICTLY exceeds ``gap`` (a hit
    at exactly ``prev + gap`` merges, as Spark's session windows do).

    ``user`` holds integer user codes and ``ts`` integer times in the
    unit of ``gap``. Returns per-visit arrays ``(user, start, end,
    n_hits)`` ordered by (user, start), plus the per-visit sums of
    ``values`` when given.
    """
    user = np.asarray(user)
    ts = np.asarray(ts, dtype=np.int64)
    if len(ts) == 0:
        empty = np.zeros(0, dtype=np.int64)
        return (empty,) * (4 if values is None else 5)
    order = np.lexsort((ts, user))
    u, t = user[order], ts[order]
    new = np.ones(len(t), dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > gap)
    first = np.flatnonzero(new)
    last = np.append(first[1:], len(t)) - 1
    out = (u[first], t[first], t[last], last - first + 1)
    if values is None:
        return out
    return out + (np.add.reduceat(np.asarray(values)[order], first),)


def _visits(rng: np.random.Generator, n_users: int, n_bots: int, bot_hits: int):
    """Per-visit (user, n_hits): Zipf visit counts for ordinary users,
    1000-hit sessions for the bot users (ids after the ordinary ones)."""
    per_user = np.minimum(rng.zipf(2.0, n_users), 40)
    v_user = np.repeat(np.arange(n_users), per_user)
    v_hits = np.minimum(rng.geometric(0.2, len(v_user)), 60)
    per_bot = max(1, bot_hits // 1000)
    v_user = np.concatenate([v_user, np.repeat(np.arange(n_users, n_users + n_bots), per_bot)])
    v_hits = np.concatenate([v_hits, np.full(n_bots * per_bot, 1000)])
    return v_user, v_hits


def _timeline(
    rng: np.random.Generator,
    v_user: np.ndarray,
    v_hits: np.ndarray,
    t0: int,
    first_window_s: int,
    max_between_s: int,
):
    """Hit timestamps (seconds) for visits grouped by user: within-visit
    gaps of 0..900 s, between-visit gaps of 1801 s..``max_between_s``,
    each user's first visit at a random second of ``first_window_s``.
    Returns (hit_visit, ts)."""
    n_visits = len(v_user)
    hit_visit = np.repeat(np.arange(n_visits), v_hits)
    first_hit = np.concatenate([[0], np.cumsum(v_hits)[:-1]])
    within = rng.integers(0, 901, len(hit_visit))
    within[first_hit] = 0
    csum_w = np.cumsum(within)
    offset = csum_w - np.repeat(csum_w[first_hit], v_hits)
    visit_len = offset[np.append(first_hit[1:], len(offset)) - 1]
    user_first = np.ones(n_visits, dtype=bool)
    user_first[1:] = v_user[1:] != v_user[:-1]
    between = rng.integers(GAP_S + 1, max_between_s, n_visits)
    between[user_first] = rng.integers(0, first_window_s, int(user_first.sum()))
    step = between + np.concatenate([[0], visit_len[:-1]])
    step[user_first] = between[user_first]
    csum = np.cumsum(step)
    base = np.maximum.accumulate(np.where(user_first, csum - step, 0))
    visit_start = t0 + csum - base
    return hit_visit, visit_start[hit_visit] + offset


def _str(a: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(a), pa.string())


# --- hit log -----------------------------------------------------------------


@dataclass
class HitlogTruth:
    lines: int
    input_bytes: int
    short_rows: int
    bad_ts_rows: int
    hits: int
    visits: int
    visitors: int
    visit_start_sum: int
    visit_end_sum: int
    order_flags: int
    latin1_page_hits: int


def make_hitlog(
    out_dir: str,
    seed: int,
    n_users: int,
    n_files: int = 8,
    n_bots: int = 3,
    bot_hits: int = 5_000,
) -> HitlogTruth:
    """Write ``n_files`` gzipped ISO-8859-1 TSV files and return the truth."""
    rng = np.random.default_rng(seed)
    v_user, v_hits = _visits(rng, n_users, n_bots, bot_hits)
    hit_visit, ts = _timeline(rng, v_user, v_hits, HITLOG_T0, DAY_S, 4 * 3600)
    user = v_user[hit_visit]
    n = len(ts)
    n_ids = n_users + n_bots

    def pick(values: np.ndarray) -> pa.Array:
        return pa.array(values).take(pa.array(rng.integers(0, len(values), n)))

    user_str = _str(user)
    # Most users have one identity; every 7th user sometimes shows a
    # second scv_id, every 5th has no ibm_id.
    scv_b = (user % 7 == 0) & (rng.random(n) < 0.3)
    scv = pc.binary_join_element_wise("scv", user_str, pa.array(np.where(scv_b, "b", "")), "")
    ibm = pc.if_else(
        pa.array(user % 5 == 0), "", pc.binary_join_element_wise("ibm", user_str, "")
    )
    event_idx = rng.integers(0, len(EVENT_LISTS), n)
    page_idx = rng.integers(0, len(PAGES), n)

    kind = rng.random(n)
    short = kind < 0.01
    bad_ts = (kind >= 0.01) & (kind < 0.015)
    ts_str = pc.if_else(
        pa.array(bad_ts), pa.array(np.where(rng.random(n) < 0.5, "N/A", "")), _str(ts)
    )
    lo = rng.integers(1_000_000_000, 9_999_999_999, n_ids)

    cols = [
        ts_str,
        _str(10_000_000 + user),
        _str(lo[user]),
        pick(TRACKING),
        pick(PRODUCTS),
        pa.array(EVENT_LISTS).take(pa.array(event_idx)),
        pa.array(PAGES).take(pa.array(page_idx)),
        pick(SERVERS),
        ibm,
        scv,
    ]
    lines = pc.if_else(
        pa.array(short),
        pc.binary_join_element_wise(*cols[:7], "\t"),
        pc.binary_join_element_wise(*cols, "\t"),
    )

    os.makedirs(out_dir, exist_ok=True)
    input_bytes = 0
    for f, part in enumerate(np.array_split(rng.permutation(n), n_files)):
        path = os.path.join(out_dir, f"hits-{f:02d}.tsv.gz")
        chunk = lines.take(pa.array(part))
        payload = pc.binary_join(pa.ListArray.from_arrays([0, len(chunk)], chunk), "\n")
        with gzip.open(path, "wb", compresslevel=1) as fh:
            fh.write((payload[0].as_py() + "\n").encode("iso-8859-1"))
        input_bytes += os.path.getsize(path)

    valid = ~short & ~bad_ts
    _, vs, ve, _ = sessionize_truth(user[valid], ts[valid])
    # visitor = (user_id, ibm_id, scv_id); ibm_id is a function of the user
    visitor = user[~short].astype(np.int64) * 2 + scv_b[~short]
    return HitlogTruth(
        lines=n,
        input_bytes=input_bytes,
        short_rows=int(short.sum()),
        bad_ts_rows=int(bad_ts.sum()),
        hits=int(valid.sum()),
        visits=len(vs),
        visitors=len(np.unique(visitor)),
        visit_start_sum=int(vs.sum()),
        visit_end_sum=int(ve.sum()),
        order_flags=int(np.isin(EVENT_LISTS[event_idx][valid], ORDER_LISTS).sum()),
        latin1_page_hits=int((PAGES[page_idx][valid] == LATIN1_PAGE).sum()),
    )


# --- events ------------------------------------------------------------------


def make_events(seed: int, n_users: int, first_window_s: int, max_between_s: int) -> pa.Table:
    """Events in the fixture's ``events`` schema, ordered by ``ts``.

    ``ts`` is microseconds since 2024-01-01 with a sub-second jitter that
    never closes a planted between-visit gap below 1800 s. The table is
    returned with ``ts`` as int64 micros; ``events_table`` gives it its
    parquet timestamp type."""
    rng = np.random.default_rng(seed)
    v_user, v_hits = _visits(rng, n_users, 0, 0)
    hit_visit, ts_s = _timeline(rng, v_user, v_hits, EVENTS_T0, first_window_s, max_between_s)
    ts = ts_s * 1_000_000 + rng.integers(0, 1_000_000, len(ts_s))
    order = np.argsort(ts, kind="stable")
    n = len(ts)
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts[order],
            "user_id": (v_user[hit_visit][order] + 1).astype(np.int64),
            "event_type": pa.array(EVENT_TYPES).take(
                pa.array(rng.choice(len(EVENT_TYPES), n, p=EVENT_TYPE_P))
            ),
            "value": np.round(rng.uniform(0.01, 490.0, n), 2),
            "props": pc.binary_join_element_wise(
                '{"k": ', _str(rng.integers(0, 100, n)), "}", ""
            ),
        }
    )


def events_table(events: pa.Table, tz: str | None = None) -> pa.Table:
    """``ts`` as a parquet timestamp[us]: naive like the fixture
    (``tz=None``) or UTC-adjusted (``tz="UTC"``)."""
    ts = events.column("ts").cast(pa.timestamp("us", tz=tz))
    return events.set_column(events.schema.get_field_index("ts"), "ts", ts)


VISIT_FIELDS = ("user_id", "visit_start_us", "visit_end_us", "n_hits", "total_value_cents")


def visits_truth(events: pa.Table) -> dict[str, np.ndarray]:
    """Sessions of ``events`` (int64-micros ``ts``) with the 1800 s gap,
    as the columns ``sessionize_stream`` emits, ordered by (user, start)."""
    cents = np.floor(events.column("value").to_numpy() * 100).astype(np.int64)
    cols = sessionize_truth(
        events.column("user_id").to_numpy(),
        events.column("ts").to_numpy(),
        GAP_S * 1_000_000,
        cents,
    )
    return dict(zip(VISIT_FIELDS, cols))


def write_stream_files(
    events: pa.Table, out_dir: str, sizes: list[int], late_share: float, seed: int
) -> list[tuple[str, int]]:
    """Split ``events`` into parquet files in ``out_dir`` by arrival
    time, file ``i`` holding ``sizes[i]`` events (the sizes add up to
    the events), and return ``(path, rows)`` in publish order.

    An event arrives at its event time, except ``late_share`` of them,
    which arrive 1 to 30 minutes of event time later, out of order.
    Every batch before the one holding a late event saw event times
    below its arrival, so the watermark (newest event time minus one
    hour) stays 30 minutes short of it and the event is never dropped."""
    rng = np.random.default_rng(seed)
    n = events.num_rows
    if sum(sizes) != n:
        raise ValueError(f"file sizes add up to {sum(sizes)}, not {n} events")
    ts = events.column("ts").to_numpy()
    delay = rng.integers(60, 1800, n) * 1_000_000
    arrival = np.where(rng.random(n) < late_share, ts + delay, ts)
    order = np.argsort(arrival, kind="stable")
    table = events_table(events, "UTC")
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i, rows in enumerate(np.split(order, np.cumsum(sizes)[:-1])):
        path = os.path.join(out_dir, f"events-{i:05d}.parquet")
        pq.write_table(table.take(pa.array(rows)), path)
        files.append((path, len(rows)))
    return files
