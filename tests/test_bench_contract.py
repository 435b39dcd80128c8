"""The driver's bench gate tail-captures stdout and parses the FINAL
line as JSON — BENCH_r06 went blind because an inline full per-query
record blew past the tail capture and truncated mid-object. These
tests pin the artifact contract (final line parses, stays bounded, a
suite 3× today's size still fits) and the HEADLINE ⊆ registry
invariant, all without starting Spark."""

from __future__ import annotations

import json

from bench import HEADLINE, summary_line


def test_summary_line_parses_and_stays_bounded():
    """A 1000-query suite (3× today's) must still emit one parseable
    line under ~1.5 KB: the top-20 truncation, not suite size, bounds
    the payload."""
    timings = {f"query_name_number_{i:04d}": i * 0.123 for i in range(1000)}
    line = summary_line(
        timings, cold_total=4321.5, reps=3, sf_val=0.1, anchors=(1.2345, 1.3456)
    )
    assert "\n" not in line
    assert len(line.encode()) < 1536, len(line.encode())
    obj = json.loads(line)
    assert obj["metric"] == "headline_inventory_total_runtime"
    assert obj["unit"] == "sec"
    assert obj["n_queries"] == 1000
    assert len(obj["queries"]) == 20
    assert obj["detail_file"] == "BENCH_DETAIL.json"
    # top-20 really are the slowest
    assert min(obj["queries"].values()) >= sorted(
        timings.values(), reverse=True
    )[19]


def test_summary_line_total_is_full_suite_not_top20():
    timings = {"a": 1.0, "b": 2.0, "c": 3.0}
    obj = json.loads(summary_line(timings, 7.0, 1, 0.01))
    assert obj["value"] == 6.0
    assert obj["cold_total"] == 7.0


def test_headline_names_are_registry_names():
    """Every bench headline must be a registered query — a renamed or
    removed query otherwise fails at bench time (after ~4 min of
    runs), not test time."""
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    missing = [n for n in HEADLINE if n not in QUERIES]
    assert not missing, missing
    assert len(set(HEADLINE)) == len(HEADLINE)  # no duplicate entries


def test_queries_orders_bad_then_never_sampled_then_stalest(monkeypatch):
    """The driver samples a prefix of ``queries()``: latest-round
    failures first, then never-verified names, then verified names
    with the stalest pass first. Every registry name appears once,
    and ties keep registry order — the order ``oracle_sql()`` follows
    too."""
    import os
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, repo)
    import __spark_entry__ as e
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    names = list(QUERIES)
    bad = {names[7], names[3]}
    never = {names[0], names[5], names[9]}
    last_pass = {
        n: (12 if i % 2 else 14)
        for i, n in enumerate(names)
        if n not in never
    }
    monkeypatch.setattr(e, "_sampling_history", lambda: (last_pass, bad))

    order = list(e.queries())
    assert len(order) == len(set(order)) == len(names)
    expected = (
        [n for n in names if n in bad]
        + [n for n in names if n in never]
        + [n for n in names if n not in bad | never and last_pass[n] == 12]
        + [n for n in names if n not in bad | never and last_pass[n] == 14]
    )
    assert order == expected
    assert order[:5] == [names[3], names[7], names[0], names[5], names[9]]
    assert [n for n in e.oracle_sql()] == [n for n in order if n in e.ORACLES]


def test_summary_line_carries_anchor():
    """The calibration anchor (pre/post pure-compute probe) must ride
    the driver-facing summary line so BENCH_r{N}.json records it."""
    obj = json.loads(
        summary_line({"a": 1.0}, 1.0, 3, 0.1, anchors=(1.25, 1.35))
    )
    assert obj["anchor_sec"] == [1.25, 1.35]


def test_bench_compare_anchor_normalizes_host_drift():
    """The r10 episode: a uniform whole-box 1.20x slowdown flagged 241
    of 301 queries. With anchors recorded, the comparator must divide
    per-query ratios by the anchor drift — a uniform move flags
    NOTHING, while a genuine single-query regression still flags."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_compare",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "bench_compare.py",
        ),
    )
    bc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bc)

    old = {
        "queries": {"q1": 1.0, "q2": 2.0, "q3": 4.0},
        "value": 7.0,
        "anchor": {"pre": 1.0, "post": 1.0},
    }
    # whole box 1.6x slower (anchor moved 1.6x too): nothing flags
    new_uniform = {
        "queries": {"q1": 1.6, "q2": 3.2, "q3": 6.4},
        "value": 11.2,
        "anchor": {"pre": 1.6, "post": 1.6},
    }
    rep = bc.compare(old, new_uniform)
    assert rep["regressions"] == {}, rep
    assert rep["anchor"]["drift"] == 1.6
    # same raw numbers but anchor flat: all three flag as real
    new_real = dict(new_uniform, anchor={"pre": 1.0, "post": 1.0})
    rep2 = bc.compare(old, new_real)
    assert set(rep2["regressions"]) == {"q1", "q2", "q3"}, rep2
    # pre-anchor snapshot falls back to raw ratios
    rep3 = bc.compare({"queries": old["queries"], "value": 7.0}, new_uniform)
    assert set(rep3["regressions"]) == {"q1", "q2", "q3"}
    assert rep3["anchor"]["drift"] is None


def test_doc_counts_match_registry():
    """README/SURVEY inventory counts are rendered mechanically from
    the registry (scripts/render_counts.py); this gate fails the suite
    whenever they drift — the r11 verdict found both documents stale
    because nothing asserted them."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "render_counts",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "scripts",
            "render_counts.py",
        ),
    )
    rc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(rc)
    assert rc.render(check_only=True) == 0, (
        "README.md/SURVEY.md inventory counts are stale — run "
        "`python scripts/render_counts.py`"
    )


def test_sampler_bounds_row_age():
    """Driver-verification freshness ledger (r11 verdict item 6): the
    stalest-pass-first rotation must bound how old any query's newest
    driver-green row can get. With N registry queries and the 50-slot
    sampled prefix, a full rotation takes ceil(N/50) rounds; allow +2
    rounds of slack for tier-1 pressure (regressions + new
    registrations taking prefix slots). Also pin the LRU invariant
    itself: within tier 3, queries() must order stalest pass first."""
    import math

    import __spark_entry__ as e
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    last_pass, latest_bad = e._sampling_history()
    assert last_pass, "no CORRECTNESS artifacts found"
    latest_round = max(last_pass.values())
    budget = math.ceil(len(QUERIES) / 50) + 2
    overdue = {
        n: r for n, r in last_pass.items() if latest_round - r > budget
    }
    assert not overdue, (
        f"queries whose newest driver-green row is older than "
        f"{budget} rounds (rotation is not keeping up): {overdue}"
    )
    # LRU ordering invariant: tier-3 names appear stalest-first
    ordered = list(e.queries())
    tier3 = [n for n in ordered if n in last_pass and n not in latest_bad]
    ages = [last_pass[n] for n in tier3]
    assert ages == sorted(ages), "tier-3 rotation is not stalest-first"
