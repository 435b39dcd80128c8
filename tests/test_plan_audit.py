"""``scripts/plan_audit.py``'s plan normalizer: two runs of the same
query differ only in expression ids, ``plan_id=`` values, AQE
query-stage ids, codegen ids, the random staging dir, the temp root, a
``.tmp`` work dir and the process id in bucketed layout names, and the
normalizer maps both runs' plans to the same text while keeping
distinct ids distinct. A rewritten ``COUNT(DISTINCT ...)``, whose group
order follows the process's expression ids, is planned in a new process
and prints the same text each time."""

from __future__ import annotations

import importlib.util
import os

_spec = importlib.util.spec_from_file_location(
    "plan_audit",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts", "plan_audit.py"),
)
plan_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_audit)

RUN_1 = """\
Project [user_id#12L, CASE WHEN isnotnull(ts#13L) THEN _we0#40L END AS session_seq#20L]
+- Window [sum(_w0#39) AS _we0#40L], [user_id#12L], [ts#13L ASC NULLS FIRST]
   +- Exchange hashpartitioning(user_id#12L, 8), ENSURE_REQUIREMENTS, [plan_id=417]
      +- FileScan parquet [user_id#12L,ts#13L] Location: InMemoryFileIndex(1 paths)[file:/tmp/wavrp_stage_b0dz14wu/basket_pairs]
         +- FileScan parquet spark_graft_bucketed_sf0_01_37a622a5_23699.orders_by_orderkey[o_orderkey#14L] Location: [file:/tmp/spark_graft_bucketed/sf0_01_37a622a5_23699/orders_by_orderkey]
"""
RUN_2 = """\
Project [user_id#3012L, CASE WHEN isnotnull(ts#3013L) THEN _we0#3101L END AS session_seq#3050L]
+- Window [sum(_w0#3100) AS _we0#3101L], [user_id#3012L], [ts#3013L ASC NULLS FIRST]
   +- Exchange hashpartitioning(user_id#3012L, 8), ENSURE_REQUIREMENTS, [plan_id=9]
      +- FileScan parquet [user_id#3012L,ts#3013L] Location: InMemoryFileIndex(1 paths)[file:/var/tmp/x/wavrp_stage_e5wyh_wt/basket_pairs]
         +- FileScan parquet spark_graft_bucketed_sf0_01_37a622a5_8.orders_by_orderkey[o_orderkey#3014L] Location: [file:/tmp/spark_graft_bucketed/sf0_01_37a622a5_8/orders_by_orderkey]
"""


def test_two_runs_of_one_plan_normalize_to_the_same_text():
    a, b = plan_audit.normalize_plan(RUN_1), plan_audit.normalize_plan(RUN_2)
    assert a == b
    assert a.splitlines()[0] == (
        "Project [user_id#1L, CASE WHEN isnotnull(ts#2L) THEN _we0#3L END AS session_seq#4L]"
    )
    assert "[plan_id=1]" in a
    assert "[file:<stage>/basket_pairs]" in a
    assert "wavrp_stage_" not in a and "/var/tmp" not in a
    assert "spark_graft_bucketed_sf0_01_37a622a5_<pid>.orders_by_orderkey" in a
    assert "spark_graft_bucketed/sf0_01_37a622a5_<pid>/orders_by_orderkey" in a


def test_distinct_ids_stay_distinct_and_equal_ids_equal():
    got = plan_audit.normalize_plan("a#7 b#9 a#7 [plan_id=5] [plan_id=2] [plan_id=5]")
    assert got == "a#1 b#2 a#1 [plan_id=1] [plan_id=2] [plan_id=1]"


def test_query_stage_ids_are_renumbered_across_stage_kinds():
    run_1 = """\
ResultQueryStage 8
+- ShuffleQueryStage 7
   :- TableCacheQueryStage 0
   :     ResultQueryStage 1
   :     +- ShuffleQueryStage 0
   +- BroadcastQueryStage 6"""
    run_2 = run_1.replace("Stage 8", "Stage 9").replace("Stage 7", "Stage 3").replace("Stage 6", "Stage 5")
    assert plan_audit.normalize_plan(run_1) == plan_audit.normalize_plan(run_2) == """\
ResultQueryStage 1
+- ShuffleQueryStage 2
   :- TableCacheQueryStage 3
   :     ResultQueryStage 4
   :     +- ShuffleQueryStage 3
   +- BroadcastQueryStage 5"""


def test_codegen_ids_are_renumbered_and_products_kept():
    run_1 = """\
*(4) HashAggregate(keys=[b#17L], functions=[partial_sum((c#19L * (2)))])
+- *(4) Filter isnotnull(b#17L)
   :  +- *(3) HashAggregate(keys=[b#16L], functions=[count(1)])"""
    run_2 = run_1.replace("*(4)", "*(9)").replace("*(3)", "*(4)")
    assert plan_audit.normalize_plan(run_1) == plan_audit.normalize_plan(run_2) == """\
*(1) HashAggregate(keys=[b#1L], functions=[partial_sum((c#2L * (2)))])
+- *(1) Filter isnotnull(b#1L)
   :  +- *(2) HashAggregate(keys=[b#3L], functions=[count(1)])"""


def test_temp_root_becomes_a_placeholder():
    plan = "Location: [file:/tmp/plan_audit_x1y2/spark_graft_schema_evo/sf0.01/v=1]"
    assert plan_audit.normalize_plan(plan, "/tmp/plan_audit_x1y2") == (
        "Location: [file:<tmp>/spark_graft_schema_evo/sf0.01/v=1]"
    )


def test_distinct_rewrite_is_planned_in_a_new_process():
    """``url_canonicalize_pages`` counts two distinct columns per URL;
    each new process prints its groups in the same order."""
    first = plan_audit.fresh_plan("url_canonicalize_pages")
    assert plan_audit._DISTINCT_GROUPS.search(first), first
    assert "Expand [" in first and "plan_audit_" not in first
    assert plan_audit.fresh_plan("url_canonicalize_pages") == first
    assert not plan_audit._DISTINCT_GROUPS.search("HashAggregate(keys=[grid#3, gids#4])")


def test_work_dirs_of_any_checkout_become_one_placeholder():
    plans = [
        f"Location: InMemoryFileIndex(1 paths)[file:{root}/.tmp/roundtrip_csv/sf0.01]"
        for root in ("/home/a/repo", "/srv/b/checkout-2")
    ]
    assert {plan_audit.normalize_plan(p) for p in plans} == {
        "Location: InMemoryFileIndex(1 paths)[file:<work>/roundtrip_csv/sf0.01]"
    }


def test_other_text_is_left_as_is():
    plan = "Filter (isnotnull(x#4) AND (x#4 > 10))\n+- Scan [file:/data/sf0.01/events.parquet]"
    assert plan_audit.normalize_plan(plan) == (
        "Filter (isnotnull(x#1) AND (x#1 > 10))\n+- Scan [file:/data/sf0.01/events.parquet]"
    )
