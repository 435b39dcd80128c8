"""Generate PLANS.md: the formatted physical plan of EVERY registry
query at sf0.01 (bench headliners flagged), plus a one-line audit
(shuffle-exchange count, broadcast joins, Python eval nodes,
cartesian products).

The point is reviewability: `.explain("formatted")` output is the
ground truth behind the plan-shape claims in SURVEY §2.3 and
tests/test_plan_quality.py — this file freezes it where a reviewer
can read it without running Spark.

Each plan is normalized before it is written (``normalize_plan``):
expression ids (``#1234``) and ``plan_id=`` values are renumbered in
order of first appearance within the plan, the random staging dirs of
registry queries become ``<stage>`` and the process id that names the
bucketed layouts becomes ``<pid>``. Regenerating PLANS.md on an
unchanged tree then gives an unchanged file, so its diff shows only the
plans a change moved.

Usage: python scripts/plan_audit.py   (rewrites PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_EXPR_ID = re.compile(r"#(\d+)")
_PLAN_ID = re.compile(r"plan_id=(\d+)")
# tempfile.mkdtemp(prefix="wavrp_stage_") under whatever the temp root is
_STAGE_DIR = re.compile(r"[^\s\[\],:]*wavrp_stage_[^/\s\[\],]+")
# sources.layout names its bucketed tables and dirs <tag>_<hash>_<pid>
_LAYOUT_PID = re.compile(r"(spark_graft_bucketed[_/]\w+?_[0-9a-f]{8})_\d+")


def _renumber(pattern: re.Pattern, text: str, template: str) -> str:
    seen: dict[str, int] = {}
    return pattern.sub(
        lambda m: template.format(seen.setdefault(m.group(1), len(seen) + 1)), text
    )


def normalize_plan(plan: str) -> str:
    """``plan`` without the names that differ between runs of the same
    query: expression ids and ``plan_id=`` values renumbered from 1 in
    order of first appearance (so equal ids stay equal and distinct ids
    distinct), staging dirs replaced by ``<stage>`` and the process id
    in bucketed table names by ``<pid>``."""
    plan = _renumber(_EXPR_ID, plan, "#{}")
    plan = _renumber(_PLAN_ID, plan, "plan_id={}")
    plan = _LAYOUT_PID.sub(r"\1_<pid>", plan)
    return _STAGE_DIR.sub("<stage>", plan)


def main() -> None:
    from bench import HEADLINE

    from web_analytics_visits_re_processing_spark.plans import QUERIES
    from web_analytics_visits_re_processing_spark.session import get_spark

    spark = get_spark(
        app_name="plan_audit", master="local[8]", shuffle_partitions=8
    )
    benched = set(HEADLINE)
    lines = [
        "# PLANS — physical plans of every registry query",
        "",
        f"Auto-generated by `scripts/plan_audit.py` at {SF_DIR} "
        "(initial plans, before AQE runtime re-optimization; exchange "
        "counts exclude broadcast exchanges). Streaming queries show "
        "the batch read-back plan of their append-replay sink — their "
        "streaming plan shape is asserted in tests/test_streaming*. "
        "`bench` marks membership in bench.py:HEADLINE.",
        "",
        "| query | shuffle exchanges | broadcast joins | python nodes | cartesian | bench |",
        "|---|---|---|---|---|---|",
    ]
    details = []
    failures = []
    for name in QUERIES:
        try:
            df = QUERIES[name](spark, SF_DIR)
            qe = df._jdf.queryExecution()
            plan = qe.executedPlan().toString()
        except Exception as exc:  # keep auditing the rest
            failures.append((name, repr(exc)))
            continue
        n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
        n_bc = len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", plan))
        n_py = len(re.findall(r"(?:Batch|Arrow)EvalPython|MapInPandas|PythonMapInArrow", plan))
        cart = "yes" if "CartesianProduct" in plan else "no"
        b = "yes" if name in benched else ""
        lines.append(f"| `{name}` | {n_ex} | {n_bc} | {n_py} | {cart} | {b} |")
        details.append(f"## {name}\n\n```\n{normalize_plan(plan).strip()}\n```\n")
    out = "\n".join(lines) + "\n\n" + "\n".join(details)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"PLANS.md written ({len(details)} queries, {len(failures)} failures)")
    for name, err in failures:
        print(f"FAILED {name}: {err}")


if __name__ == "__main__":
    main()
