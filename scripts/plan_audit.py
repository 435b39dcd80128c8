"""Generate PLANS.md: the formatted physical plan of EVERY registry
query at sf0.01 (bench headliners flagged), plus a one-line audit
(shuffle-exchange count, broadcast joins, Python eval nodes,
cartesian products).

The point is reviewability: `.explain("formatted")` output is the
ground truth behind the plan-shape claims in SURVEY §2.3 and
tests/test_plan_quality.py — this file freezes it where a reviewer
can read it without running Spark.

Each plan is normalized before it is written (``normalize_plan``):
expression ids (``#1234``), ``plan_id=`` values, AQE query-stage ids
(``ShuffleQueryStage 7``) and the whole-stage codegen ids of a final
AQE plan (``*(3)``) are renumbered in order of first appearance within
the plan, the random staging dirs of registry queries become
``<stage>``, the temp root ``<tmp>``, a ``.tmp`` work dir (with the
checkout's path before it) ``<work>`` and the process id that names
the bucketed layouts ``<pid>``. Scan locations are printed
in full (``spark.sql.maxMetadataStringLength``), so a checkout's path
length cannot move where Spark cuts them.

Renumbering cannot fix one shape. Spark rewrites several
``COUNT(DISTINCT ...)`` of one aggregate into an ``Expand`` with one
projection per distinct group, tagged by a ``gid``, and it orders the
groups (the projections, the ``gid`` filter values and the grouping
keys) by hashes of their expression ids. Those ids count up across the
whole process, and how many ids the earlier queries take varies from
run to run, so the same query printed its groups in another order. A
query whose plan holds a ``gid`` is therefore planned again in a new
process (``fresh_plan``), where its ids depend only on the query.

Every process starts from empty registry caches (bucketed layouts,
staged tables): the package's temp dir is a new dir, removed at exit.
Regenerating PLANS.md on an unchanged tree then gives a byte-identical
file, so its diff shows only the plans a change moved.

Usage: python scripts/plan_audit.py   (rewrites PLANS.md)
       python scripts/plan_audit.py --plan NAME OUT   (NAME's plan to OUT)
"""

from __future__ import annotations

import os
import re
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

_EXPR_ID = re.compile(r"#(\d+)")
_PLAN_ID = re.compile(r"plan_id=(\d+)")
# AQE stage ids; one counter serves every stage kind of a plan
_QUERY_STAGE = re.compile(r"QueryStage (\d+)")
# a node's whole-stage codegen id, which follows the order AQE ran stages in
_CODEGEN_STAGE = re.compile(r"(?<![^\s-])\*\((\d+)\) ")
# the group tag of a rewritten COUNT(DISTINCT ...) aggregate
_DISTINCT_GROUPS = re.compile(r"\bgid#\d+")
# tempfile.mkdtemp(prefix="wavrp_stage_") under whatever the temp root is
_STAGE_DIR = re.compile(r"[^\s\[\],:]*wavrp_stage_[^/\s\[\],]+")
# registry work dirs under a checkout's .tmp
_WORK_DIR = re.compile(r"[^\s\[\],:]*/\.tmp(?=/)")
# sources.layout names its bucketed tables and dirs <tag>_<hash>_<pid>
_LAYOUT_PID = re.compile(r"(spark_graft_bucketed[_/]\w+?_[0-9a-f]{8})_\d+")


def _renumber(pattern: re.Pattern, text: str, template: str) -> str:
    seen: dict[str, int] = {}
    return pattern.sub(
        lambda m: template.format(seen.setdefault(m.group(1), len(seen) + 1)), text
    )


def normalize_plan(plan: str, tmp_root: str | None = None) -> str:
    """``plan`` without the names that differ between runs of the same
    query: expression ids, ``plan_id=`` values, query-stage ids and
    codegen ids renumbered from 1 in order of first appearance (so equal
    ids stay equal and distinct ids distinct), staging dirs replaced by
    ``<stage>``, ``tmp_root`` by ``<tmp>``, a ``.tmp`` work dir by
    ``<work>`` and the process id in bucketed table names by
    ``<pid>``."""
    plan = _renumber(_EXPR_ID, plan, "#{}")
    plan = _renumber(_PLAN_ID, plan, "plan_id={}")
    plan = _renumber(_QUERY_STAGE, plan, "QueryStage {}")
    plan = _renumber(_CODEGEN_STAGE, plan, "*({}) ")
    plan = _LAYOUT_PID.sub(r"\1_<pid>", plan)
    plan = _STAGE_DIR.sub("<stage>", plan)
    plan = _WORK_DIR.sub("<work>", plan)
    return plan.replace(tmp_root, "<tmp>") if tmp_root else plan


def main(argv: list[str]) -> None:
    tmp_root = tempfile.mkdtemp(prefix="plan_audit_")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp_root
    try:
        if argv[:1] == ["--plan"]:
            name, out = argv[1:]
            with open(out, "w") as f:
                f.write(_plan(_session(), name, tmp_root))
        else:
            _audit(tmp_root)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)


def _session():
    from web_analytics_visits_re_processing_spark.session import get_spark

    return get_spark(
        app_name="plan_audit",
        master="local[8]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.maxMetadataStringLength": "10000",
        },
    )


def _plan(spark, name: str, tmp_root: str) -> str:
    from web_analytics_visits_re_processing_spark.plans import QUERIES

    plan = QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    return normalize_plan(plan, tmp_root).strip()


def fresh_plan(name: str) -> str:
    """``name``'s normalized plan, planned in a new process."""
    with tempfile.TemporaryDirectory() as d:
        out = os.path.join(d, "plan.txt")
        done = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--plan", name, out],
            capture_output=True,
            text=True,
        )
        if done.returncode:
            raise RuntimeError(f"--plan {name} exited {done.returncode}: {done.stderr[-2000:]}")
        with open(out) as f:
            return f.read()


def _audit(tmp_root: str) -> None:
    from bench import HEADLINE

    from web_analytics_visits_re_processing_spark.plans import QUERIES

    spark = _session()
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
            plan = _plan(spark, name, tmp_root)
            if _DISTINCT_GROUPS.search(plan):
                plan = fresh_plan(name)
        except Exception as exc:  # keep auditing the rest
            failures.append((name, repr(exc)))
            continue
        n_ex = len(re.findall(r"Exchange (?:hash|range|Single)", plan))
        n_bc = len(re.findall(r"Broadcast(?:Hash|NestedLoop)Join", plan))
        n_py = len(re.findall(r"(?:Batch|Arrow)EvalPython|MapInPandas|PythonMapInArrow", plan))
        cart = "yes" if "CartesianProduct" in plan else "no"
        b = "yes" if name in benched else ""
        lines.append(f"| `{name}` | {n_ex} | {n_bc} | {n_py} | {cart} | {b} |")
        details.append(f"## {name}\n\n```\n{plan}\n```\n")
    out = "\n".join(lines) + "\n\n" + "\n".join(details)
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(out)
    print(f"PLANS.md written ({len(details)} queries, {len(failures)} failures)")
    for name, err in failures:
        print(f"FAILED {name}: {err}")


if __name__ == "__main__":
    main(sys.argv[1:])
