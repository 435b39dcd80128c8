"""Interleaved A/B pairs of the benchmark: a parent commit against this
checkout.

Usage:
    python3 scripts/ab_pairs.py --parent HEAD~1 --workload stream_sessionize \
        --seed0 101 [--pairs 10]

Exports the committed files of ``--parent`` into a temporary directory
(``git archive``, the same files the benchmark sees for that commit)
and runs the unchanged ``perfbench/run.py --trace 0`` of each side on
seeds ``seed0 .. seed0 + pairs - 1`` for ``run_seconds`` of
``BENCHMARK.json``, one pair per seed, alternating which side runs
first. Every run's record is printed as one ``run {...}`` JSON line
as it finishes. Then, for each end-to-end
metric of ``BENCHMARK.json``, one line gives each side's median and
quartiles, IQR/median, the pairs the change won, lost and tied (the
direction comes from ``better``) and the verdict:

- ``gain``: the change wins at least nine tenths of the pairs and the
  medians differ by more than the parent's IQR, in its favour;
- ``worse``: the change's median is worse than the parent's by more
  than the metric's ``bound`` (a fraction of the parent's median);
- ``unresolved``: neither, and a side's IQR/median exceeds the bound,
  unless every run of the change reads better than every run of the
  parent (then ``flat``);
- ``flat``: otherwise.

The same line counts the pairs that the side which ran first won and
lost. Run order alternates, so a count near all of the pairs shows
that the order, not the code, decided them.

Drift probes (``host drift probe`` in the run's notes) are listed per
side. A run that exits 2 (the open-loop generator fell behind) is
reported and its pair left out. Exits 1 if any run crashed or failed
its truth check, else 0.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SIDES = ("parent", "change")
_DRIFT = re.compile(r"host drift probe ([0-9.]+) s")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3), inclusive method; one value gives it thrice."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """Judge one metric over paired runs (``parent[i]`` and
    ``change[i]`` ran on the same seed)."""
    if len(parent) != len(change) or not parent:
        raise ValueError("need the same number (>0) of runs on both sides")
    sign = 1.0 if better == "higher" else -1.0
    p_q1, p_med, p_q3 = quartiles(parent)
    c_q1, c_med, c_q3 = quartiles(change)
    diffs = [sign * (c - p) for p, c in zip(parent, change)]
    wins = sum(d > 0 for d in diffs)
    losses = sum(d < 0 for d in diffs)
    gain = sign * (c_med - p_med)
    spread = max((p_q3 - p_q1) / abs(p_med) if p_med else math.inf,
                 (c_q3 - c_q1) / abs(c_med) if c_med else math.inf)
    if wins >= math.ceil(0.9 * len(diffs)) and gain > p_q3 - p_q1:
        call = "gain"
    elif -gain > bound * abs(p_med):
        call = "worse"
    elif spread > bound and min(sign * c for c in change) <= max(sign * p for p in parent):
        call = "unresolved"
    else:
        call = "flat"
    return {
        "parent": (p_q1, p_med, p_q3),
        "change": (c_q1, c_med, c_q3),
        "wins": wins,
        "losses": losses,
        "ties": len(diffs) - wins - losses,
        "verdict": call,
    }


def first_run_wins(
    parent: list[float], change: list[float], parent_first: list[bool], better: str
) -> tuple[int, int]:
    """(won, lost): the pairs in which the side that ran first read
    better, and worse, than the side that ran second."""
    sign = 1.0 if better == "higher" else -1.0
    diffs = [sign * (p - c if pf else c - p)
             for p, c, pf in zip(parent, change, parent_first)]
    return sum(d > 0 for d in diffs), sum(d < 0 for d in diffs)


def export_parent(rev: str, dest: str) -> None:
    """The committed files of ``rev`` in ``dest``."""
    archive = subprocess.run(
        ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
    ).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in the checkout at ``root``."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=root, env=env, capture_output=True, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if proc.returncode in (0, 1) and lines else None
    drift = [float(m.group(1)) for m in map(_DRIFT.search, lines) if m]
    if proc.returncode not in (0, 2):
        sys.stderr.write(proc.stderr[-4000:])
    return {
        "exit": proc.returncode,
        "correct": bool(result and result["correct"]),
        "metrics": {k: v["value"] for k, v in result["metrics"].items()} if result else {},
        "drift_s": drift[-1] if drift else None,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--parent", required=True, help="git revision to compare against")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed0", type=int, required=True)
    p.add_argument("--pairs", type=int, default=10)
    args = p.parse_args(argv)
    if args.pairs < 10:
        p.error("the protocol needs at least 10 pairs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = spec["run_seconds"]

    tmp = tempfile.mkdtemp(prefix="ab_pairs-")
    roots = {"parent": tmp, "change": ROOT}
    runs: list[dict[str, dict]] = []
    failed = False
    try:
        export_parent(args.parent, tmp)
        for i in range(args.pairs):
            seed = args.seed0 + i
            order = SIDES if i % 2 == 0 else SIDES[::-1]
            pair = {"first": order[0]}
            for side in order:
                rec = run_once(roots[side], args.workload, seed, seconds)
                pair[side] = rec
                print("run " + json.dumps({"seed": seed, "side": side, **rec}), flush=True)
                failed |= rec["exit"] not in (0, 2)
            if all(pair[s]["exit"] == 0 for s in SIDES):
                runs.append(pair)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(f"# {args.workload}: {len(runs)} valid pairs of {args.pairs}, seeds "
          f"{args.seed0}..{args.seed0 + args.pairs - 1}, {seconds:g} s runs")
    for side in SIDES:
        probes = [r[side]["drift_s"] for r in runs if r[side]["drift_s"] is not None]
        print(f"# drift probe {side}: " + " ".join(f"{d:.3f}" for d in probes))
    if runs:
        for m in spec["end_to_end"]:
            name = m["name"]
            parent = [r["parent"]["metrics"][name] for r in runs]
            change = [r["change"]["metrics"][name] for r in runs]
            v = verdict(parent, change, m["better"], m["bound"])
            first_won, first_lost = first_run_wins(
                parent, change, [r["first"] == "parent" for r in runs], m["better"])
            (pq1, pmed, pq3), (cq1, cmed, cq3) = v["parent"], v["change"]
            print(
                f"{name}@{args.workload}: parent {pmed:.4g} [{pq1:.4g}-{pq3:.4g}] "
                f"IQR/med {(pq3 - pq1) / pmed if pmed else math.inf:.3f}; "
                f"change {cmed:.4g} [{cq1:.4g}-{cq3:.4g}] "
                f"IQR/med {(cq3 - cq1) / cmed if cmed else math.inf:.3f}; "
                f"change {(cmed - pmed) / pmed if pmed else math.inf:+.1%}; "
                f"won {v['wins']} lost {v['losses']} tied {v['ties']}; "
                f"first run won {first_won} lost {first_lost} "
                f"({m['better']} is better, bound {m['bound']}): {v['verdict']}"
            )
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
