"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed, drives the package in that checkout through its public
functions, checks every output against an independent ground truth
and prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` its per-layer
metrics (a layer the workload does not exercise reads 0).

Exit codes: 0 on a correct run; 1 when a check fails (the result line
is still printed) or when an operation or the run itself crashed (no
result line); 2, with no result line, when the run is invalid because
the open-loop generator fell behind its schedule.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

import batch  # noqa: E402
import common  # noqa: E402
import stream  # noqa: E402

WORKLOADS = {
    "batch_reprocess": batch.run,
    "stream_sessionize": stream.run,
}


def metric_units(trace: bool) -> dict[str, str]:
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def result_line(result: common.Result, units: dict[str, str]) -> str:
    """The final JSON line: every metric of ``units`` by name with its
    unit. A metric outside ``units`` is an error; one the run did not
    report reads 0 (``main`` refuses that for end-to-end metrics)."""
    unknown = set(result.metrics) - set(units)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return json.dumps(
        {
            "correct": not result.errors and result.failed == 0,
            "attempted": result.attempted,
            "failed": result.failed,
            "metrics": {
                name: {"value": float(result.metrics.get(name, 0.0)), "unit": unit}
                for name, unit in units.items()
            },
        }
    )


def stop_jvm() -> None:
    """Shut down the JVM that pyspark launched, if any, and wait for it
    to exit (its Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    units = metric_units(bool(args.trace))
    try:
        result = WORKLOADS[args.workload](args.seed, args.seconds, bool(args.trace))
    except stream.InvalidRun as exc:
        print(f"invalid run: {exc}", file=sys.stderr)
        return 2
    finally:
        stop_jvm()
    if not args.trace and set(units) - set(result.metrics):
        print(f"not measured: {sorted(set(units) - set(result.metrics))}", file=sys.stderr)
        return 1
    for err in result.errors:
        print(f"CHECK FAILED: {err}", file=sys.stderr)
    print(result_line(result, units), flush=True)
    return 0 if not result.errors and result.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
