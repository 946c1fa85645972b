"""Repeat a workload over seeds and report medians and quartile spreads.

    python3 perfbench/ab.py --workload olap_cold --seeds 1 2 3 4 5
    python3 perfbench/ab.py --workload olap_cold --seeds 1 2 3 4 5 --other ../parent
    python3 perfbench/ab.py --workload htap_ingest --seeds 1 2 3 --trace-overhead

With ``--other CHECKOUT`` the two checkouts run alternately, and which one
runs first flips from seed to seed, so a drift of the host lands on both
sides alike. ``--trace-overhead`` alternates untraced and traced runs of
this checkout and reports untraced ``ops_per_s`` minus traced
``trace.ops_per_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SECONDS = 30  # run_seconds in BENCHMARK.json


def run_once(checkout: str, workload: str, seed: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(SECONDS), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"run failed ({checkout}, seed {seed}):\n{out.stderr[-3000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print(f"warning: {result['failed']} failed ops ({checkout}, seed {seed})",
              file=sys.stderr)
    return {k: v["value"] for k, v in result["metrics"].items()}


def summary(values: list[float]) -> str:
    med = statistics.median(values)
    if len(values) < 2:
        return f"median {med:.6g}"
    q1, _, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("nan")
    return f"median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  spread {spread:.3f}"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--other", help="a second checkout to alternate with")
    mode.add_argument("--trace-overhead", action="store_true")
    args = ap.parse_args()

    sides: dict[str, list[dict]] = {}
    for i, seed in enumerate(args.seeds):
        if args.other:
            order = [("A", ROOT, 0), ("B", os.path.abspath(args.other), 0)]
        elif args.trace_overhead:
            order = [("untraced", ROOT, 0), ("traced", ROOT, 1)]
        else:
            order = [("A", ROOT, 0)]
        for side, checkout, trace in (order if i % 2 == 0 else order[::-1]):
            sides.setdefault(side, []).append(run_once(checkout, args.workload, seed, trace))

    for side, runs in sides.items():
        print(f"== {side} ({len(runs)} runs)")
        for name in runs[0]:
            print(f"  {name:40s} {summary([r[name] for r in runs])}")
    if args.trace_overhead:
        untraced = statistics.median(r["ops_per_s"] for r in sides["untraced"])
        traced = statistics.median(r["trace.ops_per_s"] for r in sides["traced"])
        print(f"tracing overhead: {untraced - traced:.4g} ops/s "
              f"({untraced:.4g} untraced, {traced:.4g} traced)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
