#!/usr/bin/env python3
"""Run one workload N times, each with another seed, and print each
metric's median, quartiles and spread ((q3 - q1) / median) next to the
bound BENCHMARK.json fixes for it.

    python3 perfbench/steady.py --workload cdc_bulk --runs 10 --seed0 1

Quartiles are ``statistics.quantiles(values, n=4)``. Per-run values and
wall times are written to .perfbench/steady/<workload>-trace<t>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"] + bench["per_layer"]}
    values: dict[str, list[float]] = {}
    runs = []
    for i in range(args.runs):
        seed = args.seed0 + i
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", f"{args.seconds:g}", "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        runs.append({"seed": seed, "wall_s": wall, **result})
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {wall:.1f}s correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']}", flush=True)

    print(f"\n{'metric':<30}{'median':>14}{'q1':>14}{'q3':>14}{'spread':>9}{'bound':>7}")
    for name, vals in values.items():
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(name)
        flag = "" if bound is None else ("  ok" if spread < bound / 3 else "  WIDE")
        print(f"{name:<30}{med:>14.6g}{q1:>14.6g}{q3:>14.6g}{spread:>9.3f}"
              f"{'' if bound is None else bound:>7}{flag}")
    walls = [r["wall_s"] for r in runs]
    print(f"\nrun wall: median {statistics.median(walls):.1f}s, max {max(walls):.1f}s, "
          f"total {sum(walls):.0f}s")
    out = os.path.join(ROOT, ".perfbench", "steady", f"{args.workload}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"args": vars(args), "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
