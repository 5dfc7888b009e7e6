#!/usr/bin/env python3
"""Steadiness: run every workload in two sets of runs with distinct seeds
and print, per (workload, end-to-end metric) and set, the median, the
quartiles, the spread (interquartile range over median) and its gap to the
metric's bound, plus the shift of the second set's median against the
first.  The bounds in BENCHMARK.json were set from these figures.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]

Run from the repository root.  Runs one benchmark process at a time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def one(workload: str, seed: int, seconds: int, trace: int = 0) -> tuple[dict, float]:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    wall = time.perf_counter() - t0
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1]), wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10, help="runs per set and workload")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    seed = args.first_seed
    table: dict = {}
    walls: dict = {}
    for s in range(args.sets):
        for wl in args.workloads.split(","):
            for _ in range(args.runs):
                res, wall = one(wl, seed, args.seconds)
                seed += 1
                walls.setdefault(wl, []).append(wall)
                share = res["failed"] / res["attempted"]
                table.setdefault((wl, "_failed_share"), {}).setdefault(s, []).append(share)
                for name, m in res["metrics"].items():
                    table.setdefault((wl, name), {}).setdefault(s, []).append(m["value"])
                print(f"set {s} {wl} seed {seed - 1}: {wall:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                      file=sys.stderr, flush=True)

    print(f"{'workload':24} {'metric':12} {'set':>3} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'bound':>6} {'gap':>7} {'shift':>7}")
    summary = {}
    for (wl, name), sets in table.items():
        if name == "_failed_share":
            shares = {x for v in sets.values() for x in v}
            print(f"{wl:24} failed share {sorted(shares)}")
            continue
        bound = bounds.get(name, float("nan"))
        first_med = None
        for s, vals in sorted(sets.items()):
            med, q1, q3, sp = spread(vals)
            shift = (med - first_med) / first_med if first_med else 0.0
            first_med = first_med or med
            summary[f"{wl}/{name}/set{s}"] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "shift": shift}
            print(f"{wl:24} {name:12} {s:>3} {med:10.4g} {q1:10.4g} {q3:10.4g} "
                  f"{sp:7.3f} {bound:6.2f} {bound - sp:7.3f} {shift:+7.3f}")
    for wl, ws in walls.items():
        print(f"{wl:24} wall per run: median {statistics.median(ws):.1f}s, max {max(ws):.1f}s")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
