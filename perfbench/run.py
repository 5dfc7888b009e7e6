#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Prints progress to stderr and, as the last
line of stdout, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics untraced, the per-layer metrics
traced).  Exits non-zero without a result if the run cannot complete or an
output check fails.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

#: workload -> the module under ``perfbench/`` that runs it.  Only the two
#: listed in BENCHMARK.json fit its time budget; the others run by hand.
WORKLOADS = {
    "batch_queries": "wl_batch",
    "processor_table_stream": "wl_processor",
    "window_join_stream": "wl_window",
    "neardup_stream": "wl_neardup",
}


def main(argv: "list[str] | None" = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=len(os.sched_getaffinity(0)),
                    help="N of local[N] and the shuffle partitions (default: usable CPUs)")
    args = ap.parse_args(argv)

    from perfbench.harness import Run

    os.environ.setdefault("SPARK_DRIVER_MEM", "1g")
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace), args.cores)
    try:
        if r.trace:
            from perfbench.trace import Tracer

            r.tracer = Tracer(r)
        importlib.import_module(f"perfbench.{WORKLOADS[args.workload]}").run(r)
        result = r.result()
    finally:
        r.close()
    if not result["correct"]:
        print(json.dumps(result), file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
