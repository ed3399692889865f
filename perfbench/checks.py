#!/usr/bin/env python3
"""Two checks on the benchmark itself, run from the repository root.

    python3 perfbench/checks.py determinism --workload replay-hot --seed 7
        Runs the traced benchmark twice on one seed and lists which
        per-layer counts (every per-layer metric whose unit is not a time)
        repeat exactly, which differ, and which are 0 in both runs (layers
        the workload does not run).

    python3 perfbench/checks.py overhead --workload replay-hot --seed 7
        Runs the untraced and the traced benchmark on one seed and reports,
        per end-to-end metric, traced / untraced - 1: the cost of tracing.

Each prints one JSON object.  One run of a check is one seed; spread
across seeds is what BENCHMARK.json's bounds are for.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.getcwd()
TIME_UNITS = {"s", "ms"}


def bench(workload: str, seed: int, seconds: int, trace: int) -> dict:
    """One benchmark run; returns its result line plus, when traced, the
    trace file's contents."""
    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"benchmark run failed: {' '.join(cmd)}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if trace:
        path = os.path.join(ROOT, ".perfbench_work", "traces", f"{workload}-seed{seed}.json")
        with open(path) as fh:
            trace_doc = json.load(fh)
        result["end_to_end"] = trace_doc["end_to_end"]
        result["notes"] = trace_doc["notes"]
    return result


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("check", choices=("determinism", "overhead"))
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    secs = spec["run_seconds"]

    if args.check == "determinism":
        a = bench(args.workload, args.seed, secs, 1)
        b = bench(args.workload, args.seed, secs, 1)
        counts = [m["name"] for m in spec["per_layer"] if m["unit"] not in TIME_UNITS]
        same, differ, idle = [], {}, []
        for name in counts:
            va, vb = a["metrics"][name]["value"], b["metrics"][name]["value"]
            if va == vb == 0:
                idle.append(name)  # a layer this workload does not run
            elif va == vb:
                same.append(name)
            else:
                differ[name] = [va, vb]
        if a["attempted"] == b["attempted"]:
            same.append("attempted")
        else:
            differ["attempted"] = [a["attempted"], b["attempted"]]
        print(json.dumps({"workload": args.workload, "seed": args.seed, "repeat_exactly": same,
                          "differ": differ, "idle": idle, "notes": [a["notes"], b["notes"]]}))
    else:
        plain = bench(args.workload, args.seed, secs, 0)
        traced = bench(args.workload, args.seed, secs, 1)
        overhead = {}
        for m in spec["end_to_end"]:
            u = plain["metrics"][m["name"]]["value"]
            t = traced["end_to_end"][m["name"]]
            overhead[m["name"]] = {"untraced": u, "traced": t,
                                   "traced_over_untraced_minus_1": t / u - 1 if u else None}
        print(json.dumps({"workload": args.workload, "seed": args.seed, "overhead": overhead}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
