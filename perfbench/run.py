#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload replay-hot --seed 1 --seconds 10 --trace 0

Run from the repository root.  Starts one Spark session at local[nproc],
sets the workload up from the seed, measures for ``--seconds``, checks
every output against its oracle, and prints one JSON line last:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (the traced run also writes its spans and series to
``.perfbench_work/traces/``).  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import harness as H  # noqa: E402


def _workload(name: str):
    if name == "replay-hot":
        import replay

        return replay.run
    if name == "tail-serve":
        import tail

        return tail.run
    if name == "cbio-export":
        import export

        return export.run
    raise KeyError(name)


def end_to_end(out: H.Outcome, setup_s: float, rss_mb: float) -> tuple[dict, dict]:
    """Metric values plus the percentile and sample count behind each."""
    lat = [vis - due for due, vis, _ in out.visible]
    vis_hi, vis_pct, vis_n = H.hi_percentile(lat)
    lk_hi, lk_pct, lk_n = H.hi_percentile(out.lookup_ms)
    values = {
        "setup_s": setup_s,
        "events_per_s": H.median(out.events_per_s),
        "visible_p50_s": H.median(lat),
        "visible_hi_s": vis_hi,
        "backlog_events": H.time_averaged_backlog(out.visible, out.window),
        "lookup_p50_ms": H.median(out.lookup_ms),
        "lookup_hi_ms": lk_hi,
        "export_pass_s": H.median(out.export_pass_s),
        "peak_rss_mb": rss_mb,
    }
    basis = {
        "visible": f"p50 and p{vis_pct} of n={vis_n}",
        "lookup": f"p50 and p{lk_pct} of n={lk_n}",
        "events_per_s": f"median of n={len(out.events_per_s)}",
        "export_pass_s": f"median of n={len(out.export_pass_s)}",
    }
    return values, basis


def main() -> int:
    t_proc = time.time() - H.process_age_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        print(f"no BENCHMARK.json in {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    try:
        import cdm_cbioportal_etl_spark  # noqa: F401
    except ImportError as e:
        print(f"program package not found under {ROOT}: {e}", file=sys.stderr)
        return 2

    traced = bool(args.trace)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work_dir)
    tracer = H.Tracer(traced)
    spark = None
    try:
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = H.start_spark(work_dir, traced)
        session_s = time.perf_counter() - t0
        ctx = H.Ctx(spark, tracer, H.SparkCounters(spark, traced), args.seed,
                    args.seconds, work_dir, traced)
        out = _workload(args.workload)(ctx)
        values, basis = end_to_end(out, out.window[0] - t_proc, H.jvm_peak_rss_mb(spark))
        layer = {"session.start_s": session_s, **out.layer}
        for lname, secs in tracer.self_time_by_layer(out.clock_start, out.clock_end).items():
            layer[f"{lname}.self_s"] = secs
        if traced:
            tracer.dump(
                os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "end_to_end": values,
                 "per_layer": layer, "series": out.series, "notes": out.notes},
            )
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            H.stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)

    rate = out.failed / out.attempted if out.attempted else 1.0
    print(f"# {args.workload} seed={args.seed} attempted={out.attempted} "
          f"failed={out.failed} error_rate={rate:.6g} {json.dumps(out.notes)}")
    print(f"# basis {json.dumps(basis)}")
    for m in spec["end_to_end"]:
        print(f"# {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    chosen = spec["per_layer"] if traced else spec["end_to_end"]
    source = layer if traced else values
    metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in chosen
    }
    print(json.dumps({
        "correct": out.attempted > 0 and out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
