#!/usr/bin/env python3
"""Record a perfbench baseline: several seeds per workload, untraced and traced.

    python3 perfbench/baseline.py --seeds 10 --trace-seeds 3 --out perfbench/baseline.json

For every workload and seed it runs `run.py` untraced, and for the first
--trace-seeds seeds also traced. It writes, per workload:
  - each end-to-end metric's values, median, quartiles and spread
    ((q3 - q1) / median, the quartiles of statistics.quantiles(n=4));
  - the traced runs' per-layer medians and each span's median share of the
    measured wall time (from the trace files the traced runs leave in the
    build directory);
  - the tracing overhead: traced / untraced median of each end-to-end
    metric on the traced seeds, minus 1.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run as bench  # noqa: E402


def one(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise SystemExit("%s seed %d trace %d failed:\n%s" % (workload, seed, trace, out.stderr[-3000:]))
    lines = out.stdout.strip().splitlines()
    printed = {}
    for line in lines:
        m = re.match(r"metric\s+(\S+)\s+(\S+)\s+(\S+)$", line)
        if m:
            printed[m.group(1)] = float(m.group(2))
    res = json.loads(lines[-1])
    print("%-20s seed %3d trace %d  %5.1f s  correct=%s failed=%d" % (
        workload, seed, trace, time.time() - t0, res["correct"], res["failed"]), flush=True)
    return res, printed


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-seeds", type=int, default=3)
    ap.add_argument("--workloads", default=",".join(bench.WORKLOADS))
    ap.add_argument("--seconds", type=float,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    ap.add_argument("--out", required=True)
    a = ap.parse_args()

    seeds = list(range(a.first_seed, a.first_seed + a.seeds))
    traces = os.path.join(bench.build_dir(), "work", "traces")
    report = {"cores": bench.cores(), "run_seconds": a.seconds, "seeds": seeds, "workloads": {}}
    for w in a.workloads.split(","):
        plain = [one(w, s, a.seconds, 0) for s in seeds]
        traced = [one(w, s, a.seconds, 1) for s in seeds[:a.trace_seeds]]
        names = list(plain[0][0]["metrics"])
        entry = {
            "correct": all(r["correct"] for r, _ in plain + traced),
            "failed": sum(r["failed"] for r, _ in plain + traced),
            "attempted": sum(r["attempted"] for r, _ in plain + traced),
            "end_to_end": {n: summary([r["metrics"][n]["value"] for r, _ in plain]) for n in names},
        }
        if traced:
            layer = list(traced[0][0]["metrics"])
            entry["per_layer"] = {n: statistics.median(r["metrics"][n]["value"] for r, _ in traced)
                                  for n in layer}
            shares = {}
            for s in seeds[:a.trace_seeds]:
                spans = json.load(open(os.path.join(traces, "%s-s%d.json" % (w, s))))["spans"]
                for span, c in spans.items():
                    if "wall_share" in c:
                        shares.setdefault(span, []).append(c["wall_share"])
            entry["span_share"] = {k: statistics.median(v) for k, v in sorted(shares.items())}
            entry["tracing_overhead"] = {
                n: statistics.median(p[n] for _, p in traced) /
                statistics.median(r["metrics"][n]["value"] for r, _ in plain[:a.trace_seeds]) - 1
                for n in names}
        report["workloads"][w] = entry
        for n, s in entry["end_to_end"].items():
            print("  %-20s median %12.4f  spread %.4f" % (n, s["median"], s["spread"] or 0))
    with open(a.out, "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
