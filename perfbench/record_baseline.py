#!/usr/bin/env python3
"""Record a baseline: for each workload, untraced runs on seeds 1..N, each
of the first three of them followed at once by a traced run of the same
seed; write medians, quartile spreads (IQR / median), the traced layer
split of seed 1 and the median tracing overhead of the three pairs. An
existing output file keeps the entries of workloads not re-recorded.

    python3 perfbench/record_baseline.py [--runs 10] [--workloads a,b] [--out FILE]

The run length is BENCHMARK.json's `run_seconds`.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PAIRS = 3


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n{p.stderr[-3000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    ap.add_argument("--workloads", help="comma-separated; default: BENCHMARK.json's")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    cpu = next((l.split(":", 1)[1].strip() for l in open("/proc/cpuinfo")
                if l.startswith("model name")), platform.processor())
    out = {"machine": {"cpus": os.cpu_count(), "cpu": cpu},
           "run_seconds": seconds, "seeds": list(range(1, args.runs + 1)), "workloads": {}}
    names = (args.workloads.split(",") if args.workloads
             else [x["name"] for x in bench["workloads"]])
    if os.path.exists(args.out):
        # re-recording some workloads keeps the others' entries
        with open(args.out) as f:
            old = json.load(f)
        if old.get("run_seconds") == seconds:
            out["workloads"] = {w: v for w, v in old["workloads"].items() if w not in names}
    for w in names:
        runs, traced = [], []
        for seed in out["seeds"]:
            info, res = run(w, seed, seconds, 0)
            runs.append({"seed": seed, "correct": res["correct"], "attempted": res["attempted"],
                         "failed": res["failed"], "timed_ops": info["timed_ops"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(w, seed, runs[-1], flush=True)
            if seed <= PAIRS:
                # right after the untraced run, so host drift stays out of the overhead
                traced.append(run(w, seed, seconds, 1))
                print(w, seed, "traced", traced[-1][0].get("trace_overhead_frac"), flush=True)
        info, res = traced[0]
        overheads = [i["trace_overhead_frac"] for i, _ in traced]
        e2e, spread = {}, {}
        for m in runs[0]["metrics"]:
            xs = [r["metrics"][m] for r in runs]
            med = statistics.median(xs)
            q = statistics.quantiles(xs, n=4)
            e2e[m] = med
            spread[m] = (q[2] - q[0]) / med if med else 0.0
        out["workloads"][w] = {
            "inputs": info["inputs"], "end_to_end": e2e, "spread": spread,
            "per_layer": {k: v["value"] for k, v in res["metrics"].items()},
            "trace_overhead_frac": statistics.median(overheads),
            "trace_overhead_by_seed": overheads,
            "all_correct": all(r["correct"] for r in runs) and all(r["correct"] for _, r in traced),
            "runs": runs}
        print(w, json.dumps(spread), flush=True)
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
