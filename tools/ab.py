#!/usr/bin/env python3
"""A/B one benchmark workload between two checkouts, in alternating pairs.

Usage: python3 tools/ab.py --parent DIR --change DIR --workload W --seeds A-B
                           --out FILE [--seconds S]

For each seed in A..B it runs the benchmark command that BENCHMARK.json
declares (`python3 perfbench/run.py`, untraced) once in each checkout, the
two runs of a pair back to back, the order alternating from pair to pair
so neither side always runs on the warmer machine. Every run's result line
is appended to --out as one JSON object with its side and seed.

Then, per end-to-end metric of BENCHMARK.json, it prints the parent's
median and quartiles, the change's median and how many pairs the change
won, and a verdict, using the metric's `better` and `bound`:

  gain                 the change won at least 9 of 10 pairs and the two
                       medians differ, in its favour, by more than the
                       parent's interquartile range;
  unresolved           the parent's own spread (IQR / median) is wider
                       than the bound, so a move within it cannot be told
                       from noise (unless every change run reads better
                       than every parent run);
  worse than bound     the change's median is worse than the parent's by
                       more than the bound (a fraction of the parent's);
  within bound         otherwise.

A tie in a pair is not a win. Exits 1 as soon as a run fails or reports
outputs that are not correct, 2 on bad arguments. Reads BENCHMARK.json
from the checkout this script lives in; writes nothing under perfbench/.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec):
    a, _, b = spec.partition("-")
    lo, hi = int(a), int(b or a)
    if hi < lo:
        raise argparse.ArgumentTypeError(f"empty seed range {spec}")
    return list(range(lo, hi + 1))


def run_once(bench, checkout, workload, seed, seconds):
    """One untraced run in `checkout`; returns its result object."""
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    if p.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.exit(f"ab: run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return result


def quartiles(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(metric, parent, change):
    """The verdict line's fields for one metric over paired runs."""
    lower = metric["better"] == "lower"
    q1, mp, q3 = quartiles(parent)
    mc = statistics.median(change)
    wins = sum((c < p) if lower else (c > p) for p, c in zip(parent, change))
    iqr = q3 - q1
    gain = (mp - mc) if lower else (mc - mp)
    scale = abs(mp) or 1.0  # a parent median of 0 makes the bound absolute
    if wins >= 0.9 * len(parent) and gain > iqr:
        v = "gain"
    elif iqr / scale > metric["bound"] and not (
            max(change) < min(parent) if lower else min(change) > max(parent)):
        v = "unresolved"
    elif -gain / scale > metric["bound"]:
        v = "worse than bound"
    else:
        v = "within bound"
    return q1, mp, q3, mc, wins, v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, type=seeds, help="A-B, inclusive")
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json run_seconds")
    ap.add_argument("--out", required=True, help="JSON lines file, appended to")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        ap.error(f"unknown workload {args.workload}")
    seconds = args.seconds or bench["run_seconds"]
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = {"parent": [], "change": []}
    with open(args.out, "a") as out:
        for i, seed in enumerate(args.seeds):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                r = run_once(bench, sides[side], args.workload, seed, seconds)
                out.write(json.dumps({"side": side, "workload": args.workload,
                                      "seed": seed, **r}) + "\n")
                out.flush()
                if not r.get("correct"):
                    sys.exit(f"ab: {side} run of seed {seed} reported incorrect outputs")
                runs[side].append(r["metrics"])
                print(f"seed {seed} {side}: " + " ".join(
                    f"{m['name']}={r['metrics'][m['name']]['value']:.4g}"
                    for m in bench["end_to_end"] if m["name"] in r["metrics"]),
                    flush=True)
    print(f"\n{args.workload}, {len(args.seeds)} pairs, {seconds} s runs")
    print(f"{'metric':<16} {'parent q1':>10} {'median':>10} {'q3':>10} "
          f"{'change med':>11} {'wins':>6}  verdict")
    for m in bench["end_to_end"]:
        name = m["name"]
        p = [r[name]["value"] for r in runs["parent"] if name in r]
        c = [r[name]["value"] for r in runs["change"] if name in r]
        if len(p) != len(c) or len(p) < 2:
            print(f"{name:<16} (not reported by every run)")
            continue
        q1, mp, q3, mc, wins, v = verdict(m, p, c)
        print(f"{name:<16} {q1:>10.4g} {mp:>10.4g} {q3:>10.4g} {mc:>11.4g} "
              f"{wins:>3}/{len(p):<2}  {v}")


if __name__ == "__main__":
    main()
