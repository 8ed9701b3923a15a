#!/usr/bin/env python3
"""Per-layer metrics from a traced run, and a layer-by-layer diff of two.

`derive(...)` turns the spans and counters a traced benchmark process wrote
into per-operation layer metrics and span self times. A span's parent is
the smallest span of the same operation that encloses it and sits at the
same or a shallower kind (op > HiveQl.sql call > planning phase > job >
stage); its self time is its duration minus the part its children cover.

Diff two traced runs (files written by `run.py --trace 1`, or a baseline
file holding several workloads):

    python3 perfbench/layers.py diff A.json B.json
"""
import json
import sys

RANK = {"op": 0, "hiveql": 1, "phase": 2, "job": 3, "stage": 4}
TOL_MS = 2.0

# counters summed over the timed operations and reported per operation
PER_OP = [
    "catalog.events",
    "plans.codegen_compiles", "plans.codegen_compile_ms", "plans.aqe_replans",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_ms", "exec.task_cpu_ms",
    "exec.gc_ms", "exec.sched_delay_ms", "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes", "exec.spill_bytes", "exec.failed_tasks",
    "Staging.write_bytes",
] + [f"sources.{f}.{m}" for f in ("text", "seq", "rc")
     for m in ("read_bytes", "read_records", "write_bytes", "write_records", "files_written")]

# self time per span kind, reported per operation
SELF = {"op": "op.self_ms", "hiveql": "HiveQl.self_ms", "phase": "plans.self_ms",
        "job": "exec.job_self_ms", "stage": "exec.stage_self_ms"}


def _union(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _contains(p, s):
    return p["start"] - TOL_MS <= s["start"] and s["end"] <= p["end"] + TOL_MS


def link(spans):
    """Assign `id`, `parent` and `self_ms` to every span, in place."""
    by_op = {}
    for i, s in enumerate(spans):
        s["id"] = i
        s["parent"] = None
        by_op.setdefault(s["op"], []).append(s)
    for group in by_op.values():
        for s in group:
            if s["kind"] == "op":
                continue
            best = None
            for p in group:
                if p is s or RANK[p["kind"]] > RANK[s["kind"]] or not _contains(p, s):
                    continue
                if s["kind"] == "stage" and p["kind"] not in ("job", "op"):
                    continue
                dp, ds = p["end"] - p["start"], s["end"] - s["start"]
                if RANK[p["kind"]] == RANK[s["kind"]] and (dp <= ds or s["kind"] != "phase"):
                    continue
                if best is None or dp < best["end"] - best["start"] or (
                        dp == best["end"] - best["start"] and RANK[p["kind"]] > RANK[best["kind"]]):
                    best = p
            s["parent"] = best["id"] if best else None
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    for s in spans:
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in children.get(s["id"], [])]
        s["self_ms"] = (s["end"] - s["start"]) - _union([k for k in kids if k[1] > k[0]])
    return spans


def derive(spans, counters, summary, timed_ops, cores):
    """Per-layer metrics of one traced run, per timed operation."""
    link(spans)
    ops = set(timed_ops)
    n = max(1, len(ops))
    tot = {m: 0.0 for m in PER_OP + ["exec.empty_tasks"]}
    for op in ops:
        for m, v in counters.get(op, {}).items():
            if m in tot:
                tot[m] += v
    out = {m: tot[m] / n for m in PER_OP}
    selfs = {name: 0.0 for name in SELF.values()}
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    busy = gap = 0.0
    for op in ops:
        mine = [s for s in spans if s["op"] == op]
        for s in mine:
            selfs[SELF[s["kind"]]] += s["self_ms"]
            if s["kind"] == "phase" and s["name"] in phases:
                phases[s["name"]] += s["end"] - s["start"]
        op_span = next(s for s in mine if s["kind"] == "op")
        b = _union([(max(s["start"], op_span["start"]), min(s["end"], op_span["end"]))
                    for s in mine if s["kind"] == "job" and s["end"] > s["start"]])
        busy += b
        gap += (op_span["end"] - op_span["start"]) - b
    out.update({k: v / n for k, v in selfs.items()})
    out.update({f"plans.{k}_ms": v / n for k, v in phases.items()})
    out["exec.busy_ms"] = busy / n
    out["driver.gap_ms"] = gap / n
    out["exec.cpu_util"] = tot["exec.task_cpu_ms"] / (busy * cores) if busy else 0.0
    out["exec.empty_task_frac"] = (tot["exec.empty_tasks"] / tot["exec.tasks"]
                                   if tot["exec.tasks"] else 0.0)
    last = max(ops, key=lambda o: int(o[1:])) if ops else None
    out["Dedup.store_files"] = counters.get(last, {}).get("Dedup.store_files", 0.0)
    out["Sessions.build_ms"] = summary["build_ms"]
    out["Sessions.clone_ms"] = summary["clone_ms"]
    out["jvm.heap_after_gc_mb"] = summary["heap_after_gc_mb"]
    return out


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("ops_per_s"):
        return "1/s"
    if name.endswith(("_util", "_frac")):
        return "ratio"
    return "count"


def _load(path):
    with open(path) as f:
        return json.load(f)["workloads"]


def diff(a_path, b_path):
    a, b = _load(a_path), _load(b_path)
    for w in sorted(set(a) & set(b)):
        print(f"== {w}")
        for part in ("end_to_end", "per_layer"):
            ma, mb = a[w].get(part, {}), b[w].get(part, {})
            for m in sorted(set(ma) & set(mb)):
                va, vb = ma[m], mb[m]
                rel = f"{(vb - va) / va * 100:+8.1f}%" if va else "        "
                print(f"  {m:34s} {va:14.4f} {vb:14.4f} {vb - va:+14.4f} {rel}")
    only = sorted(set(a) ^ set(b))
    if only:
        print("workloads in one file only:", ", ".join(only))


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] != "diff":
        sys.exit(__doc__)
    diff(sys.argv[2], sys.argv[3])
