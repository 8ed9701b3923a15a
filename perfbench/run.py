#!/usr/bin/env python3
"""graft benchmark: one seeded workload, closed loop, single client.

    python3 perfbench/run.py --workload etl_session --seed 1 --seconds 20 --trace 0

Builds graft and the workload drivers from source (sbt, into
perfbench/target; rebuilt when any source changes), generates the
workload's inputs from the seed, runs one JVM against local[nproc] for a
warm-up pass and then `--seconds` of timed operations, checks every output
with DuckDB, and prints one JSON object as the last line of stdout.
`--trace 0` reports the end-to-end metrics; `--trace 1` attaches the
tracer and reports the per-layer metrics, writing spans and the layer
split under perfbench/work/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    files = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile with sbt when the sources changed; return the classpath and
    the source stamp it was built from."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(WORK, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            cached = json.load(f)
        if cached["stamp"] == stamp:
            return cached["classpath"], stamp
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    log_path = os.path.join(WORK, "build.log")
    with open(log_path, "w") as log:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=840, stdin=subprocess.DEVNULL)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip(), stamp


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def run_jvm(classpath, workload, run_dir, seconds, trace):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # fixed, pre-touched heap: an elastic one made peak RSS swing by 25%
    # between otherwise alike runs (rss_peak_mb takes the fixed heap out
    # again); no hsperfdata file outside the checkout
    cmd = [java(), "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for o in JVM_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--workload", workload,
            "--work", run_dir, "--seconds", str(seconds), "--trace", str(trace)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("interrupted")
        signal.signal(signal.SIGTERM, stop)
        signal.signal(signal.SIGINT, stop)
        try:
            rc = p.wait(timeout=seconds + 140)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        signal.signal(signal.SIGTERM, signal.SIG_DFL)
        signal.signal(signal.SIGINT, signal.SIG_DFL)
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.readlines()[-30:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark process for {workload} exited with {rc}")


def percentile(xs, q):
    xs = sorted(xs)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft sources not found under {ROOT}/src/main/scala", 2)
    import workloads
    if args.workload not in workloads.WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {sorted(workloads.WORKLOADS)}", 2)
    generate, check = workloads.WORKLOADS[args.workload]
    classpath, stamp = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    t_start = time.time()
    described = generate(args.seed, inputs, args.seconds)
    t_gen = time.time()
    run_jvm(classpath, args.workload, run_dir, args.seconds, args.trace)
    t_jvm = time.time()

    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "summary.json")) as f:
        summary = json.load(f)
    with open(os.path.join(out, "ops.jsonl")) as f:
        ops = [json.loads(l) for l in f if l.strip()]
    bad = check(inputs, out, ops)
    wall = {"generate_s": t_gen - t_start, "jvm_s": t_jvm - t_gen, "check_s": time.time() - t_jvm}
    timed = [o for o in ops if o["timed"]]
    lat = [o["end"] - o["start"] for o in timed]
    attempted = len(ops)
    failed = len(bad)
    if not timed:
        fail("no operation completed inside the timed region")
    ops_per_s = len(timed) / ((summary["last_op"] - summary["first_op"]) / 1000.0)
    e2e = {
        "setup_s": (summary["first_op"] / 1000.0 - t_start, "s"),
        "ops_per_s": (ops_per_s, "1/s"),
        "latency_p50_ms": (statistics.median(lat), "ms"),
        "latency_p90_ms": (percentile(lat, 0.9), "ms"),
        "ops_ok_frac": (1.0 - failed / attempted, "ratio"),
        # peak RSS with the fixed heap replaced by the live heap: what the
        # process holds outside the heap, plus what graft keeps alive in it
        "rss_peak_mb": (summary["vm_hwm_mb"] - summary["heap_committed_mb"]
                        + summary["heap_after_gc_mb"], "MB"),
    }
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    key = f"{args.workload}-s{args.seed}"
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "stamp": stamp, "timed_ops": len(timed), "inputs": described,
              "failed_ops": bad, "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    if args.trace:
        import layers
        spans = [json.loads(l) for l in open(os.path.join(out, "spans.jsonl")) if l.strip()]
        with open(os.path.join(out, "counters.json")) as f:
            counters = json.load(f)
        per_layer = layers.derive(spans, counters, summary, [o["id"] for o in timed],
                                  os.cpu_count() or 1)
        per_layer["trace.ops_per_s"] = ops_per_s
        record["per_layer"] = per_layer
        # overhead against the untraced run of the same seed, length and build
        untraced = os.path.join(results_dir, f"{key}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)
            if base.get("stamp") == stamp and base["seconds"] == args.seconds:
                record["trace_overhead_frac"] = \
                    1.0 - ops_per_s / base["end_to_end"]["ops_per_s"]
        trace_dir = os.path.join(WORK, "traces", key)
        shutil.rmtree(trace_dir, ignore_errors=True)
        os.makedirs(trace_dir)
        with open(os.path.join(trace_dir, "spans.jsonl"), "w") as f:
            f.writelines(json.dumps(s) + "\n" for s in spans)
        with open(os.path.join(trace_dir, "layers.json"), "w") as f:
            json.dump({"workloads": {args.workload: record}}, f, indent=1)
        metrics = {k: {"value": v, "unit": layers.unit(k)} for k, v in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(results_dir, f"{key}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"inputs": described, "timed_ops": len(timed), "failed_ops": bad[:20],
                      "wall": wall,
                      **({"trace_overhead_frac": record["trace_overhead_frac"]}
                         if "trace_overhead_frac" in record else {})}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
