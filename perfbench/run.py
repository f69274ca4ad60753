#!/usr/bin/env python3
"""Benchmark runner: builds the program and the harness from this
checkout's sources, generates the input tables, runs one workload in a
fresh JVM, checks every result and prints the metrics.

    python3 perfbench/run.py --workload analytic_warm --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are BENCHMARK.json's end-to-end metrics, with
--trace 1 its per-layer metrics. The lines before it are the full report
(every metric with its unit and sample count, and provenance). Build
output, generated data and per-run scratch space live in .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = {"analytic_warm": "sf0.01", "rotation_cold": "sf0.001", "commit_churn": "sf0.001"}
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src"]
HEAP = "3g"
SETUPS = 3  # set-ups per run; setup_s is their median
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def benchmark_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_digest():
    """sha256 over every source and build file the benchmark compiles."""
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    """Compile program + harness with sbt once per source digest; return
    the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath." + digest[:16])
    if os.path.exists(stamp):
        with open(stamp) as f:
            return f.read().strip()
    log("building the program and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    env["SBT_OPTS"] = (opts + " -Dsbt.override.build.repos=true -Dsbt.offline=true").strip()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=600)
    lines = [l for l in res.stdout.splitlines() if "perfbench" in l and ".jar" in l]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def ensure_data(sf):
    out = os.path.join(BUILD, "data", sf)
    if not os.path.isdir(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), out, sf[2:]], check=True)
    return os.path.dirname(out)


def load_goldens():
    with open(os.path.join(HERE, "goldens.json")) as f:
        return json.load(f)


def run_harness(cp, workload, seed, seconds, trace, eligible, setups):
    """One harness JVM in a fresh scratch directory (warehouse, Spark
    local dirs, temp files), deleted afterwards."""
    run_dir = os.path.join(BUILD, "runs", uuid.uuid4().hex)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "local"))
    try:
        names = os.path.join(run_dir, "eligible.txt")
        with open(names, "w") as f:
            f.write("\n".join(sorted(eligible)) + "\n")
        out = os.path.join(run_dir, "raw.json")
        cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
               "-Dspark.ui.enabled=false"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload,
                "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
                "--data", ensure_data(WORKLOADS.get(workload, workload.split(":")[-1])),
                "--work", run_dir, "--out", out, "--cpus", str(os.cpu_count()),
                "--setups", str(setups), "--eligible", names]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
        res = subprocess.run(cmd, env=env, cwd=run_dir, stdout=subprocess.PIPE,
                             stderr=subprocess.PIPE, text=True, timeout=170)
        if res.returncode != 0 or not os.path.exists(out):
            sys.stderr.write(res.stderr[-4000:])
            fail(f"harness exited with {res.returncode}")
        for line in res.stderr.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True).stdout.strip() or None
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", metavar="SF",
                    help="run every query named in --passed once at SF and store its result")
    ap.add_argument("--passed", metavar="FILE",
                    help="queries that passed graft.Verify + tools/check.py at SF, one a line")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail("no program sources here: run from the root of a checkout")
    config = benchmark_config()
    if args.seconds is None:
        args.seconds = config["run_seconds"]
    digest = source_digest()
    cp = build(digest)
    if args.record_goldens:
        record_goldens(cp, args.record_goldens, args.passed)
        return
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}")
    sf = WORKLOADS[args.workload]
    goldens = load_goldens()[sf]
    raw = run_harness(cp, args.workload, args.seed, args.seconds, args.trace,
                      goldens.keys(), SETUPS)
    e2e, failures = metrics.end_to_end(raw, goldens)
    for kind, name, why in failures:
        log(f"FAILED {kind} {name}: {why}")

    prov = dict(raw["provenance"], git_commit=git_commit(), source_sha256=digest,
                sf_dir=sf,
                seconds=args.seconds, trace=args.trace, loop_s=raw["window_s"])
    print("provenance " + json.dumps(prov, sort_keys=True))
    for name, (value, unit, n) in sorted(e2e.items()):
        print(f"e2e {args.workload} {name} {value:.6g} {unit} n={n}")
    ops = raw["ops"]
    result_metrics = {}
    if args.trace:
        layers, recon = metrics.per_layer(raw)
        for name, value in sorted(layers.items()):
            print(f"layer {args.workload} {name} {value:.6g}")
        print(f"trace {args.workload} self_time_max_gap {recon['max_gap']:.4f} ops={recon['ops']}")
        if recon["max_gap"] > 0.10:
            log("self times of some op do not sum to its wall within 10%: the trace is inconsistent")
        for p, row in sorted(recon["passes"].items()):
            print(f"trace {args.workload} pass {p} ops={row['ops']} jobs={row['jobs']} "
                  f"compiles={row['compiles']}")
        for layer, ms in sorted(recon["self_ms"].items()):
            print(f"trace {args.workload} self_ms {layer} {ms:.6g}")
        with open(os.path.join(BUILD, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"provenance": prov, "ops": ops, "spans": raw["spans"],
                       "sched": raw["sched"], "self_ms": recon["self_ms"]}, f)
        overhead = trace_overhead(args.workload, e2e["cpu_ms_per_op"][0])
        if overhead is not None:
            print(f"trace {args.workload} trace.overhead_frac {overhead:.4f}")
        wanted = config["per_layer"]
        source = layers
    else:
        remember_untraced(args.workload, e2e["cpu_ms_per_op"][0])
        wanted = config["end_to_end"]
        source = {k: v[0] for k, v in e2e.items()}
    for m in wanted:
        if m["name"] not in source:
            fail(f"metric {m['name']} was not measured")
        result_metrics[m["name"]] = {"value": source[m["name"]], "unit": m["unit"]}
    print(json.dumps({"correct": not failures, "attempted": len(ops),
                      "failed": len(failures), "metrics": result_metrics}))


def record_goldens(cp, sf, passed):
    with open(passed) as f:
        names = {l.strip() for l in f if l.strip()}
    raw = run_harness(cp, f"goldens:{sf}", 0, 0, 0, names, 1)
    path = os.path.join(HERE, "goldens.json")
    try:
        with open(path) as f:
            goldens = json.load(f)
    except OSError:
        goldens = {}
    goldens[sf] = {o["name"]: [o["rows"], o["hash"]] for o in raw["ops"] if not o["err"]}
    for o in raw["ops"]:
        if o["err"]:
            log(f"no golden for {o['name']}: {o['err']}")
    with open(path, "w") as f:
        json.dump(goldens, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"{len(goldens[sf])} goldens at {sf}")


def remember_untraced(workload, cpu_ms_per_op):
    path = os.path.join(BUILD, f"untraced-{workload}.json")
    try:
        with open(path) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        seen = []
    with open(path, "w") as f:
        json.dump((seen + [cpu_ms_per_op])[-10:], f)


def trace_overhead(workload, traced_cpu_ms_per_op):
    """Traced CPU per op over the median untraced CPU per op seen in this
    checkout, minus one; None before any untraced run."""
    try:
        with open(os.path.join(BUILD, f"untraced-{workload}.json")) as f:
            seen = json.load(f)
    except (OSError, ValueError):
        return None
    return traced_cpu_ms_per_op / statistics.median(seen) - 1 if seen else None


if __name__ == "__main__":
    main()
