#!/usr/bin/env python3
"""Workload benchmark for the graft Spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload tabular_flow --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (sbt, offline),
generates the seed's inputs, runs one closed-loop invocation of the workload
in one Spark session, checks the outputs, prints a report and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Everything it writes goes under `.bench_build/` in the repository root.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170.0

WORKLOADS = ["tabular_flow", "corpus_dedup_search"]

LAYERS = [
    "clean", "encode", "na", "transform", "model", "viz", "rel", "stream",
    "llm.Dedup", "llm.DupClusters", "llm.Bm25", "llm.RetrievalEval",
    "llm.BruteForce", "llm.AnnBuckets", "sink",
]
LAYER_METRICS = {
    "self_s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "exec_cpu_s": "s", "input_mb": "MB", "shuffle_write_mb": "MB", "output_mb": "MB",
}
END_TO_END = {"setup_s": "s", "run_s": "s", "prep_s": "s", "query_s": "s", "peak_rss_mb": "MB"}
# JVM options Spark needs on JDK 17 outside spark-submit, as in build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def per_layer_names():
    names = [f"{layer}.{m}" for layer in LAYERS for m in LAYER_METRICS]
    return names + ["unattributed.jobs", "trace.overhead_s"]


def percentile(values, p):
    """Linear-interpolated percentile (p in [0, 1]) of a non-empty list."""
    xs = sorted(values)
    k = (len(xs) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def supported(n, p):
    """A percentile is reported only with at least ten samples beyond it."""
    return n - math.ceil(round(n * p, 9)) >= 10


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------- build

def _sources_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for base, subdirs, names in os.walk(d):
            subdirs.sort()
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and harness once per source state; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    stamp = _sources_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}",
        "-Dsbt.offline=true", "-Xmx2g",
        f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
    ])
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=fh, stderr=subprocess.STDOUT, timeout=840)
    with open(log) as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    if proc.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    classpath = lines[-1]
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


# ---------------------------------------------------------------- run

def data_dir(seed, scale):
    with open(datagen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    d = os.path.join(BUILD, "data", f"seed{seed}-x{scale:g}-{version}")
    if not os.path.exists(os.path.join(d, "_done")):
        shutil.rmtree(d, ignore_errors=True)
        datagen.generate(d, seed, scale)
        open(os.path.join(d, "_done"), "w").close()
    return d


def run_harness(classpath, args, data, out, budget_s):
    # a fixed 3 GB heap keeps peak RSS from depending on when the heap grew
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", out,
            "--docs", str(datagen.rows("documents", args.scale))]
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    log = os.path.join(out, "harness.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {budget_s:.0f} s, see {log}")
    if proc.returncode != 0 or not os.path.exists(os.path.join(out, "result.json")):
        with open(log) as fh:
            tail = fh.read()[-2000:]
        fail(f"harness exited with {proc.returncode}, see {log}\n{tail}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def phase_times(res, cls):
    """Per measured untraced iteration: total seconds of `cls` calls."""
    per = {}
    for s in res["samples"]:
        if s["class"] == cls and not s["traced"]:
            per[s["iter"]] = per.get(s["iter"], 0.0) + s["s"]
    return list(per.values())


def metrics_from(res, trace):
    untraced = [it["wall_s"] for it in res["iterations"] if not it["traced"]]
    if not trace:
        vals = {
            "setup_s": res["setup_s"],
            "run_s": statistics.median(untraced),
            "prep_s": statistics.median(phase_times(res, "prep")),
            "query_s": statistics.median(phase_times(res, "query")),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}
    traced = [it["wall_s"] for it in res["iterations"] if it["traced"]]
    out = {}
    for layer in LAYERS:
        for m, unit in LAYER_METRICS.items():
            v = statistics.median([row.get(layer, {}).get(m, 0.0) for row in res["layers"]])
            out[f"{layer}.{m}"] = {"value": v, "unit": unit}
    out["unattributed.jobs"] = {"value": statistics.median(res["unattributed_jobs"]), "unit": "count"}
    out["trace.overhead_s"] = {
        "value": statistics.median(traced) - statistics.median(untraced), "unit": "s"}
    return out


def report(res, metrics, checks_failed, args):
    """Human-readable lines: context, per-call latencies with sample counts,
    the checks, and every metric by name and unit."""
    say = print
    say(f"workload {res['workload']} seed {res['seed']}: closed loop, 1 client, "
        f"local[{res['cores']}], {args.seconds:g} s measured, scale {args.scale:g}")
    say(f"loadavg start {res['loadavg']['start']} | end {res['loadavg']['end']}")
    untraced = [it for it in res["iterations"] if not it["traced"]]
    say(f"iterations {len(untraced)} untraced, {len(res['iterations']) - len(untraced)} traced")
    by_class = {}
    for s in res["samples"]:
        if not s["traced"]:
            by_class.setdefault(s["class"], []).append(s["s"])
    label = {"prep": "pipeline" if res["workload"] == "tabular_flow" else "prep_call"}
    for cls, xs in sorted(by_class.items()):
        name = label.get(cls, cls if cls != "query" else "query_call")
        p90 = f"{percentile(xs, 0.9):.4f} s" if supported(len(xs), 0.9) else f"n/a (n={len(xs)} < 100)"
        say(f"  {name}_p50_s = {statistics.median(xs):.4f} s, {name}_p90_s = {p90} (n={len(xs)})")
    failed = res["failed"] + len(checks_failed)
    say(f"  op_error_ratio = {failed}/{res['attempted']} = {failed / max(1, res['attempted']):.4f} "
        f"(digest checks {res['attempted'] - len(res['checks'])}, independent checks {len(res['checks'])})")
    if res["unattributed_jobs"]:
        say(f"  unattributed.jobs per traced iteration = {res['unattributed_jobs']}")
    for e in res["errors"] + checks_failed:
        say(f"  ERROR {e}")
    for k, v in metrics.items():
        say(f"metric {k} = {v['value']:.6g} {v['unit']}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use 0.1)")
    args = ap.parse_args(argv)

    classpath = build()  # the first run in a checkout may take minutes here
    started = time.monotonic()
    data = data_dir(args.seed, args.scale)
    out = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    budget = max(30.0, DEADLINE_S - (time.monotonic() - started) - 10.0)
    res = run_harness(classpath, args, data, out, budget)

    n_checks, check_failures = oracle.run_checks(res["checks"], data)
    res["attempted"] += n_checks
    metrics = metrics_from(res, args.trace == 1)
    with open(os.path.join(out, "spans.json"), "w") as fh:
        json.dump(res["spans"], fh)
    report(res, metrics, check_failures, args)
    failed = res["failed"] + len(check_failures)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
