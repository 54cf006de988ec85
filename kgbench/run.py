#!/usr/bin/env python3
"""KG-build benchmark for graft.

Runs graft's production build entry point, Checkpointed.runAll, on
generated inputs and prints one JSON report as the last line of stdout:

    python3 kgbench/run.py --workload build-web --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. The first run compiles graft's sources
together with the benchmark's code (sbt, into kgbench/target); later runs
reuse the classes while no source has changed. Each timed build runs in a
fresh JVM, as a spark-submit of graft.Main would. With --trace 1 the JVM
then also times a warm untraced build and runs the same build one layer
at a time, and the report holds the per-layer metrics. See
kgbench/README.md for the workloads and metrics.
"""

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "kgbench.stamp")
JVM_TIMEOUT_S = 170
# The trace's layers must tile the traced build's wall within this share.
COVERAGE_TOLERANCE = 0.10

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    a
    for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar",
    )
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")
]


def fail(msg):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile graft + the benchmark unless the classes match the sources."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return
    print("kgbench: compiling graft and the benchmark (sbt)", file=sys.stderr)
    rc = subprocess.call(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        fail(f"sbt compile failed with exit code {rc}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def heap():
    """Half of MemTotal in GiB, clamped to 2..8 g (tier-1's sizing)."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return f"{min(max(kb // 2097152, 2), 8)}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def jvm(mode, args, work):
    """One benchmark JVM; returns its KGBENCH report, or None if it failed."""
    spark_home = os.environ["SPARK_HOME"]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    h = heap()
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, *ADD_OPENS, f"-Xmx{h}", f"-Xms{h}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", f"{CLASSES}{os.pathsep}{os.path.join(spark_home, 'jars', '*')}",
           "kgbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--work", work, "--mode", mode]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    launched = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, env=env, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        print(f"kgbench: {mode} JVM timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
        return None
    lines = [l for l in out.splitlines() if l.startswith("KGBENCH ")]
    if proc.returncode != 0 or not lines:
        print(f"kgbench: {mode} JVM failed (exit {proc.returncode})", file=sys.stderr)
        return None
    report = json.loads(lines[-1][len("KGBENCH "):])
    report["launched"] = launched
    inputs = os.path.join(work, "in")
    with open(os.path.join(inputs, "stats.json")) as fh:
        report["html_bytes"] = sum(b["html_bytes"] for b in json.load(fh))
    for b in report["builds"]:
        rep = checks.check_build(b["dir"], os.path.join(inputs, "gold.jsonl"))
        if report["reference"] and b["name"] == "timed":
            rep.add("resume_eq_cold", *checks.same_tables(b["dir"], report["reference"]))
        b["report"] = rep
        b["manifests"] = checks.manifests(b["dir"])
        for name, ok, detail in rep.checks:
            if not ok:
                print(f"kgbench: {b['name']} build: check {name} failed: {detail}", file=sys.stderr)
    return report


# Builds one JVM makes and run.py checks: the timed build; with tracing
# also the traced build and the two untraced builds around it.
BUILDS = {False: 1, True: 4}


def untraced_metrics(r):
    """End-to-end metrics of one untraced JVM's timed build."""
    b = r["builds"][0]
    rep = b["report"]
    fresh = [m for m in b["manifests"] if m["run_id"] == b["run_id"]]
    s = b["seconds"]
    return {
        "build_s": s,
        "docs_per_s": sum(m["n_pages"] for m in fresh) / s,
        "triples_per_s": sum(m["n_triples"] for m in fresh) / s,
        "setup_s": b["started_ms"] / 1000.0 - r["launched"] - r["gen_s"],
        "out_bytes_per_in_byte": rep.out_bytes / r["html_bytes"],
        "peak_task_mem_mb": b["peak_exec_mem"] / 1048576.0,
        "triple_f1": rep.f1,
        "linked_node_share": rep.linked_share,
    }


def assemble(reports, trace):
    """(correct, attempted, failed, metrics) from the checked JVM reports.

    reports: one per JVM started, None for a JVM that failed. Untraced
    metrics are medians over the JVMs; setup_s runs from launch to the
    first timed call, less input generation. A traced JVM's builds must
    also agree on the triple count, and its layers must tile the traced
    wall.
    """
    attempted = len(reports) * BUILDS[trace]
    failed = sum(BUILDS[trace] for r in reports if r is None)
    ok = [r for r in reports if r is not None]
    for r in ok:
        failed += sum(1 for b in r["builds"] if not b["report"].ok)
    metrics = {}
    if ok and not trace:
        per_jvm = [untraced_metrics(r) for r in ok]
        metrics = {k: statistics.median(m[k] for m in per_jvm) for k in per_jvm[0]}
    if ok and trace:
        r = ok[0]
        metrics = dict(r["metrics"])
        counts = {b["report"].triple_rows for b in r["builds"]}
        if len(counts) != 1:
            print(f"kgbench: builds disagree on the triple count: {sorted(counts)}", file=sys.stderr)
            failed += 1
        elif abs(metrics["trace.coverage"] - 1.0) > COVERAGE_TOLERANCE:
            print(f"kgbench: traced layers cover {metrics['trace.coverage']:.3f} of the traced wall",
                  file=sys.stderr)
            failed += 1
    return failed == 0, attempted, failed, metrics


def report_metrics(metrics, declared):
    """{name: {value, unit}} for exactly the declared metrics."""
    missing = [n for n in declared if n not in metrics]
    if missing:
        return None, missing
    return {n: {"value": metrics[n], "unit": u} for n, u in declared.items()}, []


def declared_metrics(bench, trace):
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in bench[key]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0,
                    help="minimum timed build time; cold builds repeat in fresh JVMs until reached")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_file):
        fail(f"{bench_file} not found")
    with open(bench_file) as fh:
        bench = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found next to the benchmark")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME must name a Spark installation (its jars/ directory)")
    build()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}")
    reports = []
    try:
        if args.trace:
            reports.append(jvm("traced", args, work))
        else:
            measured = 0.0
            while not reports or (reports[-1] is not None and measured < args.seconds):
                reports.append(jvm("untraced", args, work))
                if reports[-1] is not None:
                    measured += reports[-1]["builds"][0]["seconds"]
    finally:
        shutil.rmtree(WORK, ignore_errors=True)

    correct, attempted, failed, metrics = assemble(reports, args.trace == 1)
    declared = declared_metrics(bench, args.trace == 1)
    undeclared = sorted(set(metrics) - set(declared_metrics(bench, False))
                        - set(declared_metrics(bench, True)))
    if undeclared:
        fail(f"metrics not declared in BENCHMARK.json: {', '.join(undeclared)}")
    out, missing = report_metrics(metrics, declared)
    if out is None:
        fail(f"no value for: {', '.join(missing)} ({failed} of {attempted} builds failed)")
    for name, v in out.items():
        print(f"kgbench: {name:32s} {v['value']:>16.6g} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
