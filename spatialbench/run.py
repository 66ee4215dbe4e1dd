#!/usr/bin/env python3
"""Spatial-engine benchmark: one workload run.

    python3 spatialbench/run.py --workload polygon_overlay --seed 1 --seconds 16 --trace 0

Builds the engine and the driver from source (first run), writes the seeded
inputs, runs the JVM driver (spatialbench/src/graftbench/Bench.scala) on
`local[$SPARK_GRAFT_CPUS]` (default 4), and prints the full run record
(`record: {...}`) followed, as the last line, by the result:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones. Exits non-zero if any
output check failed or the run could not be made.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen  # noqa: E402

ROOT = build.ROOT
WORKLOADS = list(gen.SIZES)
# a fixed, pre-touched heap: peak RSS then moves with off-heap memory only,
# not with when the collector happened to grow the heap
HEAP = "2g"
# Spark on JDK 17 outside spark-submit (the engine's build.sbt passes the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def environment(cpus):
    """What a comparison must hold equal (see compare.py)."""
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        commit = r.stdout.strip() or None
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"nproc": os.cpu_count(), "spark_graft_cpus": cpus, "driver_heap": HEAP,
            "load1": load1, "git_commit": commit}


def drive(args, classpath, cpus, run_dir, deadline):
    """Write the inputs and run the JVM driver; return (result, input props),
    or (None, None) if the driver failed or ran out of time."""
    props = gen.generate(args.workload, args.seed, os.path.join(run_dir, "in"))
    out = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-Xss8m",
            "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graftbench.Bench",
              "--workload", args.workload, "--dir", os.path.join(run_dir, "in"),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--seed", str(args.seed), "--cpus", cpus, "--out", out])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(open(log_path).read()[-8000:])
        sys.stderr.write("spatialbench: driver %s\n" %
                         ("timed out" if code is None else "exited with %s" % code))
        return None, None
    with open(out) as f:
        return json.load(f), props


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        classpath, built = build.ensure()
    except build.BuildError as e:
        sys.stderr.write("spatialbench: %s\n" % e)
        return 2
    # the first run of a checkout may spend its budget on the build
    deadline = t_start + (880 if built else 172)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    env = environment(cpus)

    run_dir = os.path.join(build.BUILD, "runs", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        res, props = drive(args, classpath, cpus, run_dir, deadline)
        if res is None:
            return 3
        ops = res["ops"]
        failed = sum(1 for o in ops if not o["ok"])
        correct = failed == 0 and not res["failures"]
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "env": env,
            "input_props": dict(props, **res["input_props"]),
            "setup_runs_s": res["setup_runs_s"], "setup_runs_cpu_s": res["setup_runs_cpu_s"],
            "ops": ops,
            "error_rate": failed / max(1, len(ops)), "failures": res["failures"],
            "peak_rss_mb": res["jvm"]["peak_rss_mb"],
            "host_steal_pct": res["jvm"]["host_steal_pct"], "metrics": res["metrics"],
        }
        records = os.path.join(build.BUILD, "records")
        os.makedirs(records, exist_ok=True)
        name = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
        with open(os.path.join(records, name + ".json"), "w") as f:
            json.dump(record, f, indent=1)
        spans = os.path.join(run_dir, "result.json.spans.jsonl")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(records, name + ".spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for failure in res["failures"]:
        print("check failed: " + failure)
    print("error_rate: %g (%d of %d operations)" % (record["error_rate"], failed, len(ops)))
    print("host_steal_pct: %.2f" % record["host_steal_pct"])
    for kind in sorted({o["kind"] for o in ops}):
        wall = sorted(o["wall_ms"] for o in ops if o["kind"] == kind and not o["traced"])
        if wall:
            print("wall %-12s n=%-3d p50 %9.1f ms  max %9.1f ms" % (
                kind, len(wall), statistics.median(wall), wall[-1]))
    for k, v in res["metrics"].items():
        print("%-40s %14.6g %s" % (k, v["value"], v["unit"]))
    print("record: " + json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
