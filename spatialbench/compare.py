#!/usr/bin/env python3
"""Compare two sets of run records (the `record:` JSON that run.py prints and
saves under .bench_build/records/).

    python3 spatialbench/compare.py BASE_DIR CHANGE_DIR

Prints, per workload and end-to-end metric, each side's median and quartiles,
the change of the medians, and the metric's bound from BENCHMARK.json; then
the median wall time per operation kind, with the host steal of each side.
Refuses (exit 2) to compare records taken with different core counts or
heap sizes: a number taken at another core count is not a measurement for
this host.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GUARD = ("nproc", "spark_graft_cpus", "driver_heap")


def load(d):
    recs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(p) as f:
            r = json.load(f)
        if isinstance(r, dict) and "env" in r and r.get("trace") == 0:
            recs.append(r)
    return recs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def main(argv):
    if len(argv) != 3:
        sys.stderr.write(__doc__)
        return 2
    base, change = load(argv[1]), load(argv[2])
    if not base or not change:
        sys.stderr.write("no untraced records found\n")
        return 2
    envs = {tuple(r["env"][k] for k in GUARD) for r in base + change}
    if len(envs) > 1:
        sys.stderr.write("refused: records differ in %s: %s\n" % (GUARD, sorted(envs)))
        return 2
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    print("env: %s" % dict(zip(GUARD, envs.pop())))
    for wl in sorted({r["workload"] for r in base}):
        b = [r for r in base if r["workload"] == wl]
        c = [r for r in change if r["workload"] == wl]
        print("%s: %d base runs, %d change runs" % (wl, len(b), len(c)))
        for m in spec["end_to_end"]:
            name = m["name"]
            bx = [r["metrics"][name]["value"] for r in b if name in r["metrics"]]
            cx = [r["metrics"][name]["value"] for r in c if name in r["metrics"]]
            if not bx or not cx:
                continue
            bq, cq = quartiles(bx), quartiles(cx)
            worse = (cq[1] - bq[1]) / bq[1] * (1 if m["better"] == "lower" else -1)
            print("  %-14s base %10.4g [%10.4g..%10.4g]  change %10.4g [%10.4g..%10.4g]"
                  "  worse by %+6.1f%% (bound %.0f%%)%s" % (
                      name, bq[1], bq[0], bq[2], cq[1], cq[0], cq[2], worse * 100,
                      m["bound"] * 100, "  REGRESSION" if worse > m["bound"] else ""))
        # wall time is recorded per operation but not gated: it follows the
        # CPU time other tenants take from the host (host_steal_pct)
        for kind in sorted({o["kind"] for r in b for o in r["ops"]}):
            def per_run(rs):
                return [statistics.median(o["wall_ms"] for o in r["ops"] if o["kind"] == kind)
                        for r in rs if any(o["kind"] == kind for o in r["ops"])]
            bw, cw = per_run(b), per_run(c)
            if bw and cw:
                print("  wall %-12s base %10.1f ms  change %10.1f ms  (steal %.1f%% / %.1f%%)" % (
                    kind, statistics.median(bw), statistics.median(cw),
                    statistics.median(r["host_steal_pct"] for r in b),
                    statistics.median(r["host_steal_pct"] for r in c)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
