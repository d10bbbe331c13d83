#!/usr/bin/env python3
"""Per-op Spark counters from a perfbench trace.

Reads a trace written by `python3 perfbench/run.py ... --trace 1`
(`perfbench/work/traces/<workload>-<seed>.json`) and prints one row per
op: wall time, Spark job count, job-covered wall (the union of the op's
job intervals), driver gap (wall not covered by any job), task CPU, and
jobs per graft module. A job belongs to the op whose window holds its
start, as in the benchmark's own per-layer metrics. A summary per
(kind, name) follows, with medians. Job counts and task CPU do not
depend on the time window a run lands in; wall time does, so quote them
side by side.

    python3 tools/op_jobs.py perfbench/work/traces/etl_incremental-1.json
    python3 tools/op_jobs.py TRACE --kind read --summary-only

It only reads the trace file.
"""
import argparse
import json
import statistics
from collections import Counter, defaultdict


def union_s(intervals):
    """Total length in seconds of the union of (t0_ms, t1_ms) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def op_rows(trace):
    ops = trace["ops"]
    jobs_of = defaultdict(list)
    for j in trace["jobs"]:
        for i, o in enumerate(ops):
            if o["t0_ms"] <= j["t0_ms"] <= o["t1_ms"]:
                jobs_of[i].append(j)
                break
    rows = []
    for i, o in enumerate(ops):
        js = jobs_of[i]
        covered = union_s([(max(j["t0_ms"], o["t0_ms"]),
                            min(j["t1_ms"] or o["t1_ms"], o["t1_ms"])) for j in js])
        rows.append({
            "op": i, "round": o["round"], "kind": o["kind"], "name": o["name"],
            "wall_s": o["wall_s"], "jobs": len(js), "job_s": covered,
            "gap_s": max(0.0, o["wall_s"] - covered),
            "cpu_s": sum(j["cpu_s"] for j in js),
            "modules": Counter(j["module"] for j in js),
        })
    return rows


def fmt_modules(c):
    return " ".join(f"{m}={n}" for m, n in sorted(c.items(), key=lambda kv: (-kv[1], kv[0])))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("trace", help="perfbench/work/traces/<workload>-<seed>.json")
    ap.add_argument("--kind", help="only ops of this kind (read, write, warmup, check, control)")
    ap.add_argument("--name", help="only ops with this name")
    ap.add_argument("--summary-only", action="store_true", help="print only the per-name summary")
    a = ap.parse_args()
    with open(a.trace) as f:
        trace = json.load(f)
    rows = [r for r in op_rows(trace)
            if (a.kind is None or r["kind"] == a.kind) and (a.name is None or r["name"] == a.name)]
    head = f"{'wall_s':>8} {'jobs':>5} {'job_s':>7} {'gap_s':>7} {'cpu_s':>7}"
    if not a.summary_only:
        print(f"{'op':>4} {'rnd':>3} {'kind':<8} {'name':<24} {head}  jobs per module")
        for r in rows:
            print(f"{r['op']:>4} {r['round']:>3} {r['kind']:<8} {r['name']:<24} "
                  f"{r['wall_s']:8.3f} {r['jobs']:5d} {r['job_s']:7.3f} {r['gap_s']:7.3f} "
                  f"{r['cpu_s']:7.3f}  {fmt_modules(r['modules'])}")
        print()
    groups = defaultdict(list)
    for r in rows:
        groups[(r["kind"], r["name"])].append(r)
    print(f"{'kind':<8} {'name':<24} {'n':>3} {head}  jobs per module (total); other columns are medians")
    for (kind, name), rs in sorted(groups.items()):
        med = {k: statistics.median(r[k] for r in rs)
               for k in ("wall_s", "jobs", "job_s", "gap_s", "cpu_s")}
        mods = sum((r["modules"] for r in rs), Counter())
        print(f"{kind:<8} {name:<24} {len(rs):>3} {med['wall_s']:8.3f} {med['jobs']:5g} "
              f"{med['job_s']:7.3f} {med['gap_s']:7.3f} {med['cpu_s']:7.3f}  {fmt_modules(mods)}")


if __name__ == "__main__":
    main()
