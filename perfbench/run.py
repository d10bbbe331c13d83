#!/usr/bin/env python3
"""graft's benchmark of record: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds graft plus the benchmark's Scala
client (perfbench/build.py), generates the workload's inputs from the seed
(perfbench/gen.py), runs the workload in one JVM against a local[nproc]
Spark session, checks every result, and prints every metric by name with
its unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end metrics; with --trace 1 the per-layer ones, and the
spans plus listener counters go to perfbench/work/traces/.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
sys.path.insert(0, BENCH)

WORKLOADS = ["sql_analytics", "etl_incremental", "curation_ledger", "curation_batches",
             "vector_ann", "ledger_no_edges"]
JVM_TIMEOUT_S = 165
HEAP = "2g"
MODULES = ["SparkEntry", "infer", "operators", "sinks", "pipeline", "sources.PrunedIndex",
           "llm.Dedup", "llm.NearDupIndexStore", "llm.CurationLedgerStore", "llm.Curation",
           "llm.AnnIndexStore", "llm.GraphAnn", "llm.HierarchicalRouting", "llm.Similarity"]
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def gated():
    """The workloads BENCHMARK.json names, and the per-layer metrics their
    traced runs report (other workloads print every per-layer metric)."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [w["name"] for w in spec["workloads"]], [m["name"] for m in spec["per_layer"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------- context
def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return (v[7] if len(v) > 7 else 0), sum(v[:8])


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except Exception:
        return None


# ------------------------------------------------------------------ statistics
def pct(xs, p):
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(xs):
    """Highest percentile of a fixed ladder with at least ten samples beyond
    it, as (value, percentile). Falls back to the median for few samples."""
    for p in (99, 95, 90, 75):
        if len(xs) * (100 - p) / 100.0 >= 10:
            return pct(xs, p), p
    return pct(xs, 50), 50


def interval_union(ivs):
    total, end = 0.0, -1e300
    for a, b in sorted(ivs):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ---------------------------------------------------------------- sql oracle
def sql_oracle(in_dir, out_dir, manifest):
    """Compare each query's first result with its DuckDB twin over the same
    generated tables (the tools/verify_local.py compare). Returns the names
    of queries that mismatch, with a reason each."""
    import duckdb
    oracle_file = os.path.join(out_dir, "oracle_sql.json")
    oracle = json.load(open(oracle_file)) if os.path.exists(oracle_file) else {}
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in manifest["tables"]:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{in_dir}/{t}.parquet'")
    bad = {}
    sqlout = os.path.join(out_dir, "sqlout")
    for name in sorted(os.listdir(sqlout)) if os.path.isdir(sqlout) else []:
        if name not in oracle:
            bad[name] = "no DuckDB twin"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{sqlout}/{name}/*.parquet'")
            gcols = [c.lower() for c in got.columns]
            grows = got.fetchall()
            exp = con.sql(oracle[name])
            ecols = [c.lower() for c in exp.columns]
            erows = exp.fetchall()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            bad[name] = f"compare error: {e}"
            continue
        if sorted(gcols) != sorted(ecols):
            bad[name] = f"columns {gcols} vs {ecols}"
            continue
        go = sorted(range(len(gcols)), key=lambda i: gcols[i])
        eo = sorted(range(len(ecols)), key=lambda i: ecols[i])
        g = [tuple(r[i] for i in go) for r in grows]
        e = [tuple(r[i] for i in eo) for r in erows]
        if g != e:
            diff = next((i for i, (a, b) in enumerate(zip(g, e)) if a != b), min(len(g), len(e)))
            bad[name] = f"{len(g)} rows vs {len(e)} oracle rows; first difference at row {diff}"
    return bad


# ------------------------------------------------------------------- metrics
def end_to_end(raw):
    """Over the measured ops (kinds read and write; warm-up, control and
    check ops are not measured). items_per_s is the median over steps (an
    ETL day; a whole round elsewhere) of the step's items per second."""
    ops = raw["ops"]
    timed = [o for o in ops if o["kind"] in ("read", "write")]
    reads = [o["wall_s"] for o in timed if o["kind"] == "read"]
    writes = [o["wall_s"] for o in timed if o["kind"] == "write"]
    steps = {}
    for o in timed:
        s = steps.setdefault((o["round"], o["step"]), [0, 0.0])
        s[0] += o["items"]
        s[1] += o["wall_s"]
    rates = [n / w for n, w in steps.values() if w]
    items = sum(o["items"] for o in timed)
    cpu = sum(o["cpu_s"] for o in timed)
    setups = [s["session_s"] + s["state_s"] for s in raw["setups"]]
    rt, rp = tail(reads)
    m = {"setup_s": (statistics.median(setups), "s"),
         "items_per_s": (statistics.median(rates) if rates else 0.0, "1/s"),
         "read_p50_s": (pct(reads, 50), "s"),
         "read_tail_s": (rt, "s"),
         "cpu_ms_per_item": (1000.0 * cpu / items if items else 0.0, "ms"),
         "peak_rss_mb": (raw["peak_rss_kb"] / 1024.0, "MB")}
    extra = {"read_tail_pct": rp, "reads": len(reads), "writes": len(writes),
             "steps": len(steps), "timed_s": sum(o["wall_s"] for o in timed),
             "rounds": max(o["round"] for o in ops)}
    if writes:
        wt, wp = tail(writes)
        extra.update({"write_p50_s": pct(writes, 50), "write_tail_s": wt, "write_tail_pct": wp})
    return m, extra


def per_layer(raw, workload, e2e, extra, error_rate):
    """Per-layer metrics over the workload's fixed script (its first
    script_rounds rounds, which every run completes, so one seed gives the
    same work in every run). Store and pipeline gauges describe round 1."""
    ops = raw["ops"]
    g = raw["gauges"]
    cores = raw["context"]["cores"]
    nano0, ms0 = raw["clock"]
    script = [(i, o) for i, o in enumerate(ops) if o["round"] <= raw["script_rounds"]]
    script_ids = {i for i, _ in script}
    script_io = [o for _, o in script if o["kind"] in ("read", "write")]
    windows = [(o["t0_ms"], o["t1_ms"], i) for i, o in script]

    def op_of(job):
        for a, b, i in windows:
            if a <= job["t0_ms"] <= b:
                return i
        return None

    jobs = [j for j in raw["jobs"] if op_of(j) is not None]
    for j in jobs:
        j["op"] = op_of(j)
    spans = raw["spans"]
    for s in spans:
        s["t0_ms"] = ms0 + (s["t0_ns"] - nano0) / 1e6
        s["t1_ms"] = ms0 + (s["t1_ns"] - nano0) / 1e6
    script_spans = [s for s in spans if s["op"] in script_ids]

    def span_s(name):
        return sum((s["t1_ns"] - s["t0_ns"]) / 1e9 for s in script_spans if s["name"] == name)

    def op_s(pred):
        return sum(o["wall_s"] for o in script_io if pred(o))

    covered, gap = 0.0, 0.0
    for i, o in script:
        if o["kind"] not in ("read", "write"):
            continue
        ivs = [(max(j["t0_ms"], o["t0_ms"]), min(j["t1_ms"] or o["t1_ms"], o["t1_ms"]))
               for j in jobs if j["op"] == i]
        c = interval_union(ivs) / 1000.0
        covered += c
        gap += max(0.0, o["wall_s"] - c)
    pinned = [b for i, b in raw["pinned"] if i in script_ids]
    io_ops = {i for i, o in script if o["kind"] in ("read", "write")}
    io_jobs = [j for j in jobs if j["op"] in io_ops]
    m = {
        "spark.jobs": (len(io_jobs), "count"),
        "spark.stages": (sum(j["stages"] for j in io_jobs), "count"),
        "spark.tasks": (sum(j["tasks"] for j in io_jobs), "count"),
        "spark.driver_gap_s": (gap, "s"),
        "spark.task_cpu_s": (sum(j["cpu_s"] for j in io_jobs), "s"),
        "spark.task_run_s": (sum(j["run_s"] for j in io_jobs), "s"),
        "spark.gc_s": (sum(j["gc_s"] for j in io_jobs), "s"),
        "spark.shuffle_read_bytes": (sum(j["shuffle_read"] for j in io_jobs), "B"),
        "spark.shuffle_write_bytes": (sum(j["shuffle_write"] for j in io_jobs), "B"),
        "spark.spill_bytes": (sum(j["spill"] for j in io_jobs), "B"),
        "spark.core_busy": (sum(j["run_s"] for j in io_jobs) / (covered * cores)
                            if covered else 0.0, "ratio"),
        "spark.input_bytes": (sum(j["input"] for j in io_jobs), "B"),
        "spark.output_bytes": (sum(j["output"] for j in io_jobs), "B"),
        "spark.pinned_bytes": (max(pinned) if pinned else 0, "B"),
        "sql.plan_s": (span_s("sql.plan"), "s"),
        "sql.collect_s": (span_s("sql.collect"), "s"),
    }
    load_ids = {i for i, o in script if o["name"].startswith("load.") and i in io_ops}
    execution = sum(ops[i]["wall_s"] for i in load_ids)
    load = sum((s["t1_ns"] - s["t0_ns"]) / 1e9 for s in script_spans
               if s["name"] == "pipeline.runOne" and s["op"] in load_ids)
    m.update({
        "pipeline.execution_s": (execution, "s"),
        "pipeline.load_s": (load, "s"),
        "pipeline.control_s": (max(0.0, execution - load), "s"),
        "pipeline.attempts": (g.get("pipeline.attempts", 0), "count"),
        "pipeline.gate_skips": (g.get("pipeline.gate_skips", 0), "count"),
        "pipeline.dedup_drops": (sum(1 for _, o in script if o["name"] == "duplicate_event"
                                     and o["round"] == 1 and o["ok"]), "count"),
        "sinks.bytes_written": (g.get("sinks.bytes_written", 0), "B"),
        "sinks.files_written": (g.get("sinks.files_written", 0), "count"),
        "sinks.store_bytes": (g.get("sinks.store_bytes", 0), "B"),
        "sinks.read_s": (op_s(lambda o: o["name"] in ("read_current", "read_version")), "s"),
        "sinks.vacuum_s": (op_s(lambda o: o["name"] == "vacuum" and workload == "etl_incremental"), "s"),
    })
    fams = ["jaccard", "containment", "minhash", "winnowing"]
    probe_ops = {i for i, o in script if o["name"].startswith("probe.")}
    probe_in = sum(j["input"] for j in jobs if j["op"] in probe_ops)
    nd_bytes = g.get("neardup.setup_bytes", 0)
    for f in fams:
        m[f"neardup.probe_s.{f}"] = (op_s(lambda o, f=f: o["name"] == f"probe.{f}"), "s")
    m.update({
        "neardup.probe_read_fraction": (probe_in / (len(probe_ops) * nd_bytes)
                                        if probe_ops and nd_bytes else 0.0, "ratio"),
        "neardup.pairs": (g.get("neardup.pairs", 0), "count"),
        "neardup.append_s": (span_s("NearDupIndexStore.appendDelta"), "s"),
        "neardup.bytes_written": (g.get("neardup.bytes_written", 0), "B"),
        "neardup.files_written": (g.get("neardup.files_written", 0), "count"),
        "neardup.chain_depth": (g.get("neardup.chain_depth", 0), "count"),
        "neardup.store_bytes": (g.get("neardup.store_bytes", 0), "B"),
        "neardup.maintain_s": (span_s("NearDupIndexStore.maybeMaintain"), "s"),
        "neardup.compactions": (g.get("neardup.compactions", 0), "count"),
    })
    absorb_spans = [s for s in script_spans if s["name"] == "CurationLedgerStore.absorbBatch"]
    absorb_jobs = sum(1 for j in jobs for s in absorb_spans if s["t0_ms"] <= j["t0_ms"] <= s["t1_ms"])
    m.update({
        "ledger.absorb_s": (span_s("CurationLedgerStore.absorbBatch"), "s"),
        "ledger.jobs_per_absorb": (absorb_jobs / len(absorb_spans) if absorb_spans else 0.0,
                                   "count"),
        "ledger.changed_rows": (g.get("ledger.changed_rows", 0), "count"),
        "ledger.bytes_written": (g.get("ledger.bytes_written", 0), "B"),
        "ledger.store_bytes": (g.get("ledger.store_bytes", 0), "B"),
        "ledger.chain_depth": (g.get("ledger.chain_depth", 0), "count"),
        "ledger.maintain_s": (span_s("CurationLedgerStore.maybeMaintain"), "s"),
    })
    search_ops = {i for i, o in script if o["name"].startswith("search.")}
    search_in = sum(j["input"] for j in jobs if j["op"] in search_ops)
    ann_bytes = g.get("ann.setup_bytes", 0)
    for k in ("ivf", "graph", "pq"):
        m[f"ann.search_s.{k}"] = (op_s(lambda o, k=k: o["name"] == f"search.{k}"), "s")
    m["ann.search_read_fraction"] = (search_in / (len(search_ops) * ann_bytes)
                                     if search_ops and ann_bytes else 0.0, "ratio")
    for k in ("ivf", "graph", "pq"):
        m[f"ann.recall.{k}"] = (g.get(f"ann.recall.{k}", 0), "ratio")
    m.update({
        "ann.append_s": (span_s("AnnIndexStore.appendDelta"), "s"),
        "ann.semdedup_s": (span_s("AnnIndexStore.semDedupPairsForDelta"), "s"),
        "ann.recluster_s": (span_s("AnnIndexStore.reclusterIfDrifted"), "s"),
        "ann.reclusters": (g.get("ann.reclusters", 0), "count"),
        "ann.maintain_s": (span_s("AnnIndexStore.maybeMaintain"), "s"),
        "ann.bytes_written": (g.get("ann.bytes_written", 0), "B"),
        "ann.store_bytes": (g.get("ann.store_bytes", 0), "B"),
        "ann.chain_depth": (g.get("ann.chain_depth", 0), "count"),
    })
    for mod in MODULES:
        mj = [j for j in io_jobs if j["module"] == mod]
        m[f"jobs.{mod}"] = (len(mj), "count")
        m[f"job_s.{mod}"] = (sum(max(0, (j["t1_ms"] or j["t0_ms"]) - j["t0_ms"]) for j in mj) / 1000.0,
                             "s")
        m[f"task_cpu_s.{mod}"] = (sum(j["cpu_s"] for j in mj), "s")
    recalls = [g[f"ann.recall.{k}"] for k in ("ivf", "graph", "pq") if f"ann.recall.{k}" in g]
    m.update({
        "write_p50_s": (extra.get("write_p50_s", 0.0), "s"),
        "write_tail_s": (extra.get("write_tail_s", 0.0), "s"),
        "storage_amp": (g.get("storage_amp", 0.0), "ratio"),
        "recall_at_10": (sum(recalls) / len(recalls) if recalls else 0.0, "ratio"),
        "error_rate": (error_rate, "ratio"),
        "traced.items_per_s": (e2e["items_per_s"][0], "1/s"),
        "traced.read_p50_s": (e2e["read_p50_s"][0], "s"),
    })
    return m, jobs, spans


def self_times(spans):
    """Each span's duration minus the part of it its child spans cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["t0_ns"], s["t1_ns"]))
    for s in spans:
        s["self_s"] = ((s["t1_ns"] - s["t0_ns"]) - interval_union(kids.get(s["id"], []))) / 1e9


def keep_log(jvm_log, a):
    """The JVM's log (per-op timings, failures) outlives the run directory."""
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    shutil.copy(jvm_log, os.path.join(WORK, "logs", f"{a.workload}-{a.seed}-trace{a.trace}.log"))


# ----------------------------------------------------------------------- main
def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    import build
    import gen
    problem = build.check_layout()
    if problem:
        log(f"cannot run: {problem}")
        return 2
    jar, src_stamp = build.build()

    with open(gen.__file__, "rb") as f:
        gen_stamp = hashlib.sha256(f.read()).hexdigest()[:12]
    in_dir = os.path.join(WORK, "inputs", f"{a.workload}-{a.seed}-{gen_stamp}")
    if not os.path.exists(os.path.join(in_dir, "manifest.json")):
        shutil.rmtree(in_dir, ignore_errors=True)
        gen.generate(a.workload, a.seed, in_dir + ".tmp")
        os.rename(in_dir + ".tmp", in_dir)
    manifest = json.load(open(os.path.join(in_dir, "manifest.json")))

    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out_json = os.path.join(run_dir, "result.json")
    jars = os.path.join(build.spark_jars(), "*")
    # Class data sharing: the first run after a build records the classes it
    # loaded, later runs map them instead of loading them from the jars
    # (about 3 s less JVM start per run on 4 cores; timed ops are unchanged).
    archive = os.path.splitext(jar)[0] + ".jsa"
    cds = ([f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive)
           else [f"-XX:ArchiveClassesAtExit={archive}.tmp"])
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:+UseParallelGC",
            "-XX:-UsePerfData", "-Dspark.callstack.depth=200", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false", "-Dlog4j2.level=error", "-Xlog:cds=off",
            "-Xlog:cds+dynamic=off"] + cds + ADD_OPENS +
           ["-cp", f"{jar}:{jars}", "graftbench.Main", a.workload, in_dir, run_dir,
            str(a.seconds), str(a.trace), out_json])
    env = dict(os.environ, SPARK_GRAFT_SCRATCH=os.path.join(run_dir, "scratch"))
    env.pop("SPARK_LOCAL_DIRS", None)
    os.makedirs(env["SPARK_GRAFT_SCRATCH"])
    ctx0 = {"load1": load1(), "ticks": cpu_ticks(), "time": time.time()}
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as lf:
        # same process group as this script, so whoever stops the benchmark
        # stops the JVM with it
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    ctx1 = {"load1": load1(), "ticks": cpu_ticks(), "time": time.time()}
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write(open(jvm_log).read()[-6000:])
        log(f"workload JVM failed: {rc}")
        keep_log(jvm_log, a)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    raw = json.load(open(out_json))
    if os.path.exists(archive + ".tmp"):
        os.replace(archive + ".tmp", archive)

    # correctness: the JVM checked every op; sql results also go to DuckDB
    fails = [o for o in raw["ops"] if not o["ok"]]
    oracle_bad = {}
    if a.workload == "sql_analytics":
        oracle_bad = sql_oracle(in_dir, run_dir, manifest)
        for o in raw["ops"]:
            if o["ok"] and o["name"] in oracle_bad:
                o["ok"], o["err"] = False, "DuckDB oracle: " + oracle_bad[o["name"]]
                fails.append(o)
    attempted, failed = len(raw["ops"]), len(fails)
    for o in fails:
        log(f"ENGINE DEFECT? {o['name']} ({o['key']}) round {o['round']}: {o['err']}")

    e2e, extra = end_to_end(raw)
    steal = ctx1["ticks"][0] - ctx0["ticks"][0]
    total = max(1, ctx1["ticks"][1] - ctx0["ticks"][1])
    context = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
               "nproc": os.cpu_count(), "cores": raw["context"]["cores"], "heap": HEAP,
               "max_heap_mb": raw["context"]["max_heap_mb"],
               "load1_before": ctx0["load1"], "load1_after": ctx1["load1"],
               "cpu_steal_share": steal / total, "git_commit": git_commit(),
               "source_sha256": src_stamp, "spark_conf": raw["context"]["spark_conf"],
               "run_wall_s": ctx1["time"] - ctx0["time"], **extra}
    print(f"context: nproc={context['nproc']} heap={HEAP} load1 {ctx0['load1']:.2f}->"
          f"{ctx1['load1']:.2f} steal={context['cpu_steal_share']:.4f} "
          f"commit={context['git_commit'] or 'n/a'} source={src_stamp[:12]} "
          f"rounds={extra['rounds']} steps={extra['steps']} timed_s={extra['timed_s']:.2f}")
    print("spark_conf: " + " ".join(f"{k}={v}" for k, v in sorted(raw["context"]["spark_conf"].items())))
    print(f"e2e read_tail_s is p{extra['read_tail_pct']} of {extra['reads']} reads")
    if "write_p50_s" in extra:
        print(f"e2e write_p50_s {extra['write_p50_s']:.6f} s, write_tail_s "
              f"{extra['write_tail_s']:.6f} s (p{extra['write_tail_pct']} of {extra['writes']} writes)")
    else:
        print("e2e write_p50_s n/a, write_tail_s n/a (no write operations)")
    error_rate = failed / attempted
    print(f"e2e error_rate {error_rate:.6f} ratio ({failed}/{attempted} operations failed)")
    if a.trace:
        metrics, jobs, spans = per_layer(raw, a.workload, e2e, extra, error_rate)
        self_times(spans)
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        trace_file = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json")
        with open(trace_file, "w") as f:
            json.dump({"context": context, "metrics": metrics, "spans": spans,
                       "jobs": raw["jobs"], "ops": raw["ops"], "gauges": raw["gauges"]}, f)
        print(f"trace: {len(spans)} spans, {len(raw['jobs'])} jobs -> {os.path.relpath(trace_file, ROOT)}")
        for k, (v, u) in e2e.items():
            print(f"traced e2e {k} {v:.6f} {u}")
    else:
        metrics = e2e
    for k, (v, u) in metrics.items():
        print(f"{k} {v:.6f} {u}" if isinstance(v, float) else f"{k} {v} {u}")
    print(f"correct: {failed == 0}")
    keep_log(jvm_log, a)
    shutil.rmtree(run_dir, ignore_errors=True)
    gated_workloads, gated_per_layer = gated()
    if a.trace and a.workload in gated_workloads:
        metrics = {k: metrics[k] for k in gated_per_layer}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
