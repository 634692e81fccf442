#!/usr/bin/env python3
"""Closed-loop benchmark of graft.

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

Builds the program from source (build.py), derives the seed's inputs
(gen.py), runs the workload in one JVM with ``local[n]``, checks every
result and prints the metrics. Query results are dumped in the warm-up
pass and compared with their DuckDB oracle through tools/compare.py;
MapReduce results are compared with a DataFrame formulation; every timed
result must reproduce its warm-up digest. The last line of standard
output is the JSON result. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

WORK = os.path.join(HERE, ".work")
BENCH_WORKLOADS = ["mr_olap_lazy", "corpus_stream_eager"]
CPUS = 2                 # local[n] width, the same on every host
HEAP = "2g"
TAIL_BEYOND = 10         # samples that must lie beyond the tail percentile
RUN_LIMIT_S = 175        # the whole run, build excluded
MB = 1048576.0

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

E2E = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_tail_s": "s",
       "cpu_s": "s", "heap_live_mb": "MB"}

LAYERS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "operators.build_s": "s", "operators.eager_jobs": "count",
    "operators.eager_job_s": "s", "operators.driver_gap_s": "s",
    "operators.rdds_left": "count", "operators.retained_mb": "MB",
    "plans.analysis_s": "s", "plans.optimize_s": "s", "plans.physical_s": "s",
    "plans.exchanges": "count", "plans.sql_executions": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.task_deser_s": "s", "exec.gc_s": "s", "exec.core_busy_frac": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.fetch_wait_s": "s", "exec.spill_mb": "MB",
    "tables.scan_mb": "MB", "tables.scan_rows": "count",
    "tables.scan_rows_per_result_row": "ratio",
    "mr.run_s": "s", "mr.records_in": "count", "mr.emits": "count",
    "mr.shuffle_records": "count", "mr.combine_ratio": "ratio",
    "mr.shuffles": "count", "mr.user_s": "s", "mr.framework_s": "s",
    "streaming.batches": "count", "streaming.batch_p50_s": "s",
    "streaming.batch_max_s": "s", "streaming.rows_in": "count",
    "streaming.state_rows": "count", "streaming.state_mb": "MB",
    "streaming.output_mb": "MB", "streaming.write_amp": "ratio",
    "jvm.heap_peak_mb": "MB", "jvm.gc_s": "s",
    "trace.overhead_s": "s",
}


# ---------------------------------------------------------------- statistics

def tail(samples, beyond=TAIL_BEYOND):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value): `value` has exactly `beyond` samples after
    it in sorted order, and the percentile is the share of samples at or
    below it, floored to a whole percent. A tail lies above the median, so
    with fewer than 2 * `beyond` + 1 samples no percentile qualifies and
    the maximum is reported as p100.
    """
    xs = sorted(samples)
    n = len(xs)
    if n < 2 * beyond + 1:
        return 100, xs[-1]
    return (100 * (n - beyond)) // n, xs[n - beyond - 1]


def union_s(intervals):
    """Total length covered by (start, end) intervals."""
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


def self_time(span, spans):
    """A span's duration minus the part its child spans cover."""
    kids = [(c["start_s"], c["end_s"]) for c in spans if c["parent"] == span["id"]]
    return (span["end_s"] - span["start_s"]) - union_s(kids)


def tasks_of(ops):
    """Task metrics of `ops` summed over all their jobs."""
    total = {}
    for o in ops:
        for counts in o.get("tasks", {}).values():
            for k, v in counts.items():
                total[k] = total.get(k, 0) + v
    return total


# ------------------------------------------------------------------ checking

def oracle_failures(sf_dir, dump_dir, names):
    """Runs tools/compare.py on the dumps; returns {query: problem}."""
    if not names:
        return {}
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "compare.py"),
                        sf_dir, dump_dir], capture_output=True, text=True, cwd=ROOT)
    status = {}
    for line in r.stdout.splitlines():
        name, sep, rest = line.partition(": ")
        if sep:
            status[name] = rest
    bad = {}
    for n in names:
        s = status.get(n, "no compare output")
        if not (s.startswith("OK ") or
                (s.startswith("NO-ORACLE") and not s.endswith(" rows=0"))):
            bad[n] = s
    return bad


# ------------------------------------------------------------------- metrics

def setup_parts(run):
    """(session start, warm-up) seconds. The warm-up is the sum of the
    warm-up operations' latencies: the benchmark's own checks and the GC
    between passes are left out."""
    start = next(s["end_s"] - s["start_s"] for s in run["spans"]
                 if s["name"] == "session.start")
    warm = {p["pass"] for p in run["passes"] if p["warmup"]}
    return start, sum(o["lat_s"] for o in run["ops"] if o["pass"] in warm)


def end_to_end(run):
    """End-to-end metrics over the untraced timed passes."""
    passes = [p for p in run["passes"] if not p["warmup"] and not p["traced"]]
    nums = {p["pass"] for p in passes}
    ops = [o for o in run["ops"] if o["pass"] in nums]
    lat = [o["lat_s"] for o in ops]
    pct, tail_v = tail(lat)
    med = statistics.median

    def per_pass(f):
        return med(f([o for o in ops if o["pass"] == n]) for n in nums)

    metrics = {
        "setup_s": sum(setup_parts(run)),
        "pass_s": med(p["wall_s"] for p in passes),
        "op_p50_s": med(lat),
        "op_tail_s": tail_v,
        "cpu_s": per_pass(lambda os_: tasks_of(os_).get("cpu_ns", 0) / 1e9),
        "heap_live_mb": med(p["heap_live_mb"] for p in passes),
    }
    info = {
        "retained_mb": per_pass(lambda os_: sum(o["retained_bytes"] for o in os_) / MB),
        "op_tail_percentile": pct, "op_samples": len(lat), "timed_passes": len(passes),
    }
    return metrics, info


def layer_metrics(ops, spans, cpus):
    """Per-layer metrics of one traced pass (its ops and their spans)."""
    ids = {f'{o["pass"]}/{o["op"]}' for o in ops}
    sp = [s for s in spans if s["op"] in ids]

    def dur(name):
        return sum(s["end_s"] - s["start_s"] for s in sp if s["name"] == name)

    q = [o for o in ops if o["kind"] == "query"]
    mr = [o for o in ops if o["kind"] == "mr"]
    m = {}

    eager = [j for o in q for j in o["jobs"] if j["phase"] == "build"]
    gap = 0.0
    for o in q:
        b0, b1 = o["start_ms"], o["start_ms"] + o["build_s"] * 1e3
        cover = [(max(b0, j["start_ms"]), min(b1, j["end_ms"])) for j in o["jobs"]
                 if j["phase"] == "build" and j["end_ms"] > b0 and j["start_ms"] < b1]
        gap += o["build_s"] - union_s(cover) / 1e3
    m["operators.build_s"] = sum(self_time(s, spans) for s in sp if s["name"] == "operators.build")
    m["operators.eager_jobs"] = len(eager)
    m["operators.eager_job_s"] = sum(max(0, j["end_ms"] - j["start_ms"]) for j in eager) / 1e3
    m["operators.driver_gap_s"] = gap
    m["operators.rdds_left"] = sum(o["rdds_left"] for o in ops)
    m["operators.retained_mb"] = sum(o["retained_bytes"] for o in ops) / MB

    m["plans.analysis_s"] = sum(o.get("analysis_s", 0) for o in ops)
    m["plans.optimize_s"] = sum(o.get("optimization_s", 0) for o in ops)
    m["plans.physical_s"] = sum(o.get("planning_s", 0) for o in ops)
    m["plans.exchanges"] = sum(o.get("exchanges", 0) for o in ops)
    m["plans.sql_executions"] = sum(o["sql_executions"] for o in ops)

    t = tasks_of(ops)
    jobs = [j for o in ops for j in o["jobs"]]
    job_wall = union_s([(j["start_ms"], j["end_ms"]) for j in jobs if j["end_ms"] >= 0]) / 1e3
    m["exec.action_s"] = dur("exec.action")
    m["exec.jobs"] = len(jobs)
    m["exec.stages"] = sum(j["stages"] for j in jobs)
    m["exec.tasks"] = t.get("tasks", 0)
    m["exec.task_run_s"] = t.get("run_ms", 0) / 1e3
    m["exec.task_cpu_s"] = t.get("cpu_ns", 0) / 1e9
    m["exec.task_deser_s"] = t.get("deser_ms", 0) / 1e3
    m["exec.gc_s"] = t.get("gc_ms", 0) / 1e3
    m["exec.core_busy_frac"] = m["exec.task_run_s"] / (cpus * job_wall) if job_wall else 0.0
    m["exec.shuffle_write_mb"] = t.get("shuffle_write_bytes", 0) / MB
    m["exec.shuffle_read_mb"] = t.get("shuffle_read_bytes", 0) / MB
    m["exec.fetch_wait_s"] = t.get("fetch_wait_ms", 0) / 1e3
    m["exec.spill_mb"] = t.get("spill_bytes", 0) / MB

    rows = sum(o.get("rows", 0) for o in ops)
    m["tables.scan_mb"] = t.get("in_bytes", 0) / MB
    m["tables.scan_rows"] = t.get("in_records", 0)
    m["tables.scan_rows_per_result_row"] = t.get("in_records", 0) / rows if rows else 0.0

    mt = tasks_of(mr)
    emits = sum(o["mr"]["emits"] for o in mr)
    user_s = sum(o["mr"]["user_ns"] for o in mr) / 1e9
    m["mr.run_s"] = sum(o["lat_s"] for o in mr)
    m["mr.records_in"] = sum(o["mr"]["map_calls"] for o in mr)
    m["mr.emits"] = emits
    m["mr.shuffle_records"] = mt.get("shuffle_write_records", 0)
    m["mr.combine_ratio"] = m["mr.shuffle_records"] / emits if emits else 0.0
    m["mr.shuffles"] = (sum(j["shuffle_stages"] for o in mr for j in o["jobs"]) / len(mr)
                        if mr else 0.0)
    m["mr.user_s"] = user_s
    m["mr.framework_s"] = mt.get("run_ms", 0) / 1e3 - user_s if mr else 0.0

    # streaming operations: those that ran micro-batches or wrote a sink
    # (q219's UpsertSink merges run outside a streaming query)
    st = [o for o in ops if o["batches"] or o["tasks"].get("build", {}).get("out_bytes")]
    batches = [b for o in st for b in o["batches"]]
    secs = [b["ms"] / 1e3 for b in batches]
    last = {}
    for b in batches:
        if b["run"] not in last or b["batch"] >= last[b["run"]]["batch"]:
            last[b["run"]] = b
    stt = tasks_of(st)
    m["streaming.batches"] = len(batches)
    m["streaming.batch_p50_s"] = statistics.median(secs) if secs else 0.0
    m["streaming.batch_max_s"] = max(secs) if secs else 0.0
    m["streaming.rows_in"] = sum(b["rows"] for b in batches)
    m["streaming.state_rows"] = sum(b["state_rows"] for b in last.values())
    m["streaming.state_mb"] = sum(b["state_bytes"] for b in last.values()) / MB
    m["streaming.output_mb"] = stt.get("out_bytes", 0) / MB
    m["streaming.write_amp"] = (stt.get("out_bytes", 0) / stt["in_bytes"]
                                if stt.get("in_bytes") else 0.0)
    return m


def per_layer(run):
    """Median over the traced passes of each per-layer metric."""
    spans = run["spans"]
    rows = []
    for p in run["passes"]:
        if p["traced"]:
            m = layer_metrics([o for o in run["ops"] if o["pass"] == p["pass"]],
                              spans, run["cpus"])
            m["jvm.heap_peak_mb"] = p["heap_peak_mb"]
            m["jvm.gc_s"] = p["gc_s"]
            rows.append(m)
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    out["session.start_s"], out["session.warmup_s"] = setup_parts(run)
    wall = {t: [p["wall_s"] for p in run["passes"] if not p["warmup"] and p["traced"] == t]
            for t in (True, False)}
    out["trace.overhead_s"] = statistics.median(wall[True]) - statistics.median(wall[False])
    return {k: out[k] for k in LAYERS}


def mr_jobs(run):
    """Per MapReduce job, medians over the traced passes of its run time,
    framework time (task run time minus user time) and user time."""
    traced = {p["pass"] for p in run["passes"] if p["traced"]}
    out = {}
    for o in run["ops"]:
        if o["kind"] == "mr" and o["pass"] in traced:
            user = o["mr"]["user_ns"] / 1e9
            r = out.setdefault(o["op"], {"run_s": [], "framework_s": [], "user_s": []})
            r["run_s"].append(o["lat_s"])
            r["framework_s"].append(tasks_of([o]).get("run_ms", 0) / 1e3 - user)
            r["user_s"].append(user)
    return {n: {k: statistics.median(v) for k, v in r.items()} for n, r in out.items()}


# ----------------------------------------------------------------------- run

def load1():
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) CPU ticks since boot; a virtual machine's load1 does
    not show other guests, its steal time does."""
    try:
        with open("/proc/stat") as f:
            t = [int(x) for x in f.readline().split()[1:]]
        return t[7], sum(t)
    except (OSError, IndexError, ValueError):
        return 0, 0


def jvm_cmd(classes, work, main="perfbench.Main", argv=()):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, build.classpath()])
    # GC threads as wide as local[n], so the collector does not compete
    # with the tasks for more cores than the run was given
    flags = [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
             f"-XX:ParallelGCThreads={CPUS}", "-XX:ConcGCThreads=1",
             f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    return ["java"] + opens + flags + ["-cp", cp, main] + list(argv)


def run_workload(workload, seed, seconds, trace, only=None, corrupt=None, log=sys.stderr):
    """Runs one workload; returns (result line dict, report dict)."""
    classes = build.build(log)
    inputs = os.path.join(WORK, "inputs", f"seed-{seed}")
    manifest = gen.generate(seed, inputs)
    run_dir = os.path.join(WORK, "runs", f"{workload}-seed{seed}-trace{int(trace)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = max(1, min(CPUS, os.cpu_count() or 1))
    sf = os.path.join(inputs, "sf")
    args = {"workload": workload, "data": sf, "mr": os.path.join(inputs, "mr"),
            "out": run_dir, "seconds": seconds,
            "trace": int(trace), "cpus": cpus}
    if only:
        args["only"] = only
    if corrupt:
        args["corrupt"] = corrupt
    stamp = {"nproc": os.cpu_count(), "local_n": cpus, "load1_before": load1()}
    steal0, total0 = cpu_ticks()
    t0 = time.time()
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        argv = [x for k, v in args.items() for x in (f"--{k}", str(v))]
        p = subprocess.Popen(jvm_cmd(classes, run_dir, argv=argv),
                             stdout=jlog, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = p.wait(timeout=RUN_LIMIT_S - 20)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"perfbench: {workload} exceeded {RUN_LIMIT_S - 20} s")
    if rc != 0:
        raise SystemExit(f"perfbench: JVM exited {rc}; see {run_dir}/jvm.log")
    with open(os.path.join(run_dir, "run.json")) as f:
        run = json.load(f)
    queries = sorted({o["op"] for o in run["ops"] if o["kind"] == "query"})
    bad_oracle = oracle_failures(sf, os.path.join(run_dir, "dump"), queries)
    stamp["load1_after"] = load1()
    stamp["wall_s"] = time.time() - t0
    steal1, total1 = cpu_ticks()
    stamp["steal_frac"] = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0

    failures = {}
    for o in run["ops"]:
        if not o["ok"]:
            failures.setdefault(o["op"], o.get("error", "failed"))
        if o["op"] in bad_oracle:
            o["ok"] = False
    for n, why in bad_oracle.items():
        failures.setdefault(n, "oracle: " + why)
    attempted = len(run["ops"])
    failed = sum(1 for o in run["ops"] if not o["ok"])

    e2e, info = end_to_end(run)
    info["fail_ratio"] = failed / attempted
    storage = run["storage_memory_mb"]
    working = sum(t["bytes"] for t in manifest["tables"].values()) / MB
    report = {"workload": workload, "seed": seed, "host": stamp,
              "inputs": manifest["tables"], "working_set_mb": working,
              "storage_memory_mb": storage, "end_to_end": e2e, "info": info,
              "failures": failures}
    if trace:
        report["per_layer"] = per_layer(run)
        report["mr_jobs"] = mr_jobs(run)
    metrics = report["per_layer"] if trace else e2e
    units = LAYERS if trace else E2E
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}
    with open(os.path.join(run_dir, "report.json"), "w") as f:
        json.dump(report, f, indent=1)
    return result, report


def print_report(report, out=sys.stdout):
    h = report["host"]
    w = report["workload"]
    print(f"== {w} seed={report['seed']} nproc={h['nproc']} local[{h['local_n']}] "
          f"load1 {h['load1_before']:.2f} -> {h['load1_after']:.2f} "
          f"steal {h['steal_frac']:.1%} wall {h['wall_s']:.1f} s", file=out)
    ins = report["inputs"]
    print("   inputs: " + ", ".join(f"{k} {v['rows']} rows/{v['bytes'] / 1024:.0f} KiB"
                                    for k, v in sorted(ins.items())), file=out)
    print(f"   working set {report['working_set_mb']:.1f} MB on disk vs Spark storage "
          f"memory {report['storage_memory_mb']:.0f} MB", file=out)
    info = report["info"]
    for k, v in report["end_to_end"].items():
        print(f"   {w} {k:<14} {v:12.4f} {E2E[k]}", file=out)
    print(f"   {w} {'retained_mb':<14} {info['retained_mb']:12.4f} MB", file=out)
    print(f"   {w} {'fail_ratio':<14} {info['fail_ratio']:12.4f} ratio", file=out)
    print(f"   op_tail_s is p{info['op_tail_percentile']} of {info['op_samples']} "
          f"operations over {info['timed_passes']} timed passes", file=out)
    for k, v in report.get("per_layer", {}).items():
        print(f"   {w} {k:<36} {v:14.4f} {LAYERS[k]}", file=out)
    for n, r in report.get("mr_jobs", {}).items():
        print(f"   {w} {n:<28} run {r['run_s']:.4f} s  framework {r['framework_s']:.4f} s"
              f"  user {r['user_s']:.4f} s", file=out)
    for n, why in report["failures"].items():
        print(f"   FAILED {n}: {why}", file=out)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=BENCH_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--only", help="comma-separated operation names (self-tests)")
    ap.add_argument("--corrupt", help="comma-separated operations whose results are "
                    "corrupted (self-tests)")
    a = ap.parse_args(argv)
    for need in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "compare.py")):
        if not os.path.exists(need):
            print(f"perfbench: {need} is missing; run from a full checkout", file=sys.stderr)
            return 2
    names = BENCH_WORKLOADS if a.workload == "all" else [a.workload]
    results = []
    for w in names:
        res, report = run_workload(w, a.seed, a.seconds, bool(a.trace), a.only, a.corrupt)
        print_report(report)
        results.append((w, res))
    if len(results) == 1:
        line = results[0][1]
    else:
        line = {"correct": all(r["correct"] for _, r in results),
                "attempted": sum(r["attempted"] for _, r in results),
                "failed": sum(r["failed"] for _, r in results),
                "metrics": {f"{w}.{k}": v for w, r in results for k, v in r["metrics"].items()}}
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
