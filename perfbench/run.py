#!/usr/bin/env python3
"""Run one benchmark workload against the graft program in this checkout.

    python3 perfbench/run.py --workload <bulk_load|sql_mix|log_history>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt, offline),
then launches one JVM that sets up the workload, runs its closed loop for
--seconds, and checks its oracle. Prints one line per metric
(`name workload value unit`) and, last, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. Full detail (every operation, span
and counter) goes to perfbench/out/<workload>-s<seed>-t<trace>.json.
See perfbench/README.md for the workloads, metrics and predictions.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")

WORKLOADS = ("bulk_load", "sql_mix", "log_history")

# Candidate tail percentiles: a run reports, per class, the highest one
# with at least ten samples beyond it, and the median where none has.
TAILS = (99, 95, 90, 75)

END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("write_ms", "ms"),
    ("read_ms", "ms"),
    ("stored_bytes_per_user_byte", "ratio"),
]

PER_LAYER = [
    ("core.log.commit_if_ms", "ms"),
    ("core.log.current_version_ms", "ms"),
    ("core.log.current_commit_ms", "ms"),
    ("core.log.updates_ms", "ms"),
    ("core.log.version_at_ms", "ms"),
    ("core.log.state_ms", "ms"),
    ("core.log.bytes_per_commit", "bytes"),
    ("core.log.history_len", "count"),
    ("core.metastore.update_ms", "ms"),
    ("core.metastore.ops_per_commit", "count"),
    ("spark.write.jobs_per_commit", "count"),
    ("spark.write.tasks_per_commit", "count"),
    ("spark.write.job_ms", "ms"),
    ("spark.write.driver_ms", "ms"),
    ("spark.write.cores_busy_ratio", "ratio"),
    ("spark.write.files_per_partition_dir", "count"),
    ("spark.write.bytes_per_commit", "bytes"),
    ("spark.read.analyze_ms", "ms"),
    ("spark.read.plan_ms", "ms"),
    ("spark.read.exec_ms", "ms"),
    ("spark.read.jobs_per_select", "count"),
    ("spark.read.driver_ms", "ms"),
    ("spark.read.files_discovered", "count"),
    ("spark.dml.jobs_per_stmt", "count"),
    ("spark.dml.job_ms", "ms"),
    ("spark.dml.driver_ms", "ms"),
    ("spark.dml.shuffle_bytes", "bytes"),
    ("spark.dml.files_written", "count"),
    ("spark.dml.rows_written_per_row_changed", "ratio"),
    ("sparkjobs.task_ms", "ms"),
    ("sparkjobs.task_cpu_ms", "ms"),
    ("jvm.gc_ms", "ms"),
    ("trace.ops_per_s", "1/s"),
]

# The layer each operation kind enters the program through, by prefix.
LAYERS = [
    ("commit_", "spark.write"),  # bulk_load: versionedInsertInto
    ("insert", "spark.dml"), ("merge_", "spark.dml"), ("update", "spark.dml"), ("delete", "spark.dml"),
    ("read", "spark.read"), ("select", "spark.read"), ("as_of", "spark.read"),
    ("changes", "spark.read"), ("history", "spark.read"),
    ("log_", "core.log"),
]


def layer_of(kind):
    return next(layer for prefix, layer in LAYERS if kind.startswith(prefix))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# --------------------------------------------------------------------- build

def source_stamp():
    """Hash of every input of the build: the program's and the harness's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main"),
              os.path.join(ROOT, "project"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in inputs:
        if os.path.isfile(top):
            files = [top]
        else:
            files = []
            for d, dirs, names in os.walk(top):
                dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
                files += [os.path.join(d, n) for n in sorted(names)
                          if n.endswith((".scala", ".java", ".sbt", ".properties"))]
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the last build saw the same sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources: run from the root of a graft checkout")
    stamp_file = os.path.join(TARGET, "build.stamp")
    stamp = source_stamp()
    launch = [os.path.join(TARGET, "classpath.txt"), os.path.join(TARGET, "java-options.txt")]
    if all(os.path.isfile(f) for f in launch) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true -Xmx2g").strip()
    if os.path.isfile(os.path.expanduser("~/.sbt/repositories")):
        env["SBT_OPTS"] += " -Dsbt.override.build.repos=true"
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                             cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail(f"build failed (exit {rc}); see perfbench/out/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


# ----------------------------------------------------------------------- run

def cpu_times():
    """The host's CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal), or None where /proc/stat does not exist."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def launch(args, raw_path):
    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(TARGET, "java-options.txt")) as fh:
        options = [l.strip() for l in fh if l.strip() and not l.startswith("-Xmx")]
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # a fixed heap: with a growing one, garbage collection, and with it the
    # latencies, differ from run to run of the same inputs
    cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"] + options +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", raw_path, "--cores", str(cores)])
    log_path = raw_path[:-len(".raw.json")] + ".log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=args.seconds + 140)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        fail(f"{args.workload} run failed ({rc}); see {os.path.relpath(log_path, ROOT)}")
    return cores


# ------------------------------------------------------------------- metrics

def percentile(xs, p):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def whole_cycles(raw):
    """The operations of the run's first whole cycles of its fixed mix:
    `cycle_ops` operations each, at most `measured_cycles` of them, so
    every run measures the same work however fast it went. A run shorter
    than one cycle keeps all its operations."""
    ops = raw["ops"]
    n = int(raw["values"]["cycle_ops"])
    cycles = min(len(ops) // n, int(raw["values"]["measured_cycles"]))
    return ops[:cycles * n] or ops


def end_to_end(raw):
    """Over the whole cycles: `ops_per_s` is completed operations over their
    summed wall time; `write_ms`/`read_ms` are geometric means of the
    write/read kinds' mean latencies, so each kind weighs the same and
    every call of a kind counts."""
    ops = whole_cycles(raw)
    lat = {}
    for kind, cls, a, b, ok, _ in ops:
        if ok:
            lat.setdefault((kind, cls), []).append(b - a)
    avg = {k: mean(v) for k, v in lat.items()}
    busy_ms = sum(b - a for _, _, a, b, _, _ in ops)
    return {
        "setup_s": median(raw["setup_s"]),
        "ops_per_s": 1000.0 * sum(1 for o in ops if o[4]) / busy_ms if busy_ms else 0.0,
        "write_ms": geomean([m for (k, c), m in avg.items() if c == "write"]),
        "read_ms": geomean([m for (k, c), m in avg.items() if c == "read"]),
        "stored_bytes_per_user_byte": raw["values"].get("stored_bytes_per_user_byte", 0.0),
    }


def latency_detail(raw):
    """Per class, over the whole cycles: sample count, median, and the tail
    at the highest percentile with ten samples beyond it; and rows written
    per busy second."""
    ops = whole_cycles(raw)
    ok = [o for o in ops if o[4]]
    busy_s = sum(o[3] - o[2] for o in ops) / 1000.0
    out = {"rows_written_per_s": sum(o[5] for o in ok if o[1] == "write") / busy_s if busy_s else 0.0}
    for c in ("write", "read"):
        xs = [o[3] - o[2] for o in ok if o[1] == c]
        p = next((p for p in TAILS if len(xs) * (100 - p) / 100.0 >= 10), 50)
        out[c] = {"samples": len(xs), "p50_ms": percentile(xs, 50),
                  "tail_percentile": p, "tail_ms": percentile(xs, p)}
    return out


def breakdown(raw):
    """Per-operation attribution from the spans: each operation's wall time
    splits into Spark-job time (union of its job spans), metastore time,
    and driver time (the rest). Returns one row per operation."""
    spans = {}
    for op, layer, name, a, b in raw["spans"]:
        spans.setdefault(op, []).append((layer, name, a, b))
    counters = {}
    for op, name, v in raw["counters"]:
        counters.setdefault(op, {})[name] = v
    rows = []
    for i, (kind, cls, a, b, ok, rows_written) in enumerate(raw["ops"]):
        own = spans.get(i, [])
        jobs = [(x, y) for layer, _, x, y in own if layer == "sparkjobs"]
        job_ms = union_ms(jobs, a, b)
        meta_ms = sum(y - x for layer, _, x, y in own if layer == "core.metastore")
        rows.append({
            "op": i, "kind": kind, "layer": layer_of(kind), "ok": ok,
            "wall_ms": b - a, "job_ms": job_ms, "metastore_ms": meta_ms,
            "driver_ms": b - a - job_ms - meta_ms, "rows": rows_written,
            "phases": {name: y - x for layer, name, x, y in own
                       if layer not in ("sparkjobs", "core.metastore")},
            "counters": counters.get(i, {}),
        })
    return rows


def per_layer(raw, rows, cores):
    values = raw["values"]
    by_layer = {}
    for r in rows:
        if r["ok"]:
            by_layer.setdefault(r["layer"], []).append(r)
    write, read, dml = (by_layer.get(k, []) for k in ("spark.write", "spark.read", "spark.dml"))
    spark_ops = write + read + dml

    def c(rs, name):
        return [r["counters"].get(name, 0.0) for r in rs]

    def log_ms(method):
        return median([y - x for _, layer, name, x, y in raw["spans"]
                       if layer == "core.log" and name == method])

    job_total = sum(r["job_ms"] for r in write)
    changed = sum(r["rows"] for r in dml)
    return {
        "core.log.commit_if_ms": log_ms("commitIf"),
        "core.log.current_version_ms": log_ms("currentVersion"),
        "core.log.current_commit_ms": log_ms("currentCommit"),
        "core.log.updates_ms": log_ms("updates"),
        "core.log.version_at_ms": log_ms("versionAt"),
        "core.log.state_ms": log_ms("tableState"),
        "core.log.bytes_per_commit": values.get("core.log.bytes_per_commit", 0.0),
        "core.log.history_len": values.get("core.log.history_len", 0.0),
        "core.metastore.update_ms": median([r["metastore_ms"] for r in write]),
        "core.metastore.ops_per_commit": mean(c(write, "metastore_ops")),
        "spark.write.jobs_per_commit": mean(c(write, "jobs")),
        "spark.write.tasks_per_commit": mean(c(write, "tasks")),
        "spark.write.job_ms": median([r["job_ms"] for r in write]),
        "spark.write.driver_ms": median([r["driver_ms"] for r in write]),
        "spark.write.cores_busy_ratio":
            sum(c(write, "task_ms")) / (job_total * cores) if job_total else 0.0,
        "spark.write.files_per_partition_dir": values.get("spark.write.files_per_partition_dir", 0.0),
        "spark.write.bytes_per_commit": values.get("spark.write.bytes_per_commit", 0.0),
        "spark.read.analyze_ms": median([r["phases"].get("analyze", 0.0) for r in read]),
        "spark.read.plan_ms": median([r["phases"].get("plan", 0.0) for r in read]),
        "spark.read.exec_ms": median([r["phases"].get("execute", 0.0) for r in read]),
        "spark.read.jobs_per_select": mean(c(read, "jobs")),
        "spark.read.driver_ms": median([r["driver_ms"] for r in read]),
        "spark.read.files_discovered": mean(c(read, "files_discovered")),
        "spark.dml.jobs_per_stmt": mean(c(dml, "jobs")),
        "spark.dml.job_ms": median([r["job_ms"] for r in dml]),
        "spark.dml.driver_ms": median([r["driver_ms"] for r in dml]),
        "spark.dml.shuffle_bytes": mean(c(dml, "shuffle_bytes")),
        "spark.dml.files_written": values.get("spark.dml.files_written", 0.0),
        "spark.dml.rows_written_per_row_changed":
            sum(c(dml, "records_written")) / changed if changed else 0.0,
        "sparkjobs.task_ms": mean(c(spark_ops, "task_ms")),
        "sparkjobs.task_cpu_ms": mean(c(spark_ops, "task_cpu_ms")),
        "jvm.gc_ms": mean(c([r for r in rows if r["ok"]], "jvm.gc_ms")),
        "trace.ops_per_s": end_to_end(raw)["ops_per_s"],
    }


# ---------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    build()
    os.makedirs(OUT, exist_ok=True)
    name = f"{args.workload}-s{args.seed}-t{args.trace}"
    raw_path = os.path.join(OUT, name + ".raw.json")
    if os.path.exists(raw_path):
        os.remove(raw_path)
    cpu0 = cpu_times()
    cores = launch(args, raw_path)
    cpu1 = cpu_times()
    with open(raw_path) as fh:
        raw = json.load(fh)
    os.remove(raw_path)

    attempted = len(raw["ops"])
    failed = sum(1 for o in raw["ops"] if not o[4])
    correct = not raw["mismatches"] and raw["checks"] > 0 and failed == 0 and attempted > 0
    detail = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores, "correct": correct,
              "attempted": attempted, "failed": failed,
              "failed_op_ratio": failed / attempted if attempted else 1.0,
              "latency": latency_detail(raw),
              # share of the host's CPU time stolen by its hypervisor during
              # the run: runs with a high share ran on a contended host
              "host_steal_share": (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
              if cpu0 and cpu1 else None,
              "raw": raw}
    if args.trace:
        rows = breakdown(raw)
        metrics = per_layer(raw, rows, cores)
        units = PER_LAYER
        detail["operations"] = rows
        untraced = os.path.join(OUT, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]["ops_per_s"]
            detail["trace_overhead_ratio"] = 1.0 - metrics["trace.ops_per_s"] / base
    else:
        metrics = end_to_end(raw)
        units = END_TO_END
    detail["metrics"] = metrics
    with open(os.path.join(OUT, name + ".json"), "w") as fh:
        json.dump(detail, fh)

    # one short line per metric the workload measures; the result line
    # below carries every metric with all its digits
    for m, unit in units:
        if metrics[m]:
            print(f"{m} {args.workload} {metrics[m]:.6g} {unit}")
    if "trace_overhead_ratio" in detail:
        print(f"trace.overhead_ratio {args.workload} {detail['trace_overhead_ratio']:.6g} ratio")
    for msg in raw["mismatches"] + raw["failures"]:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": metrics[m], "unit": unit} for m, unit in units}}))


if __name__ == "__main__":
    main()
