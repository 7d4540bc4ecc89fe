#!/usr/bin/env python3
"""Layered benchmark for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: cdc_replication and replication_stream (the two BENCHMARK.json
lists), curation_dedup (runnable, but not in BENCHMARK.json), or `all`
(each of the three in turn). Builds graft and the harness from source when
they changed (sbt, offline), copies the input tables (perfbench/data) into
a fresh run directory, runs one JVM (graftbench.Harness) on local[nproc], checks
the outputs and prints every metric by name with its unit. The last line
of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones (and the trace is written to perfbench/results/).

Other flags: --record (store this run's warm-up row counts and digests
as the expected outputs), --inject-failure (make one entry fail on
purpose; used by the self-tests).
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
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.json")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ["cdc_replication", "replication_stream"]  # as in BENCHMARK.json
EXTRA_WORKLOADS = ["curation_dedup"]
HEAP = "2g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("pass_s", "s"),
    ("op_ms.gmean", "ms"),
    ("rows_per_s", "1/s"),
    ("peak_rss_mb", "MB"),
]
PER_LAYER = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimizer_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.queries", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.skipped_stages", "count"), ("scheduler.tasks", "count"),
    ("scheduler.driver_gap_s", "s"), ("scheduler.sched_delay_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"), ("executor.task_success_frac", "ratio"),
    ("executor.peak_task_mem_bytes", "B"),
    ("exchange.shuffle_write_bytes", "B"), ("exchange.shuffle_read_bytes", "B"),
    ("exchange.shuffle_records", "count"), ("exchange.fetch_wait_s", "s"),
    ("exchange.spill_bytes", "B"),
    ("sources.input_bytes", "B"), ("sources.input_rows", "count"),
    ("sources.output_bytes", "B"), ("sources.output_rows", "count"),
    ("sources.files_written", "count"),
    ("streaming.add_batch_ms", "ms"), ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"), ("streaming.commit_offsets_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"), ("streaming.state_rows", "count"),
    ("streaming.state_mem_bytes", "B"), ("streaming.state_commit_ms", "ms"),
    ("jvm.peak_heap_mb", "MB"),
    ("trace.overhead_frac", "ratio"),
]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def source_fingerprint():
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles graft + the harness if their sources changed; returns the classpath."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise BenchError(f"graft sources not found under {ROOT}/src/main/scala")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = os.path.join(HERE, "target", "build.stamp")
    fp = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(stamp) and open(stamp).read() == fp:
        return open(cp_file).read().strip()
    log("building graft and the harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "writeClasspath"]
    r = run_child(cmd, cwd=HERE, env=env, timeout=BUILD_TIMEOUT_S, out=sys.stderr)
    if r != 0 or not os.path.isfile(cp_file):
        raise BenchError(f"build failed (sbt exit {r})")
    with open(stamp, "w") as f:
        f.write(fp)
    return open(cp_file).read().strip()


def run_child(cmd, cwd, env, timeout, out):
    """Runs cmd in its own process group; kills the group on timeout or exit."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout}s: {cmd[0]}")
        return -1
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


# ------------------------------------------------------------------ one run

def check_inputs():
    """Checks the input tables against data/sf0.1/SHA256SUMS: the expected
    digests hold for these bytes only."""
    try:
        with open(os.path.join(DATA, "SHA256SUMS")) as f:
            sums = [line.split() for line in f if line.strip()]
        for digest, name in sums:
            with open(os.path.join(DATA, name), "rb") as t:
                if hashlib.sha256(t.read()).hexdigest() != digest:
                    raise BenchError(f"input table {name} differs from SHA256SUMS")
    except OSError as e:
        raise BenchError(f"input tables missing: {e}")


def run_jvm(args, classpath, workdir, t_start):
    data = os.path.join(workdir, "data")
    shutil.copytree(DATA, data)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(workdir, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", classpath, "graftbench.Harness",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--data", data, "--work", workdir, "--out", out]
    if args.inject_failure:
        cmd.append("--inject-failure")
    log_path = os.path.join(workdir, "jvm.log")
    budget = max(10, JVM_TIMEOUT_S - (time.time() - t_start))
    with open(log_path, "w") as lf:
        code = run_child(cmd, cwd=ROOT, env=dict(os.environ), timeout=budget, out=lf)
    if code != 0 or not os.path.isfile(out):
        with open(log_path) as lf:
            tail = lf.readlines()[-40:]
        sys.stderr.write("".join(tail))
        raise BenchError(f"harness JVM failed (exit {code})")
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    shutil.copy(out, os.path.join(HERE, "results", f"raw-{args.workload}.json"))
    if args.trace:
        shutil.copy(os.path.join(workdir, "trace.json"), trace_path(args.workload, args.seed))
    with open(out) as f:
        return json.load(f)


def trace_path(workload, seed):
    return os.path.join(HERE, "results", f"trace-{workload}-seed{seed}.json")


# ------------------------------------------------------------------ metrics

def net(x, wall=None):
    """Wall time net of hypervisor steal.

    The machine is a virtual machine: at times its hypervisor runs other
    guests while this one's cores want to run, and /proc/stat counts that
    stolen time. Over an interval the JVM got `cpu_s` of the `cpu_s +
    steal_s` CPU time it was ready to use, so the wall time it would have
    taken without steal is `wall * cpu_s / (cpu_s + steal_s)`. Without
    steal this is the measured wall time. It is taken over a whole pass (or
    the set-up): /proc/stat counts steal in 10 ms ticks, too coarse for one
    short operation.
    """
    wall = x["dur_s"] if wall is None else wall
    ready = x["cpu_s"] + x["steal_s"]
    return wall * x["cpu_s"] / ready if ready > 0 else wall


def judge(res, expected):
    """Marks every timed operation failed or not against the output checks,
    and takes every pass time net of steal; an operation's time is scaled
    by its pass's share.

    An operation fails when it raised. A batch entry also fails when its row
    count differs from the expected one, or when its warm-up digest differs
    from the expected digest. A micro-batch also fails when the replayed
    stream output is wrong. Returns the passes, each operation with a
    `failed` flag, and the failed checks as messages.
    """
    checks, bad = [], set()
    stream = res["workload"] == "replication_stream"
    stream_bad = stream and not res.get("check", {}).get("ok")
    if stream_bad:
        checks.append(f"stream replay mismatch: {res.get('check')}")
    for w in [] if stream else res.get("warmup", []):
        exp = expected.get(w["name"])
        if not w.get("ok"):
            problem = f"warm-up failed: {w.get('error')}"
        elif exp is None:
            problem = "no expected output recorded"
        elif (w["rows"], w["digest"]) != (exp["rows"], exp["digest"]):
            problem = (f"digest {w['rows']}/{w['digest']} != "
                       f"expected {exp['rows']}/{exp['digest']}")
        else:
            continue
        bad.add(w["name"])
        checks.append(f"{w['name']}: {problem}")
    passes = []
    for p in res.get("passes", []):
        share = net(p) / p["dur_s"] if p["dur_s"] > 0 else 1.0
        ops = []
        for o in p["ops"]:
            want = None if stream else expected.get(o["name"], {}).get("rows")
            if not o["ok"]:
                checks.append(f"{o['name']} (pass {p['index']}): {o['error']}")
            elif want is not None and o["rows"] != want:
                checks.append(f"{o['name']} (pass {p['index']}): {o['rows']} rows, "
                              f"expected {want}")
            failed = not o["ok"] or (stream_bad if stream else
                                     o["name"] in bad or o["rows"] != want)
            ops.append({"name": o["name"], "dur_s": o["dur_s"] * share, "rows": o["rows"],
                        "failed": failed})
        passes.append({"index": p["index"], "traced": p["traced"], "dur_s": net(p),
                       "wall_s": p["dur_s"], "cpu_s": p["cpu_s"], "steal_s": p["steal_s"],
                       "ops": ops})
    return passes, checks


def complete(p, n_entries):
    return len(p["ops"]) == n_entries and not any(o["failed"] for o in p["ops"])


def gmean_of_medians(ops):
    """Geometric mean, over operation names, of each name's median latency
    in ms: every entry weighs the same, and one slow execution of an entry
    moves nothing."""
    by_name = {}
    for o in ops:
        by_name.setdefault(o["name"], []).append(o["dur_s"] * 1e3)
    return math.exp(statistics.fmean(math.log(statistics.median(v)) for v in by_name.values()))


def metrics(res, expected, t_start, n_entries):
    """End-to-end and per-layer metrics of one harness result. Times are
    wall clock net of steal; each is a median over the run's passes or
    operations."""
    passes, checks = judge(res, expected)
    cpus = res["session"]["cpus"]
    for p in passes:
        p["complete"] = complete(p, n_entries(p))
        p["steal_frac"] = p["steal_s"] / (p["wall_s"] * cpus)
    ops = [o for p in passes for o in p["ops"]]
    attempted, failed = len(ops), sum(o["failed"] for o in ops)
    # the warm passes count for the checks but not for the times: they
    # still run measurably slower than later passes (JIT, codegen caches)
    measured = [p for p in passes if p["index"] >= res["warm_passes"]]
    untraced = [p for p in measured if not p["traced"]]
    full = [p for p in untraced if p["complete"]]
    good_ops = [o for p in untraced for o in p["ops"] if not o["failed"]]
    nan = float("nan")
    e2e = {
        "setup_s": net(res["setup"], res["setup"]["first_timed_epoch_ms"] / 1e3 - t_start),
        "pass_s": statistics.median(p["dur_s"] for p in full) if full else nan,
        "op_ms.gmean": gmean_of_medians(good_ops) if good_ops else nan,
        "rows_per_s": (statistics.median(sum(o["rows"] for o in p["ops"]) / p["dur_s"]
                                         for p in full) if full else nan),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    layers = dict(res.get("layers") or {})
    if res.get("trace"):
        traced = [p["dur_s"] for p in measured if p["traced"] and p["complete"]]
        layers["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(p["dur_s"] for p in full) - 1
            if traced and full else nan)
    info = {
        "attempted": attempted, "failed": failed,
        "error_rate": failed / attempted if attempted else 1.0,
        "passes": len(passes), "passes_complete": sum(p["complete"] for p in passes),
        "passes_timed": len(full), "checks": checks,
        "pass_wall_s": [round(p["wall_s"], 3) for p in passes],
        "pass_cpu_s": [round(p["cpu_s"], 3) for p in passes],
        "steal_frac": [round(p["steal_frac"], 4) for p in passes],
    }
    return e2e, layers, info


# ------------------------------------------------------------------ main

def expected_for(workload):
    if not os.path.isfile(EXPECTED):
        return {}
    with open(EXPECTED) as f:
        return json.load(f).get(workload, {})


def record(workload, res):
    allx = {}
    if os.path.isfile(EXPECTED):
        with open(EXPECTED) as f:
            allx = json.load(f)
    allx[workload] = {w["name"]: {"rows": w["rows"], "digest": w["digest"]}
                      for w in res["warmup"] if w.get("ok")}
    with open(EXPECTED, "w") as f:
        json.dump(allx, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"recorded expected outputs of {workload} in {EXPECTED}")


def one(args, classpath):
    """Runs one workload; returns (correct, attempted, failed, metrics)."""
    check_inputs()
    t_start = time.time()
    workdir = os.path.join(HERE, ".runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        res = run_jvm(args, classpath, workdir, t_start)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    if res.get("fatal"):
        raise BenchError(f"harness: {res['fatal']}")
    if args.record and args.workload != "replication_stream":
        record(args.workload, res)
    stream = args.workload == "replication_stream"
    n_warm = len(res.get("warmup", []))

    def n_entries(p):
        return len(p["ops"]) if stream else n_warm

    e2e, layers, info = metrics(res, expected_for(args.workload), t_start, n_entries)
    for c in info["checks"][:20]:
        log(f"check failed: {c}")
    s = res["session"]
    log(f"{args.workload} seed={args.seed}: master={s['master']} shuffle_partitions="
        f"{s['shuffle_partitions']} codec={s['codec']} heap={s['heap_max_mb']}MB "
        f"spark={s['spark_version']}")
    log(f"  attempted={info['attempted']} failed={info['failed']} "
        f"error_rate={info['error_rate']:.4f} passes={info['passes']} "
        f"complete={info['passes_complete']} timed={info['passes_timed']}")
    log(f"  per pass: wall_s={info['pass_wall_s']} cpu_s={info['pass_cpu_s']} "
        f"steal_frac={info['steal_frac']}")
    table = PER_LAYER if args.trace else END_TO_END
    values = layers if args.trace else e2e
    out = {}
    for name, unit in table:
        v = values.get(name, float("nan"))
        log(f"  {name:32s} {v:14.6g} {unit}")
        if v is None or (isinstance(v, float) and math.isnan(v)):
            raise BenchError(f"metric {name} could not be measured")
        out[name] = {"value": v, "unit": unit}
    correct = info["failed"] == 0 and not info["checks"]
    return correct, info["attempted"], info["failed"], out


def main():
    ap = argparse.ArgumentParser(description="Layered benchmark for graft.")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA_WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--record", action="store_true")
    ap.add_argument("--inject-failure", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classpath = build()
        if args.workload != "all":
            correct, attempted, failed, out = one(args, classpath)
        else:
            correct, attempted, failed, out = True, 0, 0, {}
            for w in WORKLOADS + EXTRA_WORKLOADS:
                c, a, f, m = one(argparse.Namespace(**{**vars(args), "workload": w}), classpath)
                correct, attempted, failed = correct and c, attempted + a, failed + f
                out.update({f"{w}.{k}": v for k, v in m.items()})
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}), flush=True)


if __name__ == "__main__":
    main()
