#!/usr/bin/env python3
"""graft engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload sql_etl --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (offline, from the sbt and coursier caches) into `target/`
directories and records the runtime classpath under `.bench_build/`; later
runs reuse it while the sources are unchanged. Each run then

  1. generates the sf0.1 input tables (`gen.py`, from the fixed DATA_SEED;
     once per checkout, then reused),
  2. starts one engine JVM (`harness/`, `local[nproc]`) that sets the engine
     up, runs a cold pass and then warm rounds for `--seconds` (at least
     two), each in an entry order drawn from `--seed`, and writes every
     entry's output,
  3. checks every output against DuckDB or an independent property
     (`checks.py`),

and prints one JSON line: `correct`, `attempted`, `failed` and the metrics
(the end-to-end ones with `--trace 0`, the per-layer ones with `--trace 1`).
Per-run artifacts (result, trace, check report) are kept under
`.bench_build/results/`.
"""
import argparse
import hashlib
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

import checks  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JVM_TIMEOUT_S = 150
# The inputs are the same in every run; `--seed` only sets the entry order.
DATA_SEED = 42

# Spark on JDK 17 outside spark-submit (same list as the engine's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build compiles, so a stale classpath is never reused."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "harness", "build.sbt"),
             os.path.join(HERE, "harness", "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build():
    """Compile engine + harness once per source state; return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the root of a graft checkout")
    cp_file = os.path.join(BUILD, f"classpath-{source_digest()}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness with sbt (first run in this checkout)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as logf:
        rc = run_bounded(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "export harness/Runtime/fullClasspath"],
            840, cwd=os.path.join(HERE, "harness"), env=env, stdout=logf,
            stderr=subprocess.STDOUT, text=True)
    with open(log_path) as fh:
        out = fh.read()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(out[-6000:])
        raise SystemExit(f"perfbench: build failed (sbt exit {rc})")
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    return lines[-1].strip()


def heap_mb():
    """A fixed 4 GiB heap (a third of the memory on boxes under 12 GiB)."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return min(4096, max(1024, kb // 1024 // 3))


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (the sbt launcher and the JVM under it) and wait for it."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return "timeout"


def input_tables():
    """The generated input tables, made once per generator version."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        digest = hashlib.sha256(fh.read()).hexdigest()[:16]
    data = os.path.join(BUILD, f"data-{DATA_SEED}-{digest}")
    if not os.path.isdir(data):
        part = f"{data}.part-{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        gen.generate(part, DATA_SEED)
        os.rename(part, data)
    return data


def run_engine(cp, wl, args, run_dir):
    data = input_tables()
    out, tmp = (os.path.join(run_dir, d) for d in ("out", "tmp"))
    for d in (out, tmp):
        os.makedirs(d)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        # heap and young generation pinned: with the young generation fully
        # cycled in every run the peak resident set repeats within a few
        # percent, where a heap grown on demand peaked anywhere between 1.6
        # and 3.0 GB over runs of the same code
        f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", f"-Xmn{heap_mb() // 4}m",
        "-XX:ReservedCodeCacheSize=512m",
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
        f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(out, 'warehouse')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Harness",
        data, out, ",".join(wl["entries"]), str(args.seed), str(args.seconds),
        str(args.trace), ",".join(wl["tables"]), ",".join(wl["staging"]),
        args.workload]
    with open(os.path.join(run_dir, "engine.log"), "w") as logf:
        rc = run_bounded(cmd, JVM_TIMEOUT_S, cwd=run_dir, stdout=logf,
                         stderr=subprocess.STDOUT)
    if rc != 0:
        with open(os.path.join(run_dir, "engine.log")) as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"perfbench: engine JVM failed ({rc})")
    with open(os.path.join(out, "result.json")) as fh:
        result = json.load(fh)
    trace = None
    if args.trace:
        with open(os.path.join(out, "trace.json")) as fh:
            trace = json.load(fh)
    return result, trace, data, out


def per_entry_medians(result):
    keys = result["cold"].keys()
    return {k: statistics.median(r[k] for r in result["warm"] if r.get(k) is not None)
            for k in keys if any(r.get(k) is not None for r in result["warm"])}


def end_to_end(result):
    med = per_entry_medians(result)
    m = {
        "setup_s": (result["setup"]["total_s"], "s"),
        "first_pass_s": (sum(v for v in result["cold"].values() if v is not None), "s"),
        "steady_s": (sum(med.values()), "s"),
        "entry_p50_s": (statistics.median(med.values()), "s"),
        "cpu_s": (statistics.median(result["round_cpu_s"]), "s"),
        "rss_peak_mb": (result["rss_peak_mb"], "MB"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


PER_ROUND_COUNTS = [
    ("build.jobs", "count"), ("plan.analysis_s", "s"), ("plan.optimization_s", "s"),
    ("plan.planning_s", "s"), ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.sched_delay_s", "s"), ("spark.task_deser_s", "s"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.shuffle_write_mb", "MB"),
    ("spark.shuffle_read_mb", "MB"), ("spark.spill_mb", "MB"), ("write.output_mb", "MB"),
    ("write.output_records", "count"), ("write.files", "count"), ("jvm.gc_s", "s"),
]


def per_layer(trace, calib_s):
    """Per-layer metrics from the span file: self times and counts, summed
    per round, reported as the median over warm rounds (JIT time also over
    the cold pass). `calib_s` are the run's CPU calibration times."""
    spans = trace["spans"]
    dur = lambda s: s["end_s"] - s["start_s"]  # noqa: E731
    m = {}
    setup = next(s for s in spans if s["name"] == "setup")
    for s in spans:
        if s["name"].startswith("setup."):
            # the session layer also pays JVM start, up to main()
            extra = setup["counts"]["jvm_start_s"] if s["name"] == "setup.session" else 0.0
            m[s["name"] + "_s"] = (dur(s) + extra, "s")
    rounds = {}
    for s in spans:
        if s["name"] in ("build", "plan", "exec"):
            rounds.setdefault(s["round"], {}).setdefault(s["name"] + "_s", 0.0)
            rounds[s["round"]][s["name"] + "_s"] += dur(s)
        if s["name"] == "entry":
            r = rounds.setdefault(s["round"], {})
            for k, v in s["counts"].items():
                if k == "spark.peak_exec_mem_mb":
                    r[k] = max(r.get(k, 0.0), v)
                else:
                    r[k] = r.get(k, 0.0) + v
    # the build/plan/exec spans must account for each entry's wall time
    gap = 0.0
    for s in spans:
        if s["name"] == "entry" and dur(s) > 0:
            kids = sum(dur(c) for c in spans if c["parent"] == s["id"])
            gap = max(gap, (dur(s) - kids) / dur(s))
    warm = [v for k, v in rounds.items() if k.startswith("warm-")]

    def med(key):
        return statistics.median(r.get(key, 0.0) for r in warm)

    for key in ("build_s", "plan_s", "exec_s"):
        m[key] = (med(key), "s")
    for key, unit in PER_ROUND_COUNTS:
        m[key] = (med(key), unit)
    m["spark.peak_exec_mem_mb"] = (med("spark.peak_exec_mem_mb"), "MB")
    m["jvm.jit_s"] = (rounds.get("cold", {}).get("jvm.jit_s", 0.0), "s")
    m["jvm.jit_warm_s"] = (med("jvm.jit_s"), "s")
    # steady_s as the traced run measured it: minus the untraced steady_s,
    # this is the tracing overhead
    per_key = {}
    for s in spans:
        if s["name"] == "entry" and s["round"].startswith("warm-"):
            per_key.setdefault(s["key"], []).append(dur(s))
    m["traced.steady_s"] = (sum(statistics.median(v) for v in per_key.values()), "s")
    m["trace.unaccounted_share"] = (gap, "ratio")
    # the box's single-thread speed during the run: a fixed integer loop,
    # timed after set-up and after each warm round (median)
    m["calib_s"] = (statistics.median(calib_s), "s")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    cp = build()
    run_dir = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, trace, data, out = run_engine(cp, wl, args, run_dir)
        report = checks.check_all(data, os.path.join(out, "check"), wl["entries"],
                                  result["written"], result["oracle"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for f in result["failures"]:
        log(f"FAILED {f}")
    for key, ok, msg in report:
        if not ok:
            log(f"CHECK FAILED {key}: {msg}")
    check_failed = sum(1 for k in wl["entries"] if k not in result["written"])
    line = {
        "correct": all(ok for _, ok, _ in report),
        "attempted": result["attempted"] + len(wl["entries"]),
        "failed": result["failed"] + check_failed,
        "metrics": per_layer(trace, result["calib_s"]) if args.trace else end_to_end(result),
    }
    keep = os.path.join(BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    stem = os.path.join(keep, f"{args.workload}-seed{args.seed}-trace{args.trace}-"
                              f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    with open(stem + ".result.json", "w") as fh:
        json.dump({"result": result, "checks": report}, fh)
    if trace is not None:
        with open(stem + ".trace.json", "w") as fh:
            json.dump(trace, fh)
    with open(stem + ".line.json", "w") as fh:
        json.dump(dict(line, workload=args.workload, seed=args.seed, trace=args.trace), fh)
    print(json.dumps(line))


if __name__ == "__main__":
    main()
