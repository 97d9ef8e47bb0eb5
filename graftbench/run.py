#!/usr/bin/env python3
"""The graft benchmark: run one workload against the library and print
its metrics.

    python3 graftbench/run.py --workload replicate_live --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The first call compiles the library and
the harness into .bench_build (see build.py). The JVM session runs at
local[nproc - 2] (at least 1). With --trace 0 the last line of stdout is
a JSON object with the end-to-end metrics; with --trace 1 it carries the
per-layer metrics, and the lines above it report the workload's
per-module layer metrics (written in full, with the spans, to
.bench_build/runs/<run>/trace.json).
Exits non-zero, printing no result, when the build or the run fails.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("replicate_live", "curate_batch")
RUN_TIMEOUT_S = 170
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
         "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
         "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs",
         "java.base/sun.security.action", "java.base/sun.util.calendar"]


def loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return float(fh.read().split()[0])
    except OSError:
        return -1.0


def cpu_times():
    """(steal, total) jiffies of all CPUs: the share of time the
    hypervisor gave to other guests shows in steal."""
    try:
        with open("/proc/stat") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def main():
    started = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    try:
        classes = build.ensure(root, build_dir)
    except build.BuildError as e:
        print("[graftbench] build failed: %s" % e, file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    # Both workloads are bound by the driver thread (planning, job
    # scheduling, commits). Two cores are left to it and to the other
    # non-task threads (the producer, GC, JIT): with a task slot on every
    # core the driver thread waited on tasks and the live route's batches
    # slowed by ~15%, more on a busy host.
    slots = max(1, nproc - 2)
    run_dir = os.path.join(build_dir, "runs", "%s-s%d-t%d-%d" % (
        a.workload, a.seed, a.trace, os.getpid()))
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(tmp)
    raw_path = os.path.join(run_dir, "raw.json")
    log_path = os.path.join(run_dir, "jvm.log")
    load_start = loadavg()
    steal_start = cpu_times()
    t0_ms = time.time() * 1000.0
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dderby.system.home=" + tmp,
            "-cp", classes + ":" + os.path.join(build.spark_jars(), "*"),
            "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", repr(a.seconds), "--trace", str(a.trace),
            "--cpus", str(slots), "--work", work, "--out", raw_path,
            "--t0-ms", repr(t0_ms)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
    remaining = RUN_TIMEOUT_S - (time.time() - started)
    with open(log_path, "wb") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, timeout=max(remaining, 30)).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(raw_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        print("[graftbench] %s run failed (%s); log: %s" % (a.workload, rc, log_path),
              file=sys.stderr)
        return 1

    with open(raw_path) as fh:
        raw = json.load(fh)
    os.remove(raw_path)
    e2e, layer, report = metrics.compute(raw)
    host = raw["host"]
    load_end = loadavg()
    steal_end = cpu_times()
    steal = ((steal_end[0] - steal_start[0]) /
             max(steal_end[1] - steal_start[1], 1))
    contended = (load_start > 2 * nproc or steal > 0.1 or
                 host["start"]["rival_jvms"] > 0 or host["end"]["rival_jvms"] > 0)
    print("[host] cpus=%d nproc=%d task_slots=%d loadavg_start=%.2f "
          "loadavg_end=%.2f steal=%.3f rival_jvms=%d/%d contended=%s" % (
              host["start"]["cpus"], nproc, slots, load_start, load_end, steal,
              host["start"]["rival_jvms"], host["end"]["rival_jvms"], contended))
    if contended:
        print("[host] CONTENDED: other load was present; these numbers are not "
              "isolated", file=sys.stderr)
    late = max(raw["layer"].get("gen_late_ms") or [0])
    if late > raw["layer"].get("tick_ms", late):
        print("[host] INVALID: the producer started a tick %.0f ms late, more than "
              "its tick; the latency figures are not the route's" % late)
        print("[host] INVALID producer lateness %.0f ms" % late, file=sys.stderr)
    for name, v in sorted(raw["checks"].items()):
        print("[check] %s %s" % (name, json.dumps(v, sort_keys=True)))
    shown = dict(e2e)
    if a.trace:
        shown.update(layer)
        shown.update(report)
        with open(os.path.join(run_dir, "trace.json"), "w") as fh:
            json.dump({"spans": raw["spans"], "layer": report,
                       "per_layer": layer, "end_to_end": e2e}, fh)
    else:
        shown["error_rate"] = report["error_rate"]
        shown["latency.samples"] = report["latency.samples"]
    for k in sorted(shown):
        v, unit = shown[k]
        print("[metric] %s %s %s" % (k, "n/a" if v is None else "%.6g" % v, unit))
    chosen = layer if a.trace else e2e
    correct = raw["failed"] == 0 and raw["attempted"] > 0 and report["latency.uncommitted"][0] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
