#!/usr/bin/env python3
"""Layered extraction benchmark.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), runs one workload
in one JVM on local[4] (perfbench/src/PerfBench.scala) and prints, as
the last line of standard output, one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
The line before it is the run's host-noise record: /proc/stat steal and
iowait over the run, load average at start, nproc, JVM flags, Spark
conf and the source state. Exits non-zero on a wrong output or a
failed run. Inputs, builds and records live in `.bench_build/`.
"""
import argparse
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
BUILD = build.BUILD
RUN_LIMIT_S = 175
JVM_FLAGS = [
    "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f for pkg in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for f in ("--add-opens", f"{pkg}=ALL-UNNAMED")]


def proc_stat():
    """System-wide (steal, iowait) CPU seconds since boot."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    hz = os.sysconf("SC_CLK_TCK")
    return int(cpu[8]) / hz, int(cpu[5]) / hz


def source_state():
    """The checked-out commit when there is a git checkout, else None."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    t_start = time.monotonic()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build.build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    result_path = os.path.join(records, tag + ".result.json")
    if os.path.exists(result_path):
        os.remove(result_path)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)

    load1 = os.getloadavg()[0]
    steal0, iowait0 = proc_stat()
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={tmp}", "-cp", cp,
           "org.apache.spark.perfbench.PerfBench", a.workload, str(a.seed),
           str(a.seconds), str(a.trace), BUILD, result_path]
    limit = RUN_LIMIT_S - (time.monotonic() - t_start)
    with open(os.path.join(records, tag + ".log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT, timeout=limit).returncode
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: run exceeded {RUN_LIMIT_S}s; see {log.name}")
    steal1, iowait1 = proc_stat()
    if rc != 0 or not os.path.exists(result_path):
        raise SystemExit(f"perfbench: benchmark JVM exited {rc}; see {records}/{tag}.log")

    with open(result_path) as f:
        res = json.load(f)
    host = {"host.steal_s": steal1 - steal0, "host.iowait_s": iowait1 - iowait0,
            "host.loadavg_1m": load1}
    measured = dict(res["metrics"], **host)
    missing = [m["name"] for m in wanted if m["name"] not in measured]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    record = dict(res["record"], **host, workload=a.workload, seed=a.seed,
                  trace=a.trace, commit=source_state(),
                  build=os.path.basename(os.path.dirname(cp.split(os.pathsep)[0])))
    with open(os.path.join(records, tag + ".record.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"host_record": {k: record[k] for k in (
        "workload", "seed", "trace", "commit", "build", "nproc", "host.steal_s",
        "host.iowait_s", "host.loadavg_1m", "jvm_args", "spark_conf", "gen_s",
        "setups_s", "job_walls_s", "calib_s", "verify_s", "verdict")}}))
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
