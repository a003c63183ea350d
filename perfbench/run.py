#!/usr/bin/env python3
"""End-to-end benchmark of the graft.pipeline.Main extraction job.

    python3 perfbench/run.py --workload pdf_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. Builds the program and the harness from
source (perfbench/build.py), then runs one benchmark JVM at local[nproc]
that generates the workload from the seed, runs Main on it for --seconds,
checks every committed output and reports the metrics BENCHMARK.json names:
the end-to-end ones with --trace 0, the per-layer ones with --trace 1. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
import build  # noqa: E402

ROOT = build.ROOT
OUT = build.OUT
# the harness stops starting timed runs at 120 s of JVM uptime; this is the
# last resort within the 180 s a run may take
JVM_TIMEOUT_S = 175
# build.sbt gives the program an 8 GB heap (SPARK_DRIVER_MEM); the benchmark's
# tables and caches fit in 3 GB, which keeps the run small on a shared machine
HEAP = "3g"

# what spark-submit (and the repo's build.sbt) pass a JDK 17 driver
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, or None off Linux."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        return fields[7], sum(fields[:8])
    except (OSError, ValueError, IndexError):
        return None


def jvm(classes, jars, workload, seed, seconds, trace, cores, log_name):
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    logs = os.path.join(OUT, "logs")
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        # fixed, pre-touched heap and throughput GC, as build.sbt runs the program,
        # at HEAP in place of its 8 GB
        "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch", f"-Xms{HEAP}", f"-Xmx{HEAP}",
        "-XX:MetaspaceSize=512m", "-Xlog:gc:stderr",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        f"-Dspark.master=local[{cores}]",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1",
        f"-Dspark.local.dir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        "perfbench.Harness",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--cores", str(cores),
        "--work", os.path.join(OUT, "work", f"{workload}-{seed}-{os.getpid()}"),
        "--traces", os.path.join(OUT, "traces"),
    ]
    log_path = os.path.join(logs, log_name)
    before = cpu_ticks()
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=JVM_TIMEOUT_S, cwd=ROOT)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s; log: {log_path}", 1)
    tagged = {}
    for line in r.stdout.splitlines():
        tag, _, rest = line.partition(" ")
        if tag.startswith("PERFBENCH_"):
            tagged[tag] = json.loads(rest)
    after = cpu_ticks()
    if before and after and after[1] > before[1]:
        # CPU time the hypervisor gave to other guests while this run wanted it
        tagged.setdefault("PERFBENCH_DETAIL", {})["steal_share"] = \
            (after[0] - before[0]) / (after[1] - before[1])
    if r.returncode != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        fail(f"benchmark JVM exited {r.returncode}; log {log_path}:\n{tail}", 1)
    return tagged


def main():
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail(f"{spec_path} not found")
    with open(spec_path) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true",
                    help="check that the output check counts one injected bad row")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        ap.error("--workload is required")
    try:
        classes = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    if a.self_test:
        out = jvm(classes, jars, "selftest", a.seed, 0, 0, cores, "selftest.log")
        res = out.get("PERFBENCH_SELFTEST")
        print(json.dumps(res, separators=(",", ":")))
        sys.exit(0 if res and res.get("ok") else 1)

    out = jvm(classes, jars, a.workload, a.seed, a.seconds, a.trace, cores,
              f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    if "PERFBENCH_RESULT" not in out:
        fail("benchmark JVM printed no result", 1)
    res = out["PERFBENCH_RESULT"]
    declared = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in res["values"]]
    if missing:
        fail(f"metrics not measured: {missing}", 1)
    metrics = {m["name"]: {"value": res["values"][m["name"]], "unit": m["unit"]} for m in declared}
    detail = out.get("PERFBENCH_DETAIL", {})
    print(json.dumps(detail, separators=(",", ":")))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics},
                     separators=(",", ":")))


if __name__ == "__main__":
    main()
