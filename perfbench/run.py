#!/usr/bin/env python3
"""Run one workload of the benchmark.

    python3 perfbench/run.py --workload keyed --seed 7 --seconds 15 --trace 0

Run from the repository root. The first run builds the program and the
harness (perfbench/build.py). The JVM's last stdout line is the result
object; the line before it (`{"perfbench": ...}`) carries the
workload's named metrics and run conditions. Extra modes:

    --selftest    check the generators, the checker and count repeatability
    --overhead    run untraced, then traced, and report the difference

Everything the run writes stays under .bench_build/perfbench; the
per-run scratch directory is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["flight_report", "keyed"]
TIMEOUT_S = 170
HEAP = ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"]
# Spark on JDK 17 outside spark-submit needs these (the repo's build.sbt
# passes the same list to its forked JVMs).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(args, trace, selftest=False):
    """Runs the harness JVM; returns (exit code, stdout lines)."""
    classes = build.build()
    run_dir = os.path.abspath(os.path.join(build.BUILD, f"run-{os.getpid()}-{trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    trace_out = os.path.join(build.BUILD, "trace", f"{args.workload}-{args.seed}.json")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    cmd = [build.java(), *HEAP, "-XX:-UsePerfData", *ADD_OPENS,
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.abspath('perfbench/log4j2.properties')}",
           "-cp", cp, "perfbench.Main", "--run-dir", run_dir,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(trace)]
    cmd += ["--selftest"] if selftest else ["--workload", args.workload,
                                            "--trace-out", os.path.abspath(trace_out)]
    lines = []
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    watchdog = threading.Timer(TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
            print(lines[-1], flush=True)
        code = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    return code, lines


def parse_result(lines):
    try:
        res = json.loads(lines[-1])
        return res if {"correct", "attempted", "failed", "metrics"} == set(res) else None
    except (IndexError, ValueError):
        return None


def detail(lines):
    for line in lines:
        if line.startswith('{"perfbench"'):
            return json.loads(line)["perfbench"]
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    if args.selftest:
        code, _ = run_jvm(args, 1, selftest=True)
        return code
    if args.workload is None:
        ap.error("--workload is required")
    if args.overhead:
        code0, plain = run_jvm(args, 0)
        code1, traced = run_jvm(args, 1)
        a, b = detail(plain), detail(traced)
        if code0 or code1 or not a or not b:
            return code0 or code1 or 1
        print(json.dumps({"tracing_overhead": {
            k: {"untraced": v["value"], "traced": b["metrics"][k]["value"],
                "diff": b["metrics"][k]["value"] - v["value"],
                "share": (b["metrics"][k]["value"] - v["value"]) / v["value"] if v["value"] else None,
                "unit": v["unit"]}
            for k, v in a["metrics"].items()}}))
        return 0
    code, lines = run_jvm(args, args.trace)
    if code != 0:
        return code
    return 0 if parse_result(lines) else 1


if __name__ == "__main__":
    sys.exit(main())
