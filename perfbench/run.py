#!/usr/bin/env python3
"""Run one workload of the ADS-B benchmark and print its result.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and
the benchmark (see build.py); later runs reuse the build. Everything the
run writes stays under the build dir ($CARGO_TARGET_DIR, else
.bench_build): the run's scratch directory is deleted afterwards, the
JVM's log and the traced run's spans are kept in logs/ and runs/traces/.
The last line of standard output is the result JSON.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("backfill", "live", "frontend")
JVM_SECONDS = 170

# Spark on JDK 17 outside spark-submit needs these opens, as in build.sbt.
OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    out = build.build_dir()
    os.makedirs(out, exist_ok=True)
    try:
        cp = build.build(out)
    except RuntimeError as e:
        sys.exit(f"perfbench: build failed: {e}")

    name = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    run_dir = os.path.join(out, "runs", name)
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)
    log_path = os.path.join(out, "logs", name + ".log")
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *OPENS, "-XX:-UsePerfData", "-Xms2g", "-Xmx2g",
           "-XX:+UseParallelGC", "-XX:+AlwaysPreTouch",
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dderby.system.home={run_dir}",
           f"-Dderby.stream.error.file={run_dir}/derby.log",
           # the store stands in for one on tmpfs: no fsync per commit
           "-Dderby.system.durability=test",
           "-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--dir", run_dir]
    t0 = time.time()
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                             text=True)
        try:
            stdout, _ = p.communicate(timeout=JVM_SECONDS)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            shutil.rmtree(run_dir, ignore_errors=True)
            sys.exit(f"perfbench: run exceeded {JVM_SECONDS} s, log {log_path}")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = stdout.rstrip("\n").split("\n") if stdout.strip() else []
    for line in lines[:-1]:
        print(line)
    if p.returncode != 0 or not lines:
        sys.exit(f"perfbench: JVM exited {p.returncode} after "
                 f"{time.time() - t0:.0f} s, log {log_path}")
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
