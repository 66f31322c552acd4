#!/usr/bin/env python3
"""Benchmark driver, run from the repository root:

    python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark (perfbench/build.py), runs one
workload in a fresh JVM with an explicit heap, forwards its report lines
and prints the result JSON as the last stdout line. Everything the run
writes goes under .bench_build/ and its per-run scratch directory is
removed afterwards; a traced run keeps its per-job trace in
.bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # write nothing next to the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["dedup_batch", "dedup_incremental", "search"]
HEAP = "6g"
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala") and os.path.isfile("build.sbt")):
        sys.exit("run.py: no program sources here; run from the repository root")
    cp = build.build()

    scratch = os.path.join(build.OUT, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
           "-XX:NewRatio=1",
           f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", a.workload, str(a.seed),
            str(a.seconds), str(a.trace), scratch]

    try:
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
        lines = proc.stdout.splitlines()
        rc = proc.returncode
    except subprocess.TimeoutExpired as e:
        out = e.stdout or ""
        lines = (out.decode() if isinstance(out, bytes) else out).splitlines()
        rc = "timeout"
    finally:
        trace = os.path.join(scratch, "trace.jsonl")
        if os.path.exists(trace):
            os.makedirs(os.path.join(build.OUT, "traces"), exist_ok=True)
            shutil.copy(trace, os.path.join(
                build.OUT, "traces", f"{a.workload}-seed{a.seed}.jsonl"))
        shutil.rmtree(scratch, ignore_errors=True)

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for line in lines[:-1] if result is not None else lines:
        print(line)
    if rc != 0 or not isinstance(result, dict) or \
            set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.exit(f"run.py: workload {a.workload} failed (exit {rc})")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
