#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 benchmark/run.py --workload stock_ml|lake_dml \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the
benchmark from source (see build.py), starts one JVM with a local Spark
session of `nproc` - 1 cores, and works under a fresh directory in
`.bench_build/` that it deletes at the end. The JVM does the set-up, the
measured closed loop and the output checks (see src/graftbench/Main.scala);
this script enforces the time limits and prints

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones from a traced run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("stock_ml", "lake_dml")
RUN_LIMIT_S = 175        # a run that needs no build
BUILD_LIMIT_S = 880      # the first run in a checkout builds

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_gb():
    """Half the machine's memory, between 2 and 8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    t_start = time.monotonic()

    classes = build.build(timeout_s=BUILD_LIMIT_S)
    limit = BUILD_LIMIT_S if time.monotonic() - t_start > 5 else RUN_LIMIT_S
    os.makedirs(build.BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=build.BUILD)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", f"-Xmx{heap_gb()}g", "-Xss4m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--dir", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result = None
    try:
        remaining = limit - (time.monotonic() - t_start)
        out, _ = proc.communicate(timeout=max(1.0, remaining))
        for line in out.splitlines():
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line, file=sys.stderr)
    except subprocess.TimeoutExpired:
        print("run.py: time limit reached, stopping the JVM", file=sys.stderr)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or result is None:
        print(f"run.py: JVM exited with {proc.returncode} and "
              f"{'a' if result else 'no'} result", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
