#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload payout_daily --seed 1 --seconds 40 --trace 0

Builds the program and the benchmark first (perfbench/build.py), then runs
one JVM (perfbench.Main) with all its files under perfbench/.work/. The
JVM's result file lands in perfbench/out/; this script prints a `detail`
line and then the result line {"correct", "attempted", "failed", "metrics"}.
With --trace 1 it also reports the tracing overhead against the untraced
result of the same workload and seed, when that run has been made before.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, "out")
WORKLOADS = ("payout_daily", "ann_index")
RUN_TIMEOUT_S = 170

# what spark-submit adds for Spark 4 on JDK 17
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    built = subprocess.run([sys.executable, os.path.join(HERE, "build.py")],
                           stdout=subprocess.PIPE, text=True)
    if built.returncode != 0:
        sys.exit("run: build failed")
    classpath = built.stdout.strip().splitlines()[-1]

    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(OUT, exist_ok=True)
    out = os.path.join(OUT, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out]
    log_path = os.path.join(OUT, tag + ".log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.exit("run: benchmark process %s" % ("timed out" if code is None else "exited %d" % code))

    with open(out) as f:
        result = json.load(f)
    detail = result.pop("detail")
    if a.trace == 1:
        plain = os.path.join(OUT, "%s-seed%d-trace0.json" % (a.workload, a.seed))
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["detail"]["end_to_end"]
            traced = detail["end_to_end"]
            detail["tracing_overhead"] = {
                m: traced[m] / base[m] - 1 for m in ("op_s.p50", "run_s") if base.get(m)}
            result["detail"] = detail
            with open(out, "w") as f:
                json.dump(result, f)
            result.pop("detail")
    print(json.dumps({"detail": detail}))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
