#!/usr/bin/env python3
"""Runs every workload on several seeds and reports, per end-to-end metric,
the median and the quartile spread (Q3 - Q1) / median of the values.

    python3 perfbench/spread.py --seeds 1-10 [--out perfbench/out/spread.json]

Run it twice on one commit to see whether two sets of runs agree within the
bounds in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=os.path.join(HERE, "out", "spread.json"))
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {}
    for w in (w["name"] for w in bench["workloads"]):
        values, runs = {m: [] for m in bounds}, []
        for s in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                               stdout=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.exit("%s seed %d: run failed" % (w, s))
            lines = p.stdout.strip().splitlines()
            detail, r = json.loads(lines[-2])["detail"], json.loads(lines[-1])
            runs.append({"seed": s, "wall_s": round(time.time() - t0, 1), "correct": r["correct"],
                         "attempted": r["attempted"], "failed": r["failed"],
                         "metrics": {m: v["value"] for m, v in r["metrics"].items()},
                         "outputs": detail["round_facts"]})
            for m in bounds:
                values[m].append(r["metrics"][m]["value"])
            print(json.dumps(runs[-1]), flush=True)
        summary = {}
        for m, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            summary[m] = {"median": med, "spread": (q3 - q1) / med, "bound": bounds[m]}
        report[w] = {"summary": summary, "runs": runs}
        print(json.dumps({w: summary}), flush=True)
    os.makedirs(os.path.dirname(a.out), exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
