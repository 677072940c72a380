#!/usr/bin/env python3
"""Steadiness self-check of the benchmark on one commit.

  python3 perfbench/steady.py

Runs every workload of BENCHMARK.json RUNS times per set, each run with
its own seed, for SETS sets (the seeds of set s are s*1000+1 ...
s*1000+RUNS). For each end-to-end metric it prints, per set, the median
and the spread (distance between the first and third quartile,
statistics.quantiles(n=4), as a share of the median), and the drift of
the second set's median from the first set's (positive = worse). A
spread or a drift, in either direction, above the metric's bound is
marked FAIL, and the exit code is 1 if any is. Every run's metrics are
kept in .bench_build/steady.json.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                         timeout=900)
    if res.returncode != 0:
        sys.exit(f"{workload} seed {seed}: exit code {res.returncode}")
    result = json.loads(res.stdout.decode().strip().splitlines()[-1])
    if not result["correct"] or result["failed"]:
        print(f"  {workload} seed {seed}: {result['failed']}/{result['attempted']} failed")
    return result


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    raw = {}
    for workload in (w["name"] for w in bench["workloads"]):
        sets = []
        for s in range(1, SETS + 1):
            runs = []
            for k in range(1, RUNS + 1):
                runs.append(run_once(workload, s * 1000 + k, bench["run_seconds"]))
                print(f"  {workload} set {s} run {k} done", file=sys.stderr)
            sets.append(runs)
        raw[workload] = [[r["metrics"] for r in runs] for runs in sets]
        print(f"{workload}: {SETS} sets of {RUNS} runs")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            medians, cells = [], []
            for runs in sets:
                values = [r["metrics"][name]["value"] for r in runs]
                sp = spread(values)
                medians.append(statistics.median(values))
                bad = sp > bound
                ok &= not bad
                cells.append(f"median {medians[-1]:.6g} spread {sp:.3f}{' FAIL' if bad else ''}")
            for later in medians[1:]:
                worse = (later - medians[0]) / medians[0]
                if m["better"] == "higher":
                    worse = -worse
                bad = abs(worse) > bound
                ok &= not bad
                cells.append(f"drift {worse:+.3f}{' FAIL' if bad else ''}")
            print(f"  {name:28s} bound {bound:.3f} | " + " | ".join(cells))
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(raw, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
