#!/usr/bin/env python3
"""dcsspark benchmark: one run of one workload.

  python3 perfbench/run.py --workload {search,grep} \
      --seed N --seconds S --trace {0,1}

Builds the program and the benchmark from source on first use (see
build.py), then runs the workload in one JVM with Spark at local[nproc].
Human-readable metric lines go to stdout, followed, as the last line, by
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are the per-layer metrics, and the spans of the run are
written under .bench_build/traces/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("search", "grep")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (the list build.sbt
# passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def declare(result, trace):
    """Hold the result to BENCHMARK.json: the end-to-end metrics, or with
    tracing the per-layer ones, each with its declared unit. A per-layer
    metric of a layer the workload does not call reads 0."""
    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    got = result["metrics"]
    unknown = set(got) - {m["name"] for m in declared}
    if unknown:
        sys.exit(f"perfbench: metrics not in BENCHMARK.json: {sorted(unknown)}")
    idle = []
    for m in declared:
        if m["name"] not in got:
            if not trace:
                sys.exit(f"perfbench: end-to-end metric {m['name']} missing")
            got[m["name"]] = {"value": 0, "unit": m["unit"]}
            idle.append(m["name"])
        elif got[m["name"]]["unit"] != m["unit"]:
            sys.exit(f"perfbench: {m['name']} in {got[m['name']]['unit']}, declared {m['unit']}")
    result["metrics"] = {m["name"]: got[m["name"]] for m in declared}
    if idle:
        result.setdefault("notes", []).append("layers not called (0): " + " ".join(idle))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        classes = build.ensure_built()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    tag = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(build.BUILD_DIR, "work", tag)
    result_path = os.path.join(build.BUILD_DIR, "results", tag + ".json")
    trace_dir = os.path.join(build.BUILD_DIR, "traces")
    for d in (work, os.path.dirname(result_path), trace_dir):
        os.makedirs(d, exist_ok=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)

    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", result_path, "--trace-dir", trace_dir]
    proc = subprocess.Popen(cmd, cwd=build.ROOT, stdout=sys.stderr, stderr=sys.stderr)
    # a terminated run takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: (proc.kill(), proc.wait(), sys.exit(143)))
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        sys.exit(f"perfbench: workload JVM {'timed out' if code is None else f'exited {code}'}")

    with open(result_path) as f:
        result = json.load(f)
    os.remove(result_path)
    declare(result, args.trace)
    for name, m in result["metrics"].items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    print(f"{args.workload} failed_frac = {result['failed']}/{result['attempted']} "
          f"= {result['failed'] / result['attempted']:.6g}")
    for line in result.pop("notes", []):
        print(f"{args.workload} {line}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
