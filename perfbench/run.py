#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload chat --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. Builds the engine and the benchmark
from source on first use (see build.py), then starts one JVM that sets up
the workload's warehouse, runs its closed loop for --seconds, and checks
every output. Prints each metric by name with its unit, then, as the last
line, one JSON object: the end-to-end metrics with --trace 0, the per-layer
metrics of a traced run with --trace 1. Workloads and metrics are described
in perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("chat", "ingest")
RUN_TIMEOUT_S = 165
# A fixed heap, so that the collector does not resize it during a run.
HEAP = "2g"
# Cores the JVM sees: Spark runs local[CORES] and the collector sizes its
# threads to them, so a run does not need every core of a 4-vCPU machine
# shared with other tenants.
CORES = 2
# JIT compiler threads, set apart from CORES: they compile Spark's hot
# paths on the cores the run leaves idle, so the compiled code the timed
# loop runs is closer to a long-running process's.
JIT_THREADS = 4

# Spark 4 on JDK 17 outside spark-submit needs these opens.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def run_jvm(root, classes, args, work, out):
    here = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-XX:ActiveProcessorCount={CORES}",
           f"-XX:CICompilerCount={JIT_THREADS}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(classes), "graftbench.Main", args.workload,
            str(args.seed), str(args.seconds), str(args.trace), work, out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on SIGTERM (raised as SystemExit below): never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        with open(log_path) as log:
            tail = log.read()[-6000:]
        raise RuntimeError(f"benchmark JVM ended with {rc}:\n{tail}")


def print_table(res):
    print(f"workload {res['workload']}  seed {res['seed']}  trace {int(res['trace'])}")
    for section in ("end_to_end", "per_kind") + (("per_layer",) if res["trace"] else ()):
        print(f"  [{section}]")
        for name, m in res[section].items():
            print(f"    {name:40s} {m['value']:>16.6g} {m['unit']}")
    print("  [p50 per entry of the mix]")
    for name, ms in res["templates"].items():
        print(f"    {name + '_p50_ms':40s} {ms:>16.6g} ms")
    print(f"  attempted {res['attempted']}  failed {res['failed']}  correct {res['correct']}")
    for f in res["failures"]:
        print(f"  check failed: {f}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args()
    root = os.getcwd()
    try:
        classes = build.ensure_built(root)
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.build_dir(root), "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    try:
        run_jvm(root, classes, args, work, out)
        with open(out) as fh:
            res = json.load(fh)
        if args.trace:
            traces = os.path.join(build.build_dir(root), "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(traces, f"{args.workload}-{args.seed}.jsonl"))
    except (RuntimeError, OSError, ValueError) as e:
        print(f"[perfbench] run failed: {e}", file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print_table(res)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
