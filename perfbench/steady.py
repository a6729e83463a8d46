#!/usr/bin/env python3
"""Run-to-run spread of the graft benchmark.

    python3 perfbench/steady.py --runs 10 [--first-seed 1] [--workloads chat,ingest] [--trace 0]

Runs perfbench/run.py once per seed for each workload and prints, per
metric, the median of the runs and the spread: the distance between the
first and third quartile (statistics.quantiles, n=4) as a share of the
median, next to the metric's bound from BENCHMARK.json. Each run's JSON
line is appended to --log for later comparison.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workloads", default="")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--log", default="")
    args = p.parse_args()

    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    names = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    bounds = {m["name"]: m.get("bound") for m in section}
    here = os.path.dirname(os.path.abspath(__file__))
    log = open(args.log, "a") if args.log else None

    for w in names:
        values = {m: [] for m in bounds}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            t0 = time.time()
            r = subprocess.run([sys.executable, os.path.join(here, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                                "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, text=True)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{w} seed {seed}: exit {r.returncode}", flush=True)
                continue
            res = json.loads(lines[-1])
            # every "name value unit" line of the printed table, per_kind included
            table = {}
            for line in lines[:-1]:
                f = line.split()
                if len(f) == 3:
                    try:
                        table[f[0]] = float(f[1])
                    except ValueError:
                        pass
            if log:
                log.write(json.dumps({"workload": w, "seed": seed, **res, "table": table}) + "\n")
                log.flush()
            for m in values:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {time.time() - t0:.0f} s, correct {res['correct']}, "
                  f"attempted {res['attempted']}, failed {res['failed']}", flush=True)
        for m, vs in values.items():
            if len(vs) < 2:
                continue
            med = statistics.median(vs)
            q = statistics.quantiles(vs, n=4)
            spread = (q[2] - q[0]) / med if med else float("nan")
            bound = bounds[m]
            print(f"  {w:7s} {m:34s} median {med:12.4f}  spread {spread:6.3f}"
                  + (f"  bound {bound}" if bound is not None else ""), flush=True)


if __name__ == "__main__":
    main()
