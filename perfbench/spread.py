#!/usr/bin/env python3
"""Runs the benchmark once per seed and prints, for every metric, the
median and the spread: the distance between the first and third
quartiles (statistics.quantiles(values, n=4)) as a share of the median,
next to the metric's bound in BENCHMARK.json. Also prints each run's
wall time, which bounds what a full set of runs costs, and the named
figures of its report line.

    python3 perfbench/spread.py --workload etl_weekly --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--seconds", default=None)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    seconds = a.seconds or str(bench["run_seconds"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload",
                            a.workload, "--seed", str(s), "--seconds", seconds,
                            "--trace", a.trace], cwd=ROOT, stdout=subprocess.PIPE, text=True)
        walls.append(time.time() - t0)
        report, line = [json.loads(x) for x in p.stdout.strip().split("\n")[-2:]]
        print(f"seed {s}: {walls[-1]:.1f} s, correct={line['correct']}, "
              f"failed={line['failed']}/{line['attempted']}, "
              f"{ {k: round(v, 3) for k, v in report['named'].items()} }", flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, v in values.items():
        med = statistics.median(v)
        q = statistics.quantiles(v, n=4) if len(v) > 1 else [med, med, med]
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{k:32s} median {med:12.3f}  spread {spread:6.3f}  bound {bounds.get(k, '-')}")
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
