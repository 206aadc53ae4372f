#!/usr/bin/env python3
"""Runs one workload over several seeds and reports each metric's spread.

    python3 perfbench/sweep.py --workload keyed_churn --seeds 1-10 [--trace 1]
        [--seconds 10] [--cores N] [--timeout S] [--out runs.jsonl]

Each run is `perfbench/run.py` as the benchmark command would issue it.
Every run's detail and result lines are appended to `--out` as one JSON
object; at the end the sweep prints, per metric, the median and the
distance between the first and third quartile as a share of the median
(`statistics.quantiles(values, n=4)`), the figure BENCHMARK.json's bounds
are judged against. Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--cores", default=str(len(os.sched_getaffinity(0))))
    ap.add_argument("--timeout", default="150")
    ap.add_argument("--out")
    args = ap.parse_args()
    here = os.path.dirname(os.path.abspath(__file__))
    values = {}
    for seed in seeds(args.seeds):
        t0 = time.time()
        done = subprocess.run(
            [sys.executable, os.path.join(here, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace,
             "--cores", args.cores, "--timeout", args.timeout],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
        wall = time.time() - t0
        lines = done.stdout.strip().splitlines()
        if done.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {done.returncode}\n{done.stderr[-3000:]}", flush=True)
            continue
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        if args.out:
            with open(args.out, "a") as fh:
                fh.write(json.dumps({"seed": seed, "cores": int(args.cores), "wall_s": wall,
                                     "detail": detail, "result": result}) + "\n")
        metrics = result["metrics"]
        print(f"seed {seed}: {wall:.0f} s, correct {result['correct']}, " + ", ".join(
            f"{k} {v['value']:.4g}" for k, v in metrics.items() if not k.startswith(
                ("store.", "streaming.", "spark.", "jvm.", "ops.", "functions."))), flush=True)
        for k, v in metrics.items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        m = statistics.median(xs)
        if len(xs) >= 2 and m:
            q = statistics.quantiles(xs, n=4)
            print(f"{k}: median {m:.4g}, iqr/median {(q[2] - q[0]) / m:.3f}, n {len(xs)}")


if __name__ == "__main__":
    main()
