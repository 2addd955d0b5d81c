#!/usr/bin/env python3
"""Run one workload several times, one seed after another, and append each
run's result line to a file for compare.py.

Usage (from the repository root):
  python3 perfbench/series.py <workload> <runs> <first_seed> <out.jsonl>

Each run lasts BENCHMARK.json's run_seconds. A run that exits non-zero
stops the series.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    if len(sys.argv) != 5:
        sys.exit(__doc__)
    workload, runs, seed0, out = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        seconds = str(json.load(fh)["run_seconds"])
    for seed in range(seed0, seed0 + runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"{workload} seed {seed}: run.py exited {p.returncode}")
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(out, "a") as fh:
            fh.write(json.dumps({"workload": workload, "seed": seed, "result": result}) + "\n")
        print(workload, seed, json.dumps(result["metrics"]), flush=True)


if __name__ == "__main__":
    main()
