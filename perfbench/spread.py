#!/usr/bin/env python3
"""Run one workload on several seeds and print, per metric, the median and
the interquartile range as a share of the median (the benchmark's
steadiness test).

    python3 perfbench/spread.py <workload> <first_seed> <n_seeds> <seconds> [trace]
"""
import json
import statistics
import subprocess
import sys

w, first, n, secs = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), sys.argv[4]
trace = sys.argv[5] if len(sys.argv) > 5 else "0"
vals = {}
for seed in range(first, first + n):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                        "--seconds", secs, "--trace", trace], capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    print(f"seed {seed} exit {r.returncode}", *(lines[-2:] or [r.stderr[-2000:]]), sep="\n", flush=True)
    if r.returncode:
        continue
    res = json.loads(lines[-1])
    for k, v in res["metrics"].items():
        vals.setdefault(k, []).append(v["value"])
for k, xs in vals.items():
    if len(xs) >= 2:
        q = statistics.quantiles(xs, n=4)
        m = statistics.median(xs)
        print(f"SPREAD {w} {k}: median {m:.4g} iqr/median {(q[2] - q[0]) / m if m else 0:.4f} n={len(xs)}")
