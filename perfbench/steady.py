#!/usr/bin/env python3
"""Steadiness check: run one workload N times, each with another seed, and
print each metric's median, quartiles and spread (IQR / median).

    python3 perfbench/steady.py --workload app --runs 10 [--seconds 10]
        [--trace 0|1] [--first-seed 1]

The quartiles are Python's statistics.quantiles(values, n=4). The spread of
every end-to-end metric except setup_s should stay under a third of its
bound in BENCHMARK.json; the script marks the ones that do not.
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, failed = {}, 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", str(a.trace)], cwd=ROOT, capture_output=True,
                             text=True)
        if out.returncode != 0:
            sys.exit(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
        res = json.loads(out.stdout.strip().splitlines()[-1])
        failed += res["failed"] + (not res["correct"])
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed} ({time.time() - t0:.0f}s): " + " ".join(f"{k}={v['value']:.4g}"
                                          for k, v in sorted(res["metrics"].items())),
              flush=True)
    print(f"{a.workload}: {a.runs} runs, {failed} failed or incorrect")
    for k, vs in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = bounds.get(k)
        flag = ""
        if bound is not None and k != "setup_s" and not spread < bound / 3:
            flag = f"  <-- above a third of bound {bound}"
        print(f"  {k:32s} median {med:.6g}  q1 {q1:.6g}  q3 {q3:.6g}  spread {spread:.3f}{flag}")


if __name__ == "__main__":
    main()
