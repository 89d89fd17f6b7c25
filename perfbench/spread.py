#!/usr/bin/env python3
"""Run the benchmark over several seeds and report, per workload and metric,
the median, the quartiles and the spread (inter-quartile distance over the
median), the figures a bound in BENCHMARK.json is judged against.

    python3 perfbench/spread.py --seeds 1-10 [--workloads olap_mix,...]
        [--trace 0] [--seconds 5] [--out results.jsonl]

Each run's result line is appended to --out (default
.bench_build/spread.jsonl) as {"workload", "seed", "trace", "result"}.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
import stats  # noqa: E402


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", default=",".join(run.WORKLOADS))
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", default="5")
    ap.add_argument("--out", default=os.path.join(run.BUILD, "spread.jsonl"))
    a = ap.parse_args()
    os.makedirs(os.path.dirname(os.path.abspath(a.out)), exist_ok=True)
    for w in a.workloads.split(","):
        values = {}
        for seed in seeds_of(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", w, "--seed", str(seed),
                                "--seconds", a.seconds, "--trace", str(a.trace)],
                               cwd=run.ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                sys.exit(f"{w} seed {seed} failed")
            result = json.loads(p.stdout.strip().splitlines()[-1])
            with open(a.out, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed, "trace": a.trace,
                                    "result": result}) + "\n")
            print(f"{w} seed {seed}: correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']}", flush=True)
            for k, m in result["metrics"].items():
                values.setdefault(k, []).append(m["value"])
        for k, xs in values.items():
            if len(xs) >= 2 and statistics.median(xs):
                q1, med, q3 = statistics.quantiles(xs, n=4)
                print(f"  {w} {k}: median {statistics.median(xs):.4f} "
                      f"q1 {q1:.4f} q3 {q3:.4f} spread {stats.spread(xs):.3f}")


if __name__ == "__main__":
    main()
