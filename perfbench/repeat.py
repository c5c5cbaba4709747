#!/usr/bin/env python3
"""Run one workload several times and summarise each metric.

    python3 perfbench/repeat.py --workload olap_mix --runs 10 [--first-seed 1]
                                [--seconds 10] [--trace 0|1]

Each run uses the next seed. For every metric it prints the median, the
quartiles (statistics.quantiles, n=4), min and max, and the spread: the
distance between the quartiles as a share of the median. With --trace 0 it
also prints each end-to-end metric's bound from BENCHMARK.json and flags a
spread above a third of it. This is how the bounds were set, and how to
recheck them. Run it from the root of a checkout.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json")) if os.path.exists("BENCHMARK.json") else {}
    seconds = a.seconds or bench.get("run_seconds", 10)
    bounds = {m["name"]: m["bound"] for m in bench.get("end_to_end", [])}

    values, shares = {}, []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            a.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        res = json.loads(lines[-1])
        shares.append(res["failed"] / res["attempted"])
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])

    print(f"\n{a.workload}: {a.runs} runs of {seconds} s, trace={a.trace}, "
          f"failed share {sorted(set(shares))}")
    print(f"{'metric':36} {'median':>11} {'q1':>11} {'q3':>11} {'min':>11} {'max':>11} "
          f"{'spread':>7} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else 0.0
        b = bounds.get(k)
        flag = " !" if b is not None and k != "setup_s" and spread > b / 3 else ""
        print(f"{k:36} {med:11.4g} {q1:11.4g} {q3:11.4g} {min(vs):11.4g} {max(vs):11.4g} "
              f"{spread:7.3f} {'' if b is None else b:>6}{flag}")


if __name__ == "__main__":
    main()
