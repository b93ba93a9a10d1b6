#!/usr/bin/env python3
"""Steadiness check: run one workload over several seeds and print, per
end-to-end metric, the median and the interquartile range as a share of the
median (statistics.quantiles(values, n=4)), next to the metric's bound.

    python3 perfbench/spread.py --workload mortar_read --seeds 1-10 [--seconds 8]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(text):
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    values = {}
    for seed in a.seeds:
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                              a.workload, "--seed", str(seed), "--seconds", str(seconds),
                              "--trace", "0"], capture_output=True, text=True, check=True)
        line = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: correct={line['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()), flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = "ok" if spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:18s} median={med:.5g} {m['unit']:7s} spread={spread:.3f} "
              f"bound={m['bound']} {flag}")


if __name__ == "__main__":
    main()
