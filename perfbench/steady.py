#!/usr/bin/env python3
"""Runs the benchmark several times per workload, each time with another
seed, and prints every metric's median, quartiles and quartile spread
(Q3 - Q1 as a share of the median). The bounds in BENCHMARK.json are set
from these figures.

Usage (from the root of a checkout):
  python3 perfbench/steady.py [--workloads a,b] [--seeds 1-10] [--seconds 14]
                              [--trace 0|1] [--out FILE]
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default=os.path.join(".bench_build", "perfbench", "steady.json"))
    a = ap.parse_args()
    runs = {}
    for w in a.workloads.split(","):
        runs[w] = []
        for s in seeds(a.seeds):
            p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                                "--seed", str(s), "--seconds", str(a.seconds),
                                "--trace", str(a.trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                print(f"{w} seed {s}: exit {p.returncode}")
                continue
            r = json.loads(p.stdout.strip().splitlines()[-1])
            r["seed"] = s
            r["info"] = dict(re.findall(r"(\w+)=(\[[^\]]*\]|\{[^}]*\}|[^\s]+)", p.stderr))
            runs[w].append(r)
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w} seed {s}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} load1={r['info'].get('load1')} {vals}", flush=True)
    print()
    print(f"{'workload':18} {'metric':26} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7}")
    for w, rs in runs.items():
        if len(rs) < 2:
            continue
        for m in rs[0]["metrics"]:
            vals = [r["metrics"][m]["value"] for r in rs]
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{w:18} {m:26} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:7.3f}")
        fails = {r["failed"] / r["attempted"] for r in rs}
        print(f"{w:18} failed shares {sorted(fails)}; all correct: {all(r['correct'] for r in rs)}")
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(runs, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
