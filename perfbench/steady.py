#!/usr/bin/env python3
"""Steadiness report: run one workload k times with consecutive seeds and
print, per end-to-end metric, the median, the quartiles and the spread
(Q3 - Q1) / median against that metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py --workload imaging --runs 10 --seed 1

The medians of each operation kind, read from the report lines, get
the same summary without a bound. A metric whose spread exceeds its
bound is flagged FAIL; one above a third of its bound is flagged WATCH.
Exits 1 when any run fails or is incorrect, or any metric is flagged
FAIL.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# a timed-loop line of the report: "[perfbench]   <kind>  n=  <n> p50=<ms>ms ..."
KIND_LINE = re.compile(r"^\[perfbench\]   (\S+)\s+n=\s*\d+ p50=([0-9.]+)ms")


def summary(xs):
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    ap.add_argument("--out", help="also write the values as JSON here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spec = {m["name"]: m for m in bench["end_to_end"]}
    values = {name: [] for name in spec}
    kinds = {}
    walls, bad = [], 0
    for i in range(args.runs):
        seed = args.seed + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                              stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        if res is None or not res["correct"] or res["failed"]:
            bad += 1
            print(f"seed {seed}: run failed or incorrect (exit {proc.returncode})")
            continue
        for name in spec:
            values[name].append(res["metrics"][name]["value"])
        timed = proc.stdout.split("[perfbench] traced loop")[0]
        for m in map(KIND_LINE.match, timed.splitlines()):
            if m:
                kinds.setdefault(m.group(1), []).append(float(m.group(2)))
        print(f"seed {seed}: {walls[-1]:.0f} s  " + "  ".join(
            f"{n}={res['metrics'][n]['value']:.4g}" for n in spec), flush=True)

    failing = False
    print(f"\n{args.workload}: {args.runs} runs, {bad} failed, "
          f"wall median {statistics.median(walls):.0f} s, total {sum(walls):.0f} s")
    print(f"{'metric':<16}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>7}")
    for name, m in spec.items():
        xs = values[name]
        if len(xs) < 2:
            print(f"{name:<16} too few values")
            failing = True
            continue
        med, q1, q3, spread = summary(xs)
        flag = ""
        if spread > m["bound"]:
            flag = "  FAIL"
            failing = True
        elif spread > m["bound"] / 3:
            flag = "  WATCH"
        print(f"{name:<16}{med:>12.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}"
              f"{m['bound']:>7.2f}{flag}")
    for kind, xs in kinds.items():
        if len(xs) >= 2:
            med, q1, q3, spread = summary(xs)
            print(f"{'  ' + kind + ' p50 ms':<28}{med:>9.5g}{q1:>12.5g}{q3:>12.5g}{spread:>9.3f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "first_seed": args.seed,
                       "walls": walls, "values": values, "kinds": kinds}, f, indent=1)
    sys.exit(1 if failing or bad else 0)


if __name__ == "__main__":
    main()
