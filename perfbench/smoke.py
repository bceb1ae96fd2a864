#!/usr/bin/env python3
"""Smoke self-check of the benchmark at tiny size.

    python3 perfbench/smoke.py

For every workload: an untraced and a traced run at --tiny size must be
correct and emit exactly the metric names BENCHMARK.json declares. Every
output check is also fed a deliberately wrong expectation, which it must
reject (the benchmark process exits non-zero otherwise). Exits 1 on any
failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    expected = {0: {m["name"] for m in bench["end_to_end"]},
                1: {m["name"] for m in bench["per_layer"]}}
    failures = []
    for w in bench["workloads"]:
        for trace in (0, 1):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "7",
                                      "--seconds", "1", "--trace", str(trace),
                                      "--tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.PIPE, text=True)
            tag = f"{w['name']} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                failures.append(f"{tag}: exit {proc.returncode}\n" +
                                "\n".join(proc.stdout.splitlines()[-15:]) +
                                "\n".join(proc.stderr.splitlines()[-5:]))
                continue
            res = json.loads(lines[-1])
            got = set(res["metrics"])
            if not res["correct"] or res["failed"]:
                failures.append(f"{tag}: incorrect output")
            if got != expected[trace]:
                failures.append(f"{tag}: missing {sorted(expected[trace] - got)}, "
                                f"unexpected {sorted(got - expected[trace])}")
            print(f"{tag}: ok, {len(got)} metrics, {res['attempted']} ops", flush=True)
    for f in failures:
        print("FAIL " + f)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
