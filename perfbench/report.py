#!/usr/bin/env python3
"""Traced-run report: per-layer metrics of every workload plus the tracing
overhead, written as Markdown.

Run from the root of a checkout:

    python3 perfbench/report.py --seed 1 --seconds 15 > perfbench/results/traced_run.md

For each workload of BENCHMARK.json it makes one untraced run (--trace 0) and one traced run
(--trace 1) with the same seed. The traced run's per-layer metrics are
listed as measured; the overhead is each end-to-end metric of the traced run
against the untraced one. Both runs print their end-to-end metrics as
`e2e <name> <value> <unit>` report lines.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{workload} trace={trace} failed ({p.returncode})")
    result = json.loads(lines[-1])
    e2e = {}
    for line in lines[:-1]:
        parts = line.split()
        if parts[:1] == ["e2e"]:
            e2e[parts[1]] = (float(parts[2]), parts[3])
    return result, e2e, lines[:-1]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(os.getcwd(), "BENCHMARK.json")))
    print(f"# Traced run (seed {a.seed}, {a.seconds:g} s per run)\n")
    print("Made by `python3 perfbench/report.py`. Per-layer metrics come from the "
          "traced run; a layer a workload does not exercise reports 0. Overhead "
          "compares the traced run's end-to-end metrics with an untraced run of "
          "the same seed, so it includes run-to-run noise.\n")
    for w in (wl["name"] for wl in bench["workloads"]):
        plain, plain_e2e, _ = run(w, a.seed, a.seconds, 0)
        traced, traced_e2e, lines = run(w, a.seed, a.seconds, 1)
        print(f"## {w}\n")
        print(f"correct: untraced {plain['correct']}, traced {traced['correct']}; "
              f"attempted/failed: {plain['attempted']}/{plain['failed']} untraced, "
              f"{traced['attempted']}/{traced['failed']} traced\n")
        print("| end-to-end metric | untraced | traced | overhead |")
        print("|---|---|---|---|")
        for m in bench["end_to_end"]:
            u = plain["metrics"][m["name"]]["value"]
            t = traced_e2e.get(m["name"], (float("nan"), ""))[0]
            print(f"| {m['name']} ({m['unit']}) | {u:.4g} | {t:.4g} | {(t - u) / u:+.1%} |")
        print("\n| per-layer metric | value |")
        print("|---|---|")
        for m in bench["per_layer"]:
            v = traced["metrics"][m["name"]]
            print(f"| {m['name']} ({v['unit']}) | {v['value']:.4g} |")
        print("\nReport lines of the traced run:\n\n```")
        print("\n".join(l for l in lines if not l.startswith("e2e ")))
        print("```\n")


if __name__ == "__main__":
    main()
