#!/usr/bin/env python3
"""Steadiness report: run every workload of BENCHMARK.json several
times, each with its own seed, and write each end-to-end metric's
median, quartiles, min/max and spread (quartile distance over median,
the statistic the bounds in BENCHMARK.json are checked against).

    python3 perfbench/steadiness.py --runs 10 --out perfbench/STEADINESS.md

Runs are sequential fresh processes, exactly as the benchmark command
runs them.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [*cmd, "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {
        "median": statistics.median(values),
        "q1": q1,
        "q3": q3,
        "min": min(values),
        "max": max(values),
        "spread": (q3 - q1) / statistics.median(values),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workload", action="append", help="default: every workload")
    ap.add_argument("--out", default=os.path.join(ROOT, "perfbench", "STEADINESS.md"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    lines = [
        "# Steadiness of the end-to-end metrics",
        "",
        f"{args.runs} runs per workload, seeds {args.first_seed}..{args.first_seed + args.runs - 1}, "
        f"--seconds {bench['run_seconds']}, one fresh process per run, "
        f"{os.cpu_count()} CPUs. Spread is (q3 - q1) / median with quartiles from "
        "`statistics.quantiles(values, n=4)`; the bound is the end-to-end bound in "
        "BENCHMARK.json.",
        "",
        "| workload | metric | median | q1 | q3 | min | max | spread | bound | failed |",
        "|---|---|---|---|---|---|---|---|---|---|",
    ]
    for w in workloads:
        results, t0 = [], time.time()
        for i in range(args.runs):
            results.append(run_once(bench["command"], w, args.first_seed + i, bench["run_seconds"]))
            print(f"{w} run {i + 1}/{args.runs}: {results[-1]['metrics']}", file=sys.stderr, flush=True)
        failed = sum(r["failed"] for r in results)
        for name in bounds:
            s = summarize([r["metrics"][name]["value"] for r in results])
            lines.append(
                f"| {w} | {name} | {s['median']:.4g} | {s['q1']:.4g} | {s['q3']:.4g} | "
                f"{s['min']:.4g} | {s['max']:.4g} | {s['spread']:.3f} | {bounds[name]} | {failed} |"
            )
        print(f"{w}: {args.runs} runs in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(args.out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
