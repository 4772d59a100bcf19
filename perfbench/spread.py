#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workloads serve,curate --seeds 501-510 \
        --out perfbench/results/spread.jsonl
    python3 perfbench/spread.py --summarize perfbench/results/spread.jsonl

Run from the repository root. Each run's report line (the first JSON line
run.py prints) is appended to --out; the summary gives, per workload and
metric, the median over the runs and the distance between the first and
third quartiles (statistics.quantiles, n=4) as a share of the median,
next to the metric's bound in BENCHMARK.json.
"""
import argparse
import json
import statistics
import subprocess
import sys


def summarize(path):
    with open("BENCHMARK.json") as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            runs.setdefault(r["workload"], []).append(r)
    print("| workload | metric | runs | median | quartile spread | bound |")
    print("|---|---|---|---|---|---|")
    for w, rs in runs.items():
        for m in bounds:
            v = [r["end_to_end"][m] for r in rs]
            med = statistics.median(v)
            q = statistics.quantiles(v, n=4)
            print(f"| {w} | {m} | {len(v)} | {med:.4g} | {(q[2] - q[0]) / med:.3f} | {bounds[m]} |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads")
    ap.add_argument("--seeds", help="first-last")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out")
    ap.add_argument("--summarize")
    args = ap.parse_args()
    if args.summarize:
        summarize(args.summarize)
        return
    with open("BENCHMARK.json") as f:
        seconds = args.seconds or json.load(f)["run_seconds"]
    first, last = (int(x) for x in args.seeds.split("-"))
    # workloads alternate, so slow spells on the host fall on both alike
    for seed in range(first, last + 1):
        for w in args.workloads.split(","):
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", w, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", "0"], capture_output=True, text=True)
            lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
            if p.returncode != 0 or not lines:
                sys.exit(f"spread: {w} seed {seed} failed:\n{p.stderr[-2000:]}")
            with open(args.out, "a") as f:
                f.write(lines[0] + "\n")
    summarize(args.out)


if __name__ == "__main__":
    main()
