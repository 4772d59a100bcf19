#!/usr/bin/env python3
"""Record one traced run of a workload beside an untraced run of the same
seed, and write the per-layer table to perfbench/results/.

    python3 perfbench/trace_report.py --workload serve --seed 7 [--seconds S]
    python3 perfbench/trace_report.py --render perfbench/results/serve.json

Run from the repository root. Writes perfbench/results/<workload>.json
(untraced and traced end-to-end metrics, the per-layer metrics, the
per-span table with self times) and perfbench/results/<workload>.md (the
same as tables, with the tracing overhead); --render rewrites the .md
from a .json.
"""
import argparse
import json
import os
import subprocess
import sys

COLUMNS = ["calls", "wall_s_p50", "wall_s_sum", "self_s_sum", "jobs", "stages", "tasks",
           "executor_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes", "result_bytes",
           "records_read", "written_bytes"]


def run(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        sys.exit(f"trace_report: {workload} trace={trace} failed:\n{p.stderr[-2000:]}")
    return json.loads(lines[0])


def fmt(x):
    if isinstance(x, float):
        return f"{x:.4g}"
    return str(x)


def overhead(out):
    """Traced / untraced - 1 on the timed calls' latency. Throughput is
    not compared: the traced loop also spends time on the calls that
    split composite ops by layer."""
    return out["traced"]["end_to_end"]["latency_p50_s"] / out["untraced"]["end_to_end"]["latency_p50_s"] - 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, help="default: BENCHMARK.json's run_seconds")
    ap.add_argument("--render")
    args = ap.parse_args()
    if args.render:
        with open(args.render) as f:
            render(json.load(f))
        return

    if args.seconds is None:
        with open("BENCHMARK.json") as f:
            args.seconds = json.load(f)["run_seconds"]
    plain = run(args.workload, args.seed, args.seconds, 0)
    traced = run(args.workload, args.seed, args.seconds, 1)
    with open(f".bench_build/trace/{args.workload}-seed{args.seed}.json") as f:
        trace = json.load(f)
    if plain["inputs_sha256"] != traced["inputs_sha256"]:
        sys.exit("trace_report: the two runs saw different inputs")
    out = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "inputs_sha256": plain["inputs_sha256"],
        "untraced": {k: plain[k] for k in ["end_to_end", "detail", "attempted", "failed",
                                           "session_s", "build_s", "warm_s", "preflight"]},
        "traced": {k: traced[k] for k in ["end_to_end", "detail", "attempted", "failed",
                                          "session_s", "build_s", "warm_s", "preflight"]},
        "per_layer": traced["per_layer"],
        "spans_table": trace["spans_table"],
    }
    os.makedirs("perfbench/results", exist_ok=True)
    with open(f"perfbench/results/{args.workload}.json", "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    render(out)


def render(out):
    plain, traced = out["untraced"], out["traced"]
    with open("BENCHMARK.json") as f:
        layer_names = [m["name"] for m in json.load(f)["per_layer"]]
    md = [f"# Traced `{out['workload']}` run, seed {out['seed']}, {out['seconds']} s",
          "",
          f"Host: {plain['preflight']['cores']} cores, Spark on "
          f"{plain['preflight'].get('spark_cores', plain['preflight']['cores'])}, "
          f"heap {plain['preflight']['heap']}; "
          f"inputs sha256 `{out['inputs_sha256'][:16]}…`.",
          "",
          "| end-to-end metric | untraced | traced |", "|---|---|---|"]
    md += [f"| {k} | {fmt(v)} | {fmt(traced['end_to_end'][k])} |" for k, v in plain["end_to_end"].items()]
    md += ["", f"Tracing overhead on the timed calls (traced / untraced − 1 of latency_p50_s): "
           f"{overhead(out):+.1%}. The traced loop's throughput also pays for the extra "
           "decomposition calls, so it is not an overhead figure. One pair of runs: the host's "
           f"CPU steal was {plain['preflight']['steal_pct_run']:.1f} % untraced and "
           f"{traced['preflight']['steal_pct_run']:.1f} % traced, and steal moves run times "
           "by more than tracing does.", "",
           "| workload figure (untraced) | value | unit |", "|---|---|---|"]
    md += [f"| {d['name']} | {fmt(d['value'])} | {d['unit']} |" for d in plain["detail"]]
    md += ["", "| per-layer metric | value |", "|---|---|"]
    md += [f"| {k} | {fmt(out['per_layer'][k])} |" for k in layer_names]
    md += ["", "Per span, per call unless the column says `sum` (`kind`: op = timed client call, "
           "decomp = traced-only split of a composite call, setup = set-up and warm-up):", "",
           "| span | kind | " + " | ".join(COLUMNS) + " | extras |",
           "|---|---|" + "---|" * (len(COLUMNS) + 1)]
    for r in out["spans_table"]:
        extras = {k: v for k, v in r.items() if k not in COLUMNS + ["span", "layer", "kind", "executor_run_s"]}
        md.append(f"| {r['span']} | {r['kind']} | " + " | ".join(fmt(r[c]) for c in COLUMNS) +
                  " | " + ", ".join(f"{k}={fmt(v)}" for k, v in extras.items()) + " |")
    with open(f"perfbench/results/{out['workload']}.md", "w") as f:
        f.write("\n".join(md) + "\n")


if __name__ == "__main__":
    main()
