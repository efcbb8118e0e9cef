#!/usr/bin/env python3
"""Steadiness runs: each workload once per seed (untraced), plus one traced
run per workload, then the spread of every end-to-end metric.

    python3 perfbench/steady.py --seeds 101,102,...,110 --out perfbench/steadiness

Run from the repository root. Appends each run to <out>/runs.jsonl and
writes <out>/summary.json: per workload and metric the median, the
quartiles (statistics.quantiles, n=4), the interquartile range as a share of
the median, and the bound from BENCHMARK.json; for the traced run, its pass
time against the untraced median (the tracing overhead).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(workload, seed, trace, seconds, out):
    t0 = time.time()
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, capture_output=True, text=True, check=False)
    lines = p.stdout.strip().splitlines()
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": round(time.time() - t0, 1),
           "result": json.loads(lines[-1]) if lines else None}
    if p.returncode != 0:
        rec["stderr_tail"] = p.stderr[-4000:]
    with open(os.path.join(out, "runs.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps(rec), flush=True)


def summarize(out, bench):
    rows = [json.loads(line) for line in open(os.path.join(out, "runs.jsonl"))]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    summary = {}
    for w in [x["name"] for x in bench["workloads"]]:
        un = [r for r in rows if r["workload"] == w and r["trace"] == 0 and r["result"]]
        if len(un) < 2:
            continue
        crashed = [r["seed"] for r in rows if r["workload"] == w and r["result"] is None]
        s = {"runs": len(un), "runs_without_result": crashed,
             "wall_s_max": max(r["wall_s"] for r in un),
             "attempted": sum(r["result"]["attempted"] for r in un),
             "failed": sum(r["result"]["failed"] for r in un),
             "all_correct": all(r["result"]["correct"] for r in un), "metrics": {}}
        for m in bounds:
            v = [r["result"]["metrics"][m]["value"] for r in un]
            q1, _, q3 = statistics.quantiles(v, n=4)
            med = statistics.median(v)
            s["metrics"][m] = {"median": med, "q1": q1, "q3": q3,
                               "spread": (q3 - q1) / med, "bound": bounds[m]}
        traced = [r for r in rows if r["workload"] == w and r["trace"] == 1 and r["result"]]
        if traced:
            t = traced[-1]["result"]["metrics"]
            s["traced"] = {"seed": traced[-1]["seed"], "correct": traced[-1]["result"]["correct"],
                           "pass_s": t["trace.pass_s"]["value"],
                           "span_coverage": t["trace.span_coverage"]["value"],
                           "overhead": t["trace.pass_s"]["value"] / s["metrics"]["pass_s"]["median"] - 1}
        summary[w] = s
    with open(os.path.join(out, "summary.json"), "w") as f:
        f.write(json.dumps(summary, indent=2) + "\n")
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    os.makedirs(a.out, exist_ok=True)
    seeds = [int(x) for x in a.seeds.split(",")]
    for w in [x["name"] for x in bench["workloads"]]:
        for seed in seeds:
            run(w, seed, 0, bench["run_seconds"], a.out)
        run(w, seeds[0], 1, bench["run_seconds"], a.out)
    print(json.dumps(summarize(a.out, bench), indent=2))


if __name__ == "__main__":
    main()
