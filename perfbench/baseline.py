#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarise each metric.

Usage, from the repository root:

    python3 perfbench/baseline.py --runs 10 [--out FILE]

Every workload in BENCHMARK.json runs untraced on seeds 1..runs, and traced
on the first TRACED_RUNS of those seeds, each traced run right after the
untraced run of its seed. For every end-to-end metric it prints the median,
the first and third quartiles (`statistics.quantiles(values, n=4)`) and the
spread: the distance between the quartiles as a share of the median. The
tracing overhead of a metric is its median over the traced runs against its
median over the untraced ones, signed so that a positive share means tracing
made the run slower. With `--out` it also writes that summary, the traced
runs' per-layer medians, and every run's metrics and ambient context as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TRACED_RUNS = 3


def one_run(workload, seed, seconds, trace):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    lines = r.stdout.strip().splitlines()
    context, res = json.loads(lines[-2]), json.loads(lines[-1])
    return {"seed": seed, "context": context["context"], "setup_reps_s": context["setup_reps_s"],
            "e2e": context["e2e"], "correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": {k: v["value"] for k, v in res["metrics"].items()}}


def summary(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    result = {"runs": a.runs, "traced_runs": TRACED_RUNS, "seconds": seconds, "workloads": {}}
    for w in (x["name"] for x in bench["workloads"]):
        runs, traced = [], []
        for seed in range(1, a.runs + 1):
            for trace in (0, 1) if seed <= TRACED_RUNS else (0,):
                r = one_run(w, seed, seconds, trace)
                (traced if trace else runs).append(r)
                print(f"{w} seed {seed} trace {trace}: correct={r['correct']} "
                      f"failed={r['failed']} " +
                      " ".join(f"{k}={r['e2e'][k]:.4g}" for k in e2e), flush=True)
        stats = {k: summary([r["metrics"][k] for r in runs]) for k in e2e}
        for k, s in stats.items():
            flag = "" if k == "setup_s" or s["spread"] < e2e[k]["bound"] / 3 else \
                "  <-- above bound/3"
            print(f"  {w} {k}: median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                  f"spread {s['spread']:.3f} (bound {e2e[k]['bound']}){flag}")
        overhead = {}
        for k, m in e2e.items():
            if k == "setup_s":
                continue
            t = statistics.median(r["e2e"][k] for r in traced)
            u = stats[k]["median"]
            overhead[k] = t / u - 1 if m["better"] == "lower" else u / t - 1
            print(f"  {w} tracing overhead on {k}: {overhead[k]:+.3f}")
        layers = {k: summary([r["metrics"][k] for r in traced]) for k in traced[0]["metrics"]}
        result["workloads"][w] = {"summary": stats, "trace_overhead": overhead,
                                  "layers": layers, "runs": runs, "traced": traced}
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
            fh.write("\n")


if __name__ == "__main__":
    main()
