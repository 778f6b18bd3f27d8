#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, and the verdict on them.

Runs `perfbench/run.py` in two checkouts (the parent commit and the change),
one pair per seed, alternating which side runs first. Every run's context
and result lines are appended to a JSONL file. Then, for each workload and
metric, it prints each side's median and quartiles, the parent's
interquartile range (IQR), the change's wins over the pairs (direction from
BENCHMARK.json) and whether the gain rule holds: at least nine tenths of the
pairs won, ties counting for neither, and a median gap in the metric's
better direction larger than the parent's IQR. End-to-end metrics also get
the change's median relative to the parent's, against the metric's bound.

Runs are grouped by workload, trace and the two checkouts, so runs of other
checkouts appended to the same file stay apart. Within a group the k-th
parent run of a seed pairs with its k-th change run; a run without a
partner is left out of the verdict and counted in the header line.

    python3 tools/ab_pairs.py --parent ../parent --change . \\
        --workload cdc_pipeline --seeds 1-10 --out ab.jsonl
    python3 tools/ab_pairs.py --out ab.jsonl          # summarize only

`--trace 1` runs traced and judges the per-layer metrics. The tool reads
each checkout's `perfbench/` and `BENCHMARK.json` and writes nothing there.

For `cdc_pipeline` it also prints each run's tail notes from the context
line and warns on any sign that the tail's output check lost batches. That
check reads the stream's recent progress, which keeps the last 100 records
(`spark.sql.streaming.numRecentProgressUpdates`); batches before those drop
out of it, and their keys read as mismatched. The notes:
- `<tag>.batches`, the micro-batch count. It is counted from those same 100
  records (the non-empty ones), so it never passes 100 and, once early
  batches have dropped out, reads only the retained count. Reaching
  BATCH_WARN is an early hint that the tail is near the window; staying
  below it proves nothing.
- `<tag>.unseen`, timed events that no retained batch committed: nonzero when
  a dropped batch held events after the lead-in.
- `kv_mismatched`, the keys whose final KV state differs from the batch view:
  nonzero when a dropped batch held the last write of a key (the run is then
  incorrect). These two survive the truncation.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


BATCH_WARN = 98


def tail_notes(rec):
    """The run's tail notes: `<tag>.batches` and `<tag>.unseen` in tag order,
    then `kv_mismatched`, as (name, value) pairs."""
    notes = rec.get("context", {}).get("notes", {})
    tags = sorted(k[:-len(".batches")] for k in notes if k.endswith(".batches"))
    names = [f"{t}.{n}" for t in tags for n in ("batches", "unseen")] + ["kv_mismatched"]
    return [(n, int(notes[n])) for n in names if n in notes]


def tail_warning(rec):
    """Why the run's tail check may have lost batches, or an empty string."""
    return "; ".join(
        f"{n}={v}" for n, v in tail_notes(rec)
        if (n.endswith(".batches") and v >= BATCH_WARN) or (not n.endswith(".batches") and v))


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    rec = {"rc": p.returncode, "wall_s": round(time.time() - t0, 1)}
    if p.returncode == 0 and len(lines) >= 2:
        rec["context"] = json.loads(lines[-2])
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def pair_up(runs):
    """Pairs the k-th parent run of a seed with its k-th change run; returns
    the pairs in seed order and the runs left without a partner."""
    by_seed = {}
    for r in runs:
        by_seed.setdefault(r["seed"], {"parent": [], "change": []})[r["side"]].append(r)
    pairs, left = [], []
    for seed in sorted(by_seed):
        p, c = by_seed[seed]["parent"], by_seed[seed]["change"]
        k = min(len(p), len(c))
        pairs += [(seed, p[i], c[i]) for i in range(k)]
        left += p[k:] + c[k:]
    return pairs, left


def summarize(records, bench):
    better = {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    groups = {}
    for r in records:
        # Records written before the pair's checkouts were kept have none.
        key = (r["workload"], r["trace"], r.get("parent_checkout", "?"),
               r.get("change_checkout", "?"))
        groups.setdefault(key, []).append(r)
    for (workload, trace, parent, change), rs in sorted(groups.items()):
        ok = [r for r in rs if "result" in r]
        bad_runs = [r for r in rs if "result" not in r]
        incorrect = [r for r in ok if not r["result"]["correct"] or r["result"]["failed"]]
        pairs, left = pair_up(ok)
        print(f"== {workload} trace={trace}, parent {parent} vs change {change}: "
              f"{len(pairs)} pairs (seeds {','.join(str(s) for s, _, _ in pairs)}); "
              f"runs failed {len(bad_runs)}, incorrect {len(incorrect)}, "
              f"left out unpaired {len(left)}")
        if workload == "cdc_pipeline":
            for side in ("parent", "change"):
                runs = [r for r in ok if r["side"] == side]
                print(f"  tail batches, {side}: " + " ".join(
                    f"{r['seed']}:" + "/".join(str(v) for n, v in tail_notes(r)
                                               if n.endswith(".batches")) for r in runs))
                for r in runs:
                    if tail_warning(r):
                        print(f"  WARN seed {r['seed']} {side}: {tail_warning(r)}; the check "
                              "reads the last 100 progress records, and batches before "
                              "those drop out of it")
        if not pairs:
            continue
        names = list(pairs[0][1]["result"]["metrics"])
        print(f"  {'metric':28s} {'parent median [q1, q3]':32s} {'change median [q1, q3]':32s}"
              f" {'delta':>8s} {'p.IQR':>9s} {'wins':>6s}  gain  bound")
        for name in names:
            pv = [p["result"]["metrics"][name]["value"] for _, p, _ in pairs]
            cv = [c["result"]["metrics"][name]["value"] for _, _, c in pairs]
            sign = 1 if better.get(name, "lower") == "higher" else -1
            wins = sum(1 for p, c in zip(pv, cv) if sign * (c - p) > 0)
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            iqr = pq3 - pq1
            gap = sign * (cmed - pmed)
            gain = wins * 10 >= 9 * len(pv) and gap > iqr
            rel = (cmed - pmed) / pmed if pmed else 0.0
            bound = ""
            if name in bounds:
                worse = -sign * rel
                bound = f"{'WORSE' if worse > bounds[name] else 'ok'} ({bounds[name]})"
            pcell = f"{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]"
            ccell = f"{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]"
            print(f"  {name:28s} {pcell:32s} {ccell:32s} {rel:+8.1%} {iqr:9.3g}"
                  f" {wins:3d}/{len(pv):<3d} {'yes' if gain else 'no':5s} {bound}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", help="e.g. 1-10 or 1,3,11")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True, help="JSONL file, appended to")
    a = ap.parse_args()

    if a.seeds:
        if not (a.parent and a.change and a.workload):
            ap.error("--seeds needs --parent, --change and --workload")
        for workload in a.workload:
            for k, seed in enumerate(seeds(a.seeds)):
                order = [("parent", a.parent), ("change", a.change)]
                if k % 2:
                    order.reverse()
                for pos, (side, checkout) in enumerate(order):
                    rec = run_one(checkout, workload, seed, a.seconds, a.trace)
                    rec.update(side=side, checkout=os.path.abspath(checkout),
                               parent_checkout=os.path.abspath(a.parent),
                               change_checkout=os.path.abspath(a.change),
                               workload=workload, seed=seed, trace=a.trace, first=pos == 0,
                               at=time.strftime("%Y-%m-%dT%H:%M:%S"))
                    with open(a.out, "a") as fh:
                        fh.write(json.dumps(rec) + "\n")
                    m = rec.get("result", {}).get("metrics", {})
                    tail = "".join(f" {n}={v}" for n, v in tail_notes(rec))
                    print(f"{workload} seed {seed} {side}: rc={rec['rc']} " +
                          " ".join(f"{n}={v['value']:.4g}" for n, v in m.items()
                                   if a.trace == 0) + tail +
                          (" WARN" if tail_warning(rec) else ""), flush=True)

    with open(a.out) as fh:
        records = [json.loads(l) for l in fh if l.strip()]
    root = a.parent or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    summarize(records, bench)


if __name__ == "__main__":
    main()
