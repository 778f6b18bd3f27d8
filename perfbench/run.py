#!/usr/bin/env python3
"""Benchmark of the CDC pipeline and the query registry.

Usage, from the repository root:

    python3 perfbench/run.py --workload cdc_pipeline --seed 1 --seconds 10 --trace 0

Workloads: cdc_pipeline, query_board (see perfbench/README.md).
The first run in a checkout compiles `src/main/scala` and the benchmark's
own Scala sources into `.bench_build/` with the Scala compiler shipped in
the Spark jars. The last line of standard output is one JSON object with
`correct`, `attempted`, `failed` and `metrics`: every end-to-end metric
with `--trace 0`, every per-layer metric with `--trace 1`. The line before
it records the run's ambient context (load, cores, heap, a constant-work
probe); no metric is rescaled by it. Metric names and units come from
BENCHMARK.json at the checkout's root.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SETUP_REPS = 3
# Wall-clock limit of one run, the build excluded.
RUN_LIMIT_S = 170

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars beside a `spark-submit` on the PATH."""
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        submit = os.path.join(d, "spark-submit")
        if d and os.path.isfile(submit):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(submit))))
    for home in homes:
        d = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(d, "spark-sql_*.jar")):
            return d
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    if not files:
        fail(f"no program sources under {main}")
    return files + sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))


def build(jars):
    """Compile the program and the benchmark once per source state."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-cp", cp] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(classes, jars, args, work, deadline):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m"]
    cmd += [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd += [f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "graft.perfbench.Main"] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("run exceeded its time limit")
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if not lines:
        fail("benchmark JVM printed no result")
    return json.loads(lines[-1][len("PERFBENCH "):])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(BUILD, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        fixture, gen_s = "", []
        if a.workload == "query_board":
            sys.path.insert(0, HERE)
            import fixture as fx
            fixture = os.path.join(work, "fixture")
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                shutil.rmtree(fixture, ignore_errors=True)
                fx.write(a.seed, fixture)
                gen_s.append(time.perf_counter() - t0)
        r = run_jvm(classes, jars, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                                    work, str(cpus()), fixture,
                                    ",".join(f"{x:.6f}" for x in gen_s)], work, deadline)
        attempted, failed = int(r["attempted"]), int(r["failed"])
        if a.workload == "query_board":
            import oracle
            bad = oracle.check(fixture, os.path.join(work, "board", "out"))
            for name, why in sorted(bad.items()):
                print(f"perfbench: query_board {name}: {why}", file=sys.stderr)
            failed = min(attempted, failed + len(bad))
        if a.trace:
            trace_dir = os.path.join(BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            src = os.path.join(work, "trace.jsonl")
            if os.path.exists(src):
                shutil.copy(src, os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.jsonl"))
            values = dict(r["layers"])
            values["failed_share"] = failed / attempted
            declared = {m["name"] for m in bench["per_layer"]}
            if set(values) - declared:
                fail(f"undeclared per-layer metrics: {sorted(set(values) - declared)}")
            # A layer the workload does not touch reads 0.
            metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in bench["per_layer"]}
        else:
            metrics = {m["name"]: {"value": r["e2e"][m["name"]], "unit": m["unit"]}
                       for m in bench["end_to_end"]}
        print(json.dumps({"context": r["context"], "setup_reps_s": r["setup_reps"],
                          "trace": a.trace, "e2e": r["e2e"], "units": r["units"],
                          "notes": r["notes"]}))
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
