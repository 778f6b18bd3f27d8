#!/usr/bin/env python3
"""The benchmark's own tests.

Run from the repository root:

    python3 perfbench/test_bench.py

They check that the table generator is deterministic per seed, that the
output digest ignores row and column order, that BENCHMARK.json stays
within its format's limits, that run.py refuses to run without the program's
sources, and (through the JVM self-test) that the CDC message generator is
deterministic with the intended distributions and that the stream latency
accounting is right on a hand-built progress sequence.
"""
import collections
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class FixtureTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.BUILD, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.BUILD)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_gives_identical_files(self):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        fixture.write(5, a)
        fixture.write(5, b)
        names = sorted(os.listdir(a))
        self.assertEqual(len(names), len(fixture.ROWS))
        _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_changes_values_not_distributions(self):
        t1, t2 = fixture.tables(5), fixture.tables(6)
        for name, rows in fixture.ROWS.items():
            self.assertEqual(t1[name].num_rows, rows)
            self.assertEqual(t2[name].num_rows, rows)
            self.assertEqual(t1[name].schema, t2[name].schema)
        self.assertNotEqual(t1["documents"].column("text").to_pylist(),
                            t2["documents"].column("text").to_pylist())
        for table, col, tol in (("events", "event_type", 0.03), ("documents", "lang", 0.06),
                                ("lineitem", "l_returnflag", 0.02)):
            s1 = collections.Counter(t1[table].column(col).to_pylist())
            s2 = collections.Counter(t2[table].column(col).to_pylist())
            n = t1[table].num_rows
            for k in set(s1) | set(s2):
                self.assertAlmostEqual(s1[k] / n, s2[k] / n, delta=tol, msg=f"{table}.{col}={k}")
        dups = sum(t.endswith(" dup") for t in t1["documents"].column("text").to_pylist())
        self.assertTrue(5 <= dups <= 50, dups)


class DigestTest(unittest.TestCase):
    def test_order_insensitive_and_value_sensitive(self):
        import pandas as pd
        df = pd.DataFrame({"b": [1, 2, None], "a": ["x", "y", "z"]})
        shuffled = df.iloc[[2, 0, 1]][["a", "b"]]
        self.assertEqual(oracle.digest(df), oracle.digest(shuffled))
        changed = df.copy()
        changed.loc[0, "a"] = "w"
        self.assertNotEqual(oracle.digest(df), oracle.digest(changed))


class FormatTest(unittest.TestCase):
    def test_benchmark_json_stays_within_its_format(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual(set(bench), {"command", "paths", "run_seconds", "workloads",
                                      "end_to_end", "per_layer"})
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names + [w["name"] for w in bench["workloads"]]:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
        bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(bounds["setup_s"], max(bounds.values()))
        self.assertTrue(2 <= len(bench["workloads"]) <= 8)

    def test_refuses_to_run_without_program_sources(self):
        tmp = tempfile.mkdtemp(dir=run.BUILD)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            shutil.copytree(HERE, os.path.join(tmp, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "cdc_pipeline",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=tmp, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=180)
            self.assertNotEqual(r.returncode, 0)
            self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(tmp)


class JvmSelfTest(unittest.TestCase):
    def test_generator_and_latency(self):
        jars = run.spark_jars()
        classes = run.build(jars)
        r = subprocess.run(["java", "-cp", classes + os.pathsep + os.path.join(jars, "*"),
                            "graft.perfbench.SelfTest"],
                           stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        self.assertIn("checks passed", r.stdout)


if __name__ == "__main__":
    unittest.main()
