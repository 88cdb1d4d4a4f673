"""Tests of the benchmark's own logic. Run from the checkout root:

    python3 -B -m unittest discover -s perfbench -p 'test_*.py'

The generator tests compile the benchmark first if needed.
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SALES = {"salesheader", "salesdetail"}


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.median(xs), 3.0)
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), (1.5, 3.0, 4.5))

    def test_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.percentile([float(i) for i in range(99)], 90))
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(stats.percentile(xs, 90), 90.0)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90.0)
        self.assertIsNone(stats.percentile([1.0] * 19, 50))
        self.assertEqual(stats.percentile([1.0] * 20, 50), 1.0)


class OracleTest(unittest.TestCase):
    def frame(self):
        return pd.DataFrame({"b": [2.5, 1.0, None], "a": [3, 1, 2], "s": ["z", "x", "y"]})

    def test_same_rows_in_any_order_and_column_order_match(self):
        got = self.frame()
        want = got.iloc[[2, 0, 1]][["s", "a", "b"]].reset_index(drop=True)
        self.assertIsNone(oracle.compare(got, want))

    def test_one_altered_row_is_rejected(self):
        want = self.frame()
        got = want.copy()
        got.loc[1, "b"] = 1.0000001
        self.assertIn("values differ", oracle.compare(got, want))
        got = want.copy()
        got.loc[0, "s"] = "q"
        self.assertIsNotNone(oracle.compare(got, want))

    def test_missing_row_and_column_are_rejected(self):
        want = self.frame()
        self.assertIn("rows", oracle.compare(want.iloc[:2], want))
        self.assertIn("columns", oracle.compare(want.drop(columns=["s"]), want))

    def test_check_outputs_compares_written_parquet_with_oracle(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            os.makedirs(os.path.join(d, "t"))
            self.frame().to_parquet(os.path.join(d, "t", "part-0.parquet"))
            good = ("SELECT CAST(a AS BIGINT) AS a, b, s FROM "
                    "(VALUES (1, 1.0, 'x'), (2, NULL, 'y'), (3, 2.5, 'z')) v(a, b, s)")
            bad = good.replace("'y'", "'w'")
            con = oracle.connect()
            written = f"SELECT * FROM read_parquet('{d}/t/*.parquet')"
            res = dict(oracle.check_outputs(con, {"t": (written, good)}))
            self.assertIsNone(res["t"])
            missing = f"SELECT * FROM read_parquet('{d}/missing/*.parquet')"
            res = dict(oracle.check_outputs(con, {"t": (written, bad), "m": (missing, good)}))
            self.assertIn("values differ", res["t"])
            self.assertIn("error", res["m"])


class ContractTest(unittest.TestCase):
    def test_benchmark_json_names_what_the_runner_reports(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        res = {"spans": [], "peak_rss_kb": 0, "window_start_ms": 0, "window_end_ms": 1000,
               "session_ready_ms": 2000, "setup": {},
               "trace_globals": dict.fromkeys(
                   ["analysis_ms", "optimization_ms", "planning_ms", "queries", "files_read",
                    "files_pruned", "files_written", "gc_ms", "listener_ns"], 0)}
        layer = run.per_layer(res, [])
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         [(k, run.unit_of(k)) for k in layer])
        e2e = run.end_to_end(res, 0.0, [{"ok": True, "seconds": 1.0}])
        self.assertEqual(sorted((m["name"], m["unit"]) for m in b["end_to_end"]),
                         sorted((k, u) for k, (_, u) in e2e.items()))

    def test_refuses_to_run_without_the_program_sources(self):
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_build")) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"))
            r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "elt_pipeline",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, timeout=170)
            self.assertNotEqual(r.returncode, 0)
            self.assertEqual(r.stdout, b"")


class GeneratorTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.classpath = run.build(ROOT)
        cls.tmp = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def gen(self, seed, name):
        out = os.path.join(self.tmp, name)
        subprocess.run(["java", "-XX:-UsePerfData", "-cp", self.classpath,
                        "perfbench.Main", "gen", str(seed), out],
                       check=True, stdout=subprocess.DEVNULL)
        return out

    def entities(self, d):
        return sorted(e for e in os.listdir(d) if os.path.isdir(os.path.join(d, e)))

    def same(self, a, b, e):
        return filecmp.cmp(os.path.join(a, e, f"{e}.csv"), os.path.join(b, e, f"{e}.csv"),
                           shallow=False)

    def test_same_seed_same_bytes_other_seed_only_sales_differ(self):
        a, b, c = self.gen(7, "a"), self.gen(7, "b"), self.gen(8, "c")
        self.assertEqual(len(self.entities(a)), 12)
        for e in self.entities(a):
            self.assertTrue(self.same(a, b, e), e)
            self.assertEqual(self.same(a, c, e), e not in SALES, e)
        with open(os.path.join(a, "salesheader", "salesheader.csv")) as f:
            self.assertEqual(sum(1 for _ in f) - 1, 187320)


if __name__ == "__main__":
    unittest.main()
