"""Tests of the benchmark itself (not of the program).

    python3 -m unittest discover -s perfbench/tests -v

The input and digest tests need the build (build.py compiles on first
use, about a minute); the run tests start the benchmark JVM three times
and take a few minutes in all.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

WORKLOADS = ["mosaic_build", "mosaic_refresh", "corpus_dedup", "query_mix"]


def bench_run(*args):
    out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(out.stderr[-3000:])
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SeededInputs(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, ".work"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def make(self, workload, seed, tag):
        d = os.path.join(self.tmp, f"{tag}-{workload}-{seed}")
        spec = inputs.generate(d, workload, seed)
        return d, spec

    def test_same_seed_same_inputs_different_seed_different_inputs(self):
        for w in WORKLOADS:
            a, _ = self.make(w, 5, "a")
            b, _ = self.make(w, 5, "b")
            c, _ = self.make(w, 6, "c")
            self.assertEqual(inputs.fingerprint(a), inputs.fingerprint(b), w)
            self.assertNotEqual(inputs.fingerprint(a), inputs.fingerprint(c), w)

    def test_same_seed_same_digests_different_seed_different_digests(self):
        _, oracle_sql, _, _ = build.build()
        for w in ("corpus_dedup", "query_mix"):
            got = {}
            for tag, seed in (("a", 5), ("b", 5), ("c", 6)):
                d, spec = self.make(w, seed, tag)
                with open(oracle_sql) as f:
                    sql = json.load(f)
                got[tag] = oracle.expected(os.path.join(d, spec["tables"]), spec["queries"], sql)
            self.assertEqual(got["a"], got["b"], w)
            self.assertNotEqual(got["a"], got["c"], w)
            self.assertTrue(all(v["rows"] > 0 for v in got["a"].values()), got["a"])


class Digest(unittest.TestCase):
    def test_cell_tags(self):
        import datetime as dt
        import decimal
        self.assertEqual(oracle.cell(None), "N")
        self.assertEqual(oracle.cell(True), "b:true")
        self.assertEqual(oracle.cell(7), "i:7")
        self.assertEqual(oracle.cell(1.5), "f:3ff8000000000000")
        self.assertEqual(oracle.cell(decimal.Decimal("2.50")), "d:2.5")
        self.assertEqual(oracle.cell(dt.datetime(1970, 1, 1, 0, 0, 1)), "t:1000000")
        self.assertEqual(oracle.cell(dt.date(1970, 1, 2)), "D:1")
        self.assertEqual(oracle.cell([1, None]), "a:[i:1,N]")

    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["x", "y"], [(1, "a"), (2, "b")])
        b = oracle.digest(["y", "x"], [("b", 2), ("a", 1)])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["x", "y"], [(1, "a"), (2, "c")]))


class MetricNames(unittest.TestCase):
    def test_unknown_metric_is_an_error_and_missing_layers_read_zero(self):
        specs = [{"name": "a.s", "unit": "s"}, {"name": "b", "unit": "count"}]
        self.assertEqual(run.metric_block({"a.s": 1.5}, specs),
                         {"a.s": {"value": 1.5, "unit": "s"}, "b": {"value": 0.0, "unit": "count"}})
        with self.assertRaises(SystemExit):
            run.metric_block({"c": 1.0}, specs)

    def test_printed_metrics_match_benchmark_json(self):
        bench = run.load_benchmark()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cond, res = bench_run("--workload", "mosaic_refresh", "--seed", "2",
                                  "--seconds", "3", "--trace", str(trace))
            self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(res["correct"], cond["failures"])
            self.assertEqual(list(res["metrics"]), [m["name"] for m in bench[key]])
            self.assertEqual([v["unit"] for v in res["metrics"].values()],
                             [m["unit"] for m in bench[key]])
            if trace == 0:
                self.assertTrue(all(v["value"] > 0 for v in res["metrics"].values()), res)


class ForcedFailure(unittest.TestCase):
    def test_a_throwing_op_is_counted_as_failed_and_not_timed(self):
        cond, res = bench_run("--workload", "mosaic_build", "--seed", "2",
                              "--seconds", "3", "--trace", "0", "--fail-op", "0")
        self.assertEqual((res["attempted"], res["failed"]), (2, 1))
        self.assertFalse(res["correct"])
        self.assertEqual(cond["conditions"]["ops_timed"], 1)
        self.assertIn("forced failure", cond["failures"][0]["error"])


if __name__ == "__main__":
    unittest.main()
