"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Run from the checkout root. The end-to-end cases start real JVMs on the
smallest inputs (`--quick`, sf0.001-sized tables) and take a few minutes.
"""
import decimal
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

import pandas as pd

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402


def bench(*args):
    p = subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=ROOT,
                       capture_output=True, text=True, timeout=900)
    last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else None
    return p.returncode, last, p.stderr


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class QuickRuns(unittest.TestCase):
    def check_line(self, last, section):
        self.assertEqual(set(last), {"correct", "attempted", "failed", "metrics"})
        names = {m["name"]: m["unit"] for m in spec()[section]}
        self.assertEqual(set(last["metrics"]), set(names))
        for k, v in last["metrics"].items():
            self.assertEqual(set(v), {"value", "unit"})
            self.assertEqual(v["unit"], names[k])
            self.assertIsInstance(v["value"], (int, float))

    def test_quick_end_to_end_emits_every_metric(self):
        for w in ("tpch", "corpus"):
            rc, last, err = bench("--workload", w, "--seed", "3", "--seconds",
                                  "1", "--trace", "0", "--quick")
            self.assertEqual(rc, 0, err[-2000:])
            self.assertTrue(last["correct"])
            self.assertEqual(last["failed"], 0)
            self.check_line(last, "end_to_end")
            for k, v in last["metrics"].items():
                self.assertGreater(v["value"], 0, k)

    def test_quick_traced_emits_every_layer(self):
        rc, last, err = bench("--workload", "corpus", "--seed", "4",
                              "--seconds", "1", "--trace", "1", "--quick")
        self.assertEqual(rc, 0, err[-2000:])
        self.assertTrue(last["correct"])
        self.check_line(last, "per_layer")
        m = last["metrics"]
        self.assertGreater(m["stream.batches"]["value"], 0)
        self.assertGreater(m["materialize.pin_jobs"]["value"], 0)
        self.assertGreater(m["expr.DotProduct.ns_per_row"]["value"], 0)

    def test_wrong_expected_hash_fails_the_run(self):
        rc, last, err = bench("--workload", "tpch", "--seed", "3", "--seconds",
                              "1", "--trace", "0", "--quick",
                              "--expect-hash", "q01_groupby_agg=" + "0" * 64)
        self.assertNotEqual(rc, 0)
        self.assertFalse(last["correct"])
        self.assertEqual(last["failed"], 1)
        self.assertIn("q01_groupby_agg", err)

    def test_without_sources_exits_nonzero(self):
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".perfbench"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload",
                                "tpch", "--seed", "1", "--seconds", "1"],
                               cwd=d, capture_output=True, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")
        finally:
            shutil.rmtree(d)


class Inputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_other_rows(self):
        base = os.path.join(ROOT, ".perfbench")
        os.makedirs(base, exist_ok=True)
        d = tempfile.mkdtemp(dir=base)
        try:
            counts = [gen.generate(os.path.join(d, str(i)), s, 0.001, 500, 2, 2)
                      for i, s in enumerate((5, 5, 6))]
            self.assertEqual(counts[0], counts[1])
            self.assertEqual(counts[0]["documents"], 1000)
            def read(i, t):
                with open(os.path.join(d, str(i), t + ".parquet"), "rb") as f:
                    return f.read()
            for t in ("lineitem", "documents", "stream/batch-001"):
                a, b, c = (read(i, t) for i in range(3))
                self.assertEqual(a, b, t)
                self.assertNotEqual(a, c, t)
        finally:
            shutil.rmtree(d)


class Digests(unittest.TestCase):
    def test_equal_frames_hash_equal_and_differences_show(self):
        a = pd.DataFrame({"b": [1.5, 2.0], "a": ["x", "y"]})
        dec = pd.DataFrame({"a": ["x", "y"],
                            "b": [decimal.Decimal("1.5"), decimal.Decimal("2")]})
        g, e = run.digests(a, dec)
        self.assertEqual(g, e)
        g, e = run.digests(a, pd.DataFrame({"a": ["x", "y"], "b": [1.5, 2.5]}))
        self.assertNotEqual(g, e)
        g, e = run.digests(a, pd.DataFrame({"a": ["y", "x"], "b": [2.0, 1.5]}))
        self.assertNotEqual(g, e, "row order is part of the result")


if __name__ == "__main__":
    unittest.main()
