"""Tests of the benchmark itself. From the root of a checkout:

    python3 -m unittest discover -s perfbench/tests

The JVM tests build the benchmark first if needed (see run.classpath).
"""
import hashlib
import json
import shutil
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import run  # noqa: E402


class QuantileTest(unittest.TestCase):
    def test_harrell_davis_is_a_weighted_mean_of_order_statistics(self):
        self.assertAlmostEqual(run.harrell_davis([5.0] * 27, 0.5), 5.0, places=9)
        self.assertAlmostEqual(run.harrell_davis(list(range(1, 28)), 0.5), 14.0, places=6)

    def test_tail_has_ten_samples_beyond(self):
        value, pct, n = run.tail(list(range(1, 28)))
        self.assertEqual(n, 27)
        self.assertAlmostEqual(pct, 100 * 17 / 28)
        self.assertAlmostEqual(value, 17.0, delta=0.5)  # the 17th of 27


class BenchmarkJsonTest(unittest.TestCase):
    def test_units_match_what_the_run_prints(self):
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]), sorted(run.WORKLOADS))
        for m in spec["per_layer"]:
            self.assertEqual(run.unit(m["name"]), m["unit"], m["name"])


class JvmTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.cp = run.classpath()
        cls.work = run.BUILD / "test-work"
        shutil.rmtree(cls.work, ignore_errors=True)
        cls.work.mkdir(parents=True)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def gen(self, seed, name):
        out = self.work / name
        code = run.run_jvm(self.cp, self.work, ["--mode", "gen", "--seed", seed, "--out", out])
        self.assertEqual(code, 0)
        counts = json.loads(Path(f"{out}.json").read_text())
        return hashlib.sha256(out.read_bytes()).hexdigest(), counts

    def test_vcf_input_is_a_function_of_the_seed(self):
        a, ca = self.gen(7, "a.vcf.gz")
        b, cb = self.gen(7, "b.vcf.gz")
        c, cc = self.gen(8, "c.vcf.gz")
        self.assertEqual(a, b)
        self.assertEqual(ca, cb)
        self.assertNotEqual(a, c)
        self.assertNotEqual(ca["region_rows"], cc["region_rows"])
        self.assertGreater(ca["scan_rows"], 0)
        self.assertGreater(ca["write_rows"], 0)
        self.assertGreater(ca["text_bytes"], ca["write_text_bytes"])
        self.assertGreater(ca["write_text_bytes"], 0)

    def test_corrupted_reference_counts_as_failed(self):
        ref = json.loads(run.WORKLOADS["inventory_sf001"]["reference"].read_text())
        ref["a1_groupby_sum"]["digest"] = "0" * 32
        ref["a4_value_counts"]["rows"] += 1
        bad = self.work / "corrupted.json"
        bad.write_text(json.dumps(ref))
        conf = dict(run.WORKLOADS["inventory_sf001"], reference=bad,
                    queries=["a1_groupby_sum", "a4_value_counts", "a2_value_histogram"])
        rec = run.measure(conf, seed=1, seconds=1, trace=0)
        # one warm-up pass, which checks digests, and one timed pass, which
        # checks row counts
        self.assertEqual(rec["attempted"], 6)
        failed = [(f["op"], f["cause"].split()[0]) for f in rec["failures"]]
        self.assertEqual(sorted(failed), [("a1_groupby_sum", "digest"),
                                          ("a4_value_counts", "rows"), ("a4_value_counts", "rows")])


if __name__ == "__main__":
    unittest.main()
