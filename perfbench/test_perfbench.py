#!/usr/bin/env python3
"""Self-tests of the benchmark's own arithmetic and inputs.

    python3 perfbench/test_perfbench.py

The generator checks run the JVM half (`--workload selftest`), so they
build the program first, like a benchmark run.
"""
import json
import pathlib
import subprocess
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # p99 needs 1000 samples (10 beyond rank 990), p75 needs 40
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(999), 95.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(39), 50.0)
        self.assertIsNone(stats.tail_percentile(19))

    def test_beyond_counts_samples_strictly_above(self):
        values = list(range(1, 41))
        p75 = stats.percentile(values, 75.0)
        self.assertEqual(p75, 30)
        self.assertEqual(sum(v > p75 for v in values), stats.beyond(40, 75.0))

    def test_summary_reports_its_count(self):
        s = stats.summarize([float(i) for i in range(1000)])
        self.assertEqual((s["n"], s["tail_p"], s["tail"]), (1000, 99.0, 989.0))
        self.assertEqual(s["p50"], 499.5)

    def test_reported_tails_have_ten_beyond(self):
        # stream_catchup's fixed tail at its minimum batch count
        self.assertGreaterEqual(stats.beyond(40, run.CATCHUP_TAIL_P), 10)
        with self.assertRaises(run.Fail):
            run.tail(list(range(39)), 75.0)

    def test_quartile_spread_matches_statistics_quantiles(self):
        vals = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        q1, q2, q3 = __import__("statistics").quantiles(vals, n=4)
        self.assertAlmostEqual(stats.quartile_spread(vals), (q3 - q1) / q2)


class BenchmarkSpec(unittest.TestCase):
    def test_each_workload_says_in_one_line_why(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        names = [w["name"] for w in spec["workloads"]]
        self.assertEqual(names, ["batch_mix", "stream_catchup"])
        for w in spec["workloads"]:
            self.assertEqual(set(w), {"name", "why"})
            self.assertTrue(w["why"].strip())
            self.assertNotIn("\n", w["why"])
            self.assertLessEqual(len(w["why"]), 200)
        self.assertEqual(set(run.BYPASSED), set(names))
        self.assertIn("setup_s", [m["name"] for m in spec["end_to_end"]])


class Generator(unittest.TestCase):
    def test_generator_checks_in_the_jvm(self):
        r = subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "selftest",
                            "--seed", "11", "--seconds", "1", "--trace", "0"],
                           stdout=subprocess.PIPE, text=True, timeout=900)
        self.assertEqual(r.returncode, 0)
        facts = json.loads(r.stdout.strip().splitlines()[-1])["facts"]
        checks = {k: v for k, v in facts.items() if k.startswith("selftest.")}
        self.assertGreaterEqual(len(checks), 7)
        self.assertEqual({k: v for k, v in checks.items() if v != "ok"}, {})


if __name__ == "__main__":
    unittest.main()
