"""Tests of the benchmark's own statistics, and a smoke run.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke run builds graft and runs every workload at a tiny scale
factor, traced and untraced; it takes a few minutes, so it runs only
with PERFBENCH_SMOKE=1.
"""
import json
import os
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import stats  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertIsNone(stats.percentile(v, 95))
        self.assertEqual(stats.percentile(v, 95, min_tail=5), 95)

    def test_unordered_input_and_median(self):
        v = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(v, 50, min_tail=0), 3.0)
        self.assertEqual(stats.median(v), 3.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([30.0]), 30.0)

    def test_rejects_non_positive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1.0, 0.0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_spans_count_once(self):
        # the two jobs overlap on [3, 4]; the build's self time is what
        # neither job nor the stage covers
        spans = [(0, 10, 1, "key"), (0, 6, 2, "build"), (1, 4, 4, "job"),
                 (3, 5, 4, "job"), (2, 3, 5, "stage"), (6, 9, 2, "action"),
                 (6, 7, 3, "plan")]
        t = stats.exclusive_times(spans)
        self.assertAlmostEqual(t["key"], 1.0)
        self.assertAlmostEqual(t["build"], 2.0)
        self.assertAlmostEqual(t["job"], 3.0)
        self.assertAlmostEqual(t["stage"], 1.0)
        self.assertAlmostEqual(t["plan"], 1.0)
        self.assertAlmostEqual(t["action"], 2.0)
        self.assertAlmostEqual(sum(t.values()), 10.0)


class FailCountTest(unittest.TestCase):
    def test_thrown_and_wrong_count(self):
        execs = [
            {"key": "q_a", "rows": 5, "error": ""},
            {"key": "q_a", "rows": -1, "error": "SparkException: boom"},
            {"key": "q_b", "rows": 7, "error": ""},
            {"key": "q_c", "rows": 1, "error": ""},
        ]
        failed, causes = stats.fail_count(execs, {"q_a": 5, "q_b": 6})
        self.assertEqual(failed, 2)
        self.assertEqual(failed / len(execs), 0.5)
        self.assertEqual(causes, [("q_a", "threw: SparkException: boom"),
                                  ("q_b", "rows 7, expected 6")])


class ContentPathTest(unittest.TestCase):
    @unittest.skipUnless((HERE.parent / "tools" / "check.py").is_file(),
                         "needs graft's tools/check.py")
    def test_verdict_is_kept_per_program_version(self):
        import run
        a = run.content_path("d", "kg_etl", "stamp-a")
        self.assertEqual(a, run.content_path("d", "kg_etl", "stamp-a"))
        self.assertNotEqual(a, run.content_path("d", "kg_etl", "stamp-b"))
        self.assertNotEqual(a, run.content_path("d", "sql_interactive",
                                                "stamp-a"))


@unittest.skipUnless(os.environ.get("PERFBENCH_SMOKE") == "1",
                     "set PERFBENCH_SMOKE=1 for the smoke run")
class SmokeTest(unittest.TestCase):
    """Every workload at sf 0.01: the run is correct and prints every
    metric BENCHMARK.json names, end-to-end untraced and per-layer
    traced."""

    def test_every_metric_is_emitted(self):
        bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        for w in bench["workloads"]:
            for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w["name"], trace=trace):
                    r = subprocess.run(
                        [sys.executable, str(HERE / "run.py"),
                         "--workload", w["name"], "--seed", "1",
                         "--seconds", "1", "--trace", str(trace),
                         "--sf", "0.01"],
                        cwd=HERE.parent, stdout=subprocess.PIPE, text=True,
                        timeout=900)
                    self.assertEqual(r.returncode, 0)
                    last = json.loads(r.stdout.strip().splitlines()[-1])
                    self.assertEqual(set(last), {"correct", "attempted",
                                                 "failed", "metrics"})
                    self.assertTrue(last["correct"], r.stdout[-2000:])
                    self.assertGreaterEqual(last["attempted"], 1)
                    names = {m["name"]: m["unit"] for m in bench[kind]}
                    self.assertEqual(set(last["metrics"]), set(names))
                    for name, unit in names.items():
                        self.assertEqual(last["metrics"][name]["unit"], unit)


if __name__ == "__main__":
    unittest.main()
