"""Self-tests of the benchmark's metric math.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The digest test builds the benchmark if needed and runs the harness's
digest on a small Spark frame.
"""
import os
import subprocess
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402


class MedianTest(unittest.TestCase):
    def test_odd_count_takes_middle(self):
        self.assertEqual(metrics.median([3.0, 1.0, 2.0]), 2.0)

    def test_even_count_averages_the_two_middles(self):
        self.assertEqual(metrics.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.median([])


class TailTest(unittest.TestCase):
    def test_eleventh_largest_has_ten_beyond(self):
        xs = list(range(1, 41))  # 40 samples: 31..40 lie beyond 30
        self.assertEqual(metrics.tail(xs), (30, 75.0, 40))

    def test_smallest_sample_count(self):
        value, pct, n = metrics.tail([5.0] + [9.0] * 10)
        self.assertEqual((value, n), (5.0, 11))
        self.assertAlmostEqual(pct, 100 / 11)

    def test_order_does_not_matter(self):
        self.assertEqual(metrics.tail(list(range(40, 0, -1))), (30, 75.0, 40))

    def test_too_few_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))


class CoreTimeTest(unittest.TestCase):
    def test_idle_and_util(self):
        idle, util = metrics.core_time(task_run_s=6.0, wall_s=2.0, cores=4)
        self.assertAlmostEqual(idle, 2.0)
        self.assertAlmostEqual(util, 0.75)

    def test_zero_wall(self):
        self.assertEqual(metrics.core_time(0.0, 0.0, 4), (0.0, 0.0))


class SelfTimeTest(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        span = {"start": 0.0, "end": 100.0}
        kids = [{"start": 10.0, "end": 40.0}, {"start": 30.0, "end": 50.0},
                {"start": 90.0, "end": 120.0}]
        self.assertAlmostEqual(metrics.self_time(span, kids), 100 - 40 - 10)


class FailuresTest(unittest.TestCase):
    def op(self, name, digest=None, error=None):
        return {"op": name, "digest": digest, "error": error,
                "phases": {"construct": 1.0, "execute": 1.0}, "gc_s": 0.0}

    def test_threw_and_mismatch_both_count(self):
        record = {"passes": [
            {"pass": 0, "ops": [self.op("a", "1:2"), self.op("b", "3:4"),
                                self.op("c", error="boom")]},
            {"pass": 1, "ops": [self.op("a"), self.op("b"), self.op("c")]}]}
        attempted, failed, _ = metrics.failures(
            record, {"a": "1:2", "b": "3:5", "c": "0:0"})
        self.assertEqual((attempted, failed), (6, 2))

    def test_ingest_reference(self):
        record = {"ingest_reference": "5:9", "passes": [
            {"pass": 0, "ops": [self.op("cycle0")], "ingest_digest": "5:9"},
            {"pass": 1, "ops": [self.op("cycle0")], "ingest_digest": "5:8"}]}
        self.assertEqual(metrics.failures(record, {})[:2], (2, 1))


class WarmPassesTest(unittest.TestCase):
    def op(self, t):
        return {"op": "a", "digest": None, "error": None,
                "phases": {"construct": t / 2, "execute": t / 2}, "gc_s": 0.0}

    def test_count_follows_the_arguments_only(self):
        self.assertEqual(run.warm_passes(22), 4)
        self.assertEqual(run.warm_passes(1), run.MIN_WARM_PASSES)

    def record(self, times, settle):
        return {"setup_s": 4.0, "peak_live_heap_bytes": 2 ** 20,
                "settle_passes": settle, "passes": [
                    {"pass": i, "ops": [self.op(t)] * 11} for i, t in enumerate(times)]}

    def test_cold_pass_is_not_warm(self):
        values, info = metrics.end_to_end(self.record([9.0, 1.0, 2.0, 3.0], 0))
        self.assertEqual(values["cold_pass_s"], 99.0)
        self.assertEqual(values["warm_pass_s"], 22.0)
        self.assertEqual(values["op_p50_s"], 2.0)
        self.assertEqual(info["op_tail_n"], 33)

    def test_settle_passes_are_not_timed(self):
        values, info = metrics.end_to_end(self.record([9.0, 8.0, 7.0, 1.0, 3.0], 2))
        self.assertEqual(values["cold_pass_s"], 99.0)
        self.assertEqual(values["warm_pass_s"], 22.0)
        self.assertEqual(info["op_tail_n"], 22)
        self.assertEqual(len(info["pass_s"]), 5)


class DigestTest(unittest.TestCase):
    def test_digest_is_order_independent(self):
        build.ensure_built()
        done = subprocess.run(
            ["java", "-Xmx1g"] + build.ADD_OPENS +
            ["-cp", build.classpath(), "perfbench.SelfTest"],
            capture_output=True, text=True, timeout=300)
        self.assertEqual(done.returncode, 0, done.stderr[-2000:])
        self.assertIn("digest ok", done.stdout)


if __name__ == "__main__":
    unittest.main()
