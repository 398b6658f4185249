"""Tests for the benchmark's own statistics: `python3 -m unittest perfbench/test_stats.py`."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

INF = stats.INF


def op(start, end, ok=True, kind="req", name="textsearch_ann", layer="SearchEngine", phases=()):
    return {"id": f"{kind}-{start}", "kind": kind, "layer": layer, "name": name,
            "start": start, "end": end, "ok": ok, "error": "", "phases": list(phases),
            "detail": ""}


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 95), 95)
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_p95_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(199), 90)

    def test_falls_back_to_the_highest_supported(self):
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(40), 75)
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(5), 50)


class Geomean(unittest.TestCase):
    def test_value(self):
        self.assertAlmostEqual(stats.geomean([1.0, 100.0]), 10.0)
        self.assertAlmostEqual(stats.geomean([2.0, 8.0, 4.0]), 4.0)

    def test_infinite_member(self):
        self.assertEqual(stats.geomean([1.0, INF]), INF)

    def test_empty(self):
        with self.assertRaises(ValueError):
            stats.geomean([])


class FailedOps(unittest.TestCase):
    def test_failed_op_is_infinite_latency(self):
        ops = [op(0, 10), op(0, 5, ok=False)]
        self.assertEqual(stats.latencies_ms(ops), [10, INF])

    def test_failure_never_reads_fast(self):
        raw = {"setup": [{"total_s": 1.0, "layers": {}}], "heap_retained_mb": 100.0}
        fast_fail = [op(0, 10), op(10, 20), op(20, 21, ok=False)]
        e2e, (p, tail) = stats.end_to_end(raw, fast_fail)
        self.assertEqual(e2e["latency_p50_ms"], 10)
        self.assertEqual(e2e["latency_geomean_ms"], INF)
        self.assertEqual(tail, 10)  # three samples support only the median
        # the failed op is not counted as done
        self.assertAlmostEqual(e2e["req_per_s"], 2 / 0.021)
        self.assertEqual(stats.finite(INF), 1e12)

    def test_all_failed_median_is_infinite(self):
        raw = {"setup": [{"total_s": 1.0, "layers": {}}], "heap_retained_mb": 1.0}
        e2e, _ = stats.end_to_end(raw, [op(0, 1, ok=False), op(1, 2, ok=False)])
        self.assertEqual(e2e["latency_p50_ms"], INF)


class Spans(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(stats.union_ms([(-5, 5), (8, 50)], 0, 10), 7)
        self.assertEqual(stats.union_ms([], 0, 10), 0)

    def test_self_time_and_attribution(self):
        o = op(0, 100, phases=[{"name": "plan", "start": 0, "end": 30},
                               {"name": "exec", "start": 30, "end": 100}])
        raw = {"jobs": [
            {"id": 1, "group": o["id"], "start": 20, "end": 60, "stages": 2, "tasks": 4,
             "run_ms": 80, "cpu_ms": 20, "shuffle_bytes": 10, "spill_bytes": 0, "input_bytes": 5},
            {"id": 2, "group": o["id"], "start": 50, "end": 90, "stages": 1, "tasks": 8,
             "run_ms": 20, "cpu_ms": 20, "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 5},
            {"id": 3, "group": None, "start": 40, "end": 45, "stages": 1, "tasks": 1,
             "run_ms": 1, "cpu_ms": 1, "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0}],
            "window": {"start": 0, "end": 100}, "gc_s": 0.5, "ops": [o], "layers": {},
            "setup": [{"total_s": 1.0, "layers": {}}]}
        m = stats.per_layer(raw, [o], nproc=4)
        self.assertEqual(m["op.self_ms"], 30)  # 100 ms minus jobs covering [20, 90)
        self.assertEqual(m["spark.jobs_per_op"], 2)
        self.assertEqual(m["spark.first_job_ms"], 20)
        self.assertEqual(m["spark.job_floor_ms"], 40)  # only job 1 has <= nproc tasks
        self.assertAlmostEqual(m["spark.blocked_share"], 0.6)
        self.assertEqual(m["spark.unattributed_jobs"], 1)
        self.assertEqual(m["SearchEngine.plan_ms.textsearch_ann"], 30)
        self.assertEqual(m["SearchEngine.exec_ms.textsearch_ann"], 70)
        self.assertEqual(m["SearchEngine.exec_ms.panel"], 0.0)


if __name__ == "__main__":
    unittest.main()
