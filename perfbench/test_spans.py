"""Checks of the span arithmetic in spans.py.

  python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import spans


def span(i, parent, start, end, layer="ml", failed=False):
    return {"id": i, "parent": parent, "layer": layer, "name": f"s{i}", "op": 0,
            "start": start, "end": end, "failed": failed}


def job(span_id, start, end, task_ms=0, construct=False):
    return {"id": 0, "span": span_id, "phase": "timed", "construct": construct,
            "start": start, "end": end, "stages": 1, "tasks": 1, "task_ms": task_ms,
            "cpu_ms": 0, "shuffle_write": 0, "shuffle_read": 0, "spill": 0, "input": 0}


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlap_and_touching(self):
        self.assertEqual(spans.union([(5, 8), (0, 2), (1, 3), (3, 4)]), [(0, 4), (5, 8)])

    def test_subtract(self):
        self.assertEqual(spans.subtract([(0, 10)], [(2, 3), (5, 12)]), [(0, 2), (3, 5)])
        self.assertEqual(spans.subtract([(0, 10)], []), [(0, 10)])
        self.assertEqual(spans.subtract([(0, 10)], [(-5, 20)]), [])


class SelfTimeTest(unittest.TestCase):
    def test_nested(self):
        # parent 0-100 holds child 20-50, which holds grandchild 30-40
        ss = [span(0, -1, 0, 100), span(1, 0, 20, 50), span(2, 1, 30, 40)]
        t = spans.span_times(ss, [])
        self.assertEqual(t[0][0], 70)
        self.assertEqual(t[1][0], 20)
        self.assertEqual(t[2][0], 10)

    def test_siblings_sequential_and_overlapping(self):
        ss = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 40, 60)]
        self.assertEqual(spans.span_times(ss, [])[0][0], 60)
        # overlapping siblings cover their union once, not twice
        ss = [span(0, -1, 0, 100), span(1, 0, 10, 40), span(2, 0, 30, 60)]
        self.assertEqual(spans.span_times(ss, [])[0][0], 50)

    def test_driver_time_excludes_jobs(self):
        ss = [span(0, -1, 0, 100)]
        jobs = [job(0, 10, 30), job(0, 20, 50)]
        self.assertEqual(spans.span_times(ss, jobs)[0], (100, 60))

    def test_job_outliving_its_span_is_clipped(self):
        # the job starts inside the span and ends after it: only 80-100
        # of it lies in the span, so driver time is 0-80
        ss = [span(0, -1, 0, 100)]
        self.assertEqual(spans.span_times(ss, [job(0, 80, 150)])[0], (100, 80))

    def test_job_under_child_does_not_count_twice(self):
        # child 20-60 owns a job 30-50; the parent's self time 0-20 and
        # 60-100 holds no job, so all 60 of it is driver time
        ss = [span(0, -1, 0, 100), span(1, 0, 20, 60)]
        t = spans.span_times(ss, [job(1, 30, 50)])
        self.assertEqual(t[0], (60, 60))
        self.assertEqual(t[1], (40, 20))


class LayerMetricsTest(unittest.TestCase):
    def test_layer_rollup(self):
        tr = {"window": [0, 1000], "cores": 4,
              "spans": [span(0, -1, 0, 400, layer="ml"),
                        span(1, 0, 100, 200, layer="features"),
                        span(2, -1, 500, 600, layer="ml", failed=True),
                        span(3, -1, 1500, 1600, layer="ml")],  # outside the window
              "jobs": [job(1, 100, 200, task_ms=300, construct=True), job(0, 300, 400, task_ms=100)],
              "queries": [{"t": 50, "analysis_ms": 2, "optimizer_ms": 3, "planning_ms": 4}]}
        m = spans.layer_metrics(tr, {})
        self.assertEqual(m["ml.calls"], 2)
        self.assertEqual(m["ml.failed"], 1)
        self.assertEqual(m["ml.self_ms"], 0.4)  # (300 + 100) µs
        self.assertEqual(m["ml.jobs"], 1)
        self.assertEqual(m["features.jobs"], 1)
        self.assertEqual(m["features.task_ms"], 300)
        self.assertAlmostEqual(m["ml.driver_ms"], 0.3)  # 0-100, 200-300, 500-600
        self.assertEqual(m["engine.jobs"], 2)
        self.assertEqual(m["engine.construct_jobs"], 1)
        self.assertAlmostEqual(m["engine.outside_jobs_ms"], 0.8)
        self.assertAlmostEqual(m["engine.core_use"], 400 / (0.2 * 4))
        self.assertEqual(m["engine.analysis_ms"], 2)
        self.assertEqual(set(m), set(spans.per_layer_units()))


if __name__ == "__main__":
    unittest.main()
