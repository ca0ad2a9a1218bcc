"""Unit tests for the report arithmetic. Run from the repository root:

    python3 -m unittest discover -s ragbench/tests
"""

import math
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import metrics as M  # noqa: E402
import run  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(10, 0, -1))  # order must not matter
        self.assertEqual(M.percentile(v, 50), 5)
        self.assertEqual(M.percentile(v, 90), 9)
        self.assertEqual(M.percentile(v, 91), 10)
        self.assertEqual(M.percentile(v, 100), 10)
        self.assertEqual(M.percentile([7.5], 99), 7.5)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            M.percentile([], 50)


class TailSelection(unittest.TestCase):
    def test_known_counts(self):
        self.assertEqual([M.tail_percentile(n) for n in
                          (2, 19, 20, 30, 40, 100, 1000, 5000)],
                         [None, None, 50, 66, 75, 90, 99, 99])

    def test_ten_samples_beyond_and_highest(self):
        for n in range(1, 3000):
            q = M.tail_percentile(n)
            if q is None:
                self.assertLess(n - math.ceil(0.5 * n), M.TAIL_BEYOND)
                continue
            self.assertGreaterEqual(n - math.ceil(q / 100 * n), M.TAIL_BEYOND)
            if q < 99:
                self.assertLess(n - math.ceil((q + 1) / 100 * n), M.TAIL_BEYOND)

    def test_percentile_follows_min_ops_not_run_length(self):
        # 30 guaranteed ops give p66 whether a run made 30 or 300 ops
        self.assertEqual(M.tail(list(range(1, 31)), 30), ("p66", 20))
        self.assertEqual(M.tail(list(range(1, 301)), 30), ("p66", 198))

    def test_too_few_samples_report_the_maximum(self):
        self.assertEqual(M.tail([3.0, 9.0, 4.0], 2), ("max", 9.0))


class Ratios(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(M.ratio(3, 4), 0.75)
        self.assertEqual(M.ratio(5, 0), 0.0)

    def test_end_to_end(self):
        r = {"op_ms": [100.0, 300.0, 200.0],
             "session_s": 2.0, "load_s": 0.5, "prepare_s": 3.0,
             "recall": 0.9, "precision": 0.2, "peak_rss_mb": 900.0}
        e = run.end_to_end(r, gen_s=0.5)
        self.assertEqual(set(e), {k for k, _ in run.END_TO_END})
        self.assertAlmostEqual(e["setup_s"], 6.0)
        self.assertEqual(e["op_p50_ms"], 200.0)


class Spans(unittest.TestCase):
    def test_covered_merges_overlaps(self):
        self.assertEqual(M.covered([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4.0)
        self.assertEqual(M.covered([]), 0.0)

    def test_self_time_subtracts_children(self):
        spans = [
            {"id": 1, "parent": 0, "start_ms": 0.0, "end_ms": 10.0},
            {"id": 2, "parent": 1, "start_ms": 1.0, "end_ms": 4.0},
            {"id": 3, "parent": 1, "start_ms": 3.0, "end_ms": 6.0},
            {"id": 4, "parent": 3, "start_ms": 3.0, "end_ms": 4.0},
        ]
        self.assertEqual(M.self_times(spans), {1: 5.0, 2: 3.0, 3: 2.0, 4: 1.0})

    def test_jobs_attribute_to_engine_layers(self):
        self.assertEqual(M.layer_of_site("collect at Ivf.scala:283"), "vector.ivf")
        self.assertEqual(M.layer_of_site("parquet at Bm25.scala:140"), "text.bm25")
        self.assertEqual(M.layer_of_site("collect at Workloads.scala:9"), "span")
        spans = [{"id": 7, "parent": 0, "name": "pipeline.ensure_indexed",
                  "start_ms": 0.0, "end_ms": 100.0}]
        jobs = [{"span": 7, "site": "collect at Ivf.scala:1", "start_ms": 10.0, "end_ms": 30.0},
                {"span": 7, "site": "save at Ivf.scala:2", "start_ms": 20.0, "end_ms": 40.0},
                {"span": 7, "site": "save at Bm25.scala:3", "start_ms": 50.0, "end_ms": 60.0},
                {"span": 0, "site": "collect at Ivf.scala:1", "start_ms": 0.0, "end_ms": 99.0}]
        self.assertEqual(M.job_ms_under(spans, jobs, "pipeline.ensure_indexed",
                                        "vector.ivf"), [30.0])
        children = M.job_spans(spans, jobs)
        self.assertEqual(len(children), 3)
        self.assertTrue(all(c["parent"] == 7 and c["id"] > 7 for c in children))


class PerLayer(unittest.TestCase):
    def test_every_per_layer_metric_is_reported(self):
        r = {"workload": "viewer", "spans": [], "jobs": [],
             "op_ms": [10.0, 12.0], "traced_op_ms": [15.0],
             "layer": {"io.resultcache.hit_rate": 0.4},
             "counters": {k: 1.0 for k in (
                 "spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
                 "spark.spill_bytes", "jvm.gc_s", "spark.storage_mb_end",
                 "io.bytes_read")}}
        out = run.per_layer(r)
        self.assertEqual(set(out), {k for k, _ in run.PER_LAYER})
        self.assertEqual(out["io.resultcache.hit_rate"], 0.4)
        self.assertAlmostEqual(out["trace.overhead_ms"], 4.0)
        self.assertAlmostEqual(out["trace.overhead_share"], 4.0 / 11.0)


if __name__ == "__main__":
    unittest.main()
