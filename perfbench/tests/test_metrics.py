"""The percentile rule, interval unions and span self-time arithmetic."""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(reversed(xs), 99), 99)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(metrics.supported_percentile(0))
        self.assertIsNone(metrics.supported_percentile(19))   # median has 9 beyond
        self.assertEqual(metrics.supported_percentile(20), 50)
        self.assertEqual(metrics.supported_percentile(99), 50)  # p90 has 9 beyond
        self.assertEqual(metrics.supported_percentile(100), 90)
        self.assertEqual(metrics.supported_percentile(999), 90)
        self.assertEqual(metrics.supported_percentile(1000), 99)
        self.assertEqual(metrics.supported_percentile(10000), 99.9)


class Intervals(unittest.TestCase):
    def test_union_and_clip(self):
        self.assertEqual(metrics.covered([]), 0)
        self.assertEqual(metrics.covered([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.covered([(0, 10), (10, 12)]), 12)
        self.assertEqual(metrics.covered([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.covered([(0, 10), (20, 30)], lo=5, hi=25), 10)
        self.assertEqual(metrics.covered([(0, 4)], lo=5, hi=9), 0)


def span(i, parent, start, end, op=0, name="s"):
    return {"id": i, "parent": parent, "op": op, "name": name,
            "start_ns": start, "end_ns": end}


class SelfTime(unittest.TestCase):
    def test_span_minus_children(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 40),     # child
                 span(2, 1, 15, 25),     # grandchild: counts against 1 only
                 span(3, 0, 50, 90),
                 span(4, -1, 200, 230)]  # another root, no children
        st = metrics.self_times(spans)
        self.assertEqual(st, {0: 30, 1: 20, 2: 10, 3: 40, 4: 30})

    def test_children_overlap_counted_once(self):
        st = metrics.self_times([span(0, -1, 0, 100), span(1, 0, 10, 60),
                                 span(2, 0, 40, 80)])
        self.assertEqual(st[0], 30)

    def test_self_times_sum_to_root_duration(self):
        spans = [span(0, -1, 0, 1000), span(1, 0, 100, 400), span(2, 1, 150, 350),
                 span(3, 0, 500, 900), span(4, 3, 600, 700), span(5, 3, 700, 800)]
        self.assertEqual(sum(metrics.self_times(spans).values()), 1000)


def op(name, traced, wall, pass_=0):
    return {"name": name, "traced": traced, "wall_s": wall, "ok": True, "pass": pass_}


class EndToEnd(unittest.TestCase):
    def test_latency_is_geomean_of_kind_medians(self):
        # untraced ops of the first two passes only; a kind's median, then
        # the geometric mean over kinds
        hs = [("setup", 60.0), ("pass", 90.0), ("pass", 95.0), ("pass", 120.0)]
        r = {"workload": "dedup_batch", "setup_s": [3.0, 0.4, 0.5],
             "heap_mb": [{"at": a, "mb": mb} for a, mb in hs],
             "ops": [op("a", False, 1.0, 0), op("a", False, 3.0, 0), op("a", False, 1.0, 1),
                     op("b", False, 4.0, 0), op("b", False, 4.0, 1), op("b", True, 100.0, 1),
                     op("a", False, 0.1, 2), op("b", False, 0.1, 2)]}
        m, kinds = metrics.end_to_end(r, failed=0, attempted=8)
        self.assertEqual(kinds, 2)
        self.assertAlmostEqual(m["latency_geomean_s"], 2.0)
        # the peak covers set-up and the first MEASURED_PASSES whole passes
        self.assertEqual(m["heap_live_peak_mb"], 95.0)
        self.assertEqual(m["setup_s"], 0.5)
        self.assertEqual(m["ops_ok_frac"], 1.0)


class HeapGrowth(unittest.TestCase):
    def test_slope_over_whole_passes(self):
        self.assertEqual(metrics.heap_growth([90.0, 95.0, 104.0]), 7.0)
        self.assertEqual(metrics.heap_growth([90.0]), 0.0)


class TracingOverhead(unittest.TestCase):
    def test_per_kind_then_median(self):
        # two kinds of very different cost: a pooled median would compare
        # the slow kind's traced ops with the fast kind's untraced ones
        r = {"workload": "dedup_batch", "ops": [
            op("fast", False, 1.0), op("fast", True, 1.1),
            op("slow", False, 10.0), op("slow", True, 10.5),
            op("mid", False, 4.0), op("mid", True, 4.8), op("mid", False, 4.0)]}
        self.assertAlmostEqual(metrics.tracing_overhead(r), 0.1)

    def test_needs_both_samples_of_a_kind(self):
        r = {"workload": "dedup_batch",
             "ops": [op("a", False, 1.0), op("b", True, 2.0)]}
        with self.assertRaises(ValueError):
            metrics.tracing_overhead(r)


if __name__ == "__main__":
    unittest.main()
