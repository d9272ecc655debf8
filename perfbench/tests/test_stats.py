import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(stats.tail(list(range(1, 101))), (90, 90, 100))
        self.assertEqual(stats.tail(list(range(1, 21))), (10, 50, 20))

    def test_order_does_not_matter(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(list(reversed(xs))), stats.tail(xs))

    def test_too_few_samples(self):
        self.assertEqual(stats.tail([1.0] * 10), (None, None, 10))
        self.assertEqual(stats.tail([]), (None, None, 0))

    def test_ties_never_count_as_beyond(self):
        self.assertEqual(stats.tail([5.0] * 40), (None, None, 40))
        value, pct, n = stats.tail([1.0] * 30 + [9.0] * 10)
        self.assertEqual(value, 1.0)
        self.assertEqual(n, 40)
        self.assertEqual(pct, 75)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(5, 6), (0, 10)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_union_clips(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5), 2.5)
        self.assertEqual(stats.union_length([(0, 2)], 3, 4), 0)


def span(i, name, parent, start, end, phase="traced"):
    return {"id": i, "name": name, "parent": parent, "phase": phase,
            "start_ms": start, "end_ms": end, "wall_ns": (end - start) * 1000000}


class SpanTest(unittest.TestCase):
    def test_self_time_subtracts_direct_children(self):
        spans = [span(0, "a", -1, 0, 10000), span(1, "b", 0, 0, 3000),
                 span(2, "c", 0, 5000, 7000), span(3, "d", 1, 0, 1000)]
        got = stats.self_times(spans)
        self.assertAlmostEqual(got[0], 5.0)
        self.assertAlmostEqual(got[1], 2.0)
        self.assertAlmostEqual(got[2], 2.0)
        self.assertAlmostEqual(got[3], 1.0)
        self.assertAlmostEqual(sum(got.values()), 10.0)

    def test_instances_attribute_stages_jobs_and_planning(self):
        trace = {
            "spans": [span(0, "text.gates", -1, 0, 4000), span(1, "dedup.exact", -1, 4000, 5000)],
            "jobs": [{"span": 0, "start_ms": 100, "end_ms": 600, "pin": True},
                     {"span": 0, "start_ms": 700, "end_ms": 900, "pin": False}],
            "stages": [
                {"span": 0, "submit_ms": 100, "complete_ms": 1100, "tasks": 4,
                 "cpu_ns": 2000000000, "gc_ms": 50, "shuffle_bytes": 3000000, "spill_bytes": 0},
                {"span": 0, "submit_ms": 600, "complete_ms": 2100, "tasks": 2,
                 "cpu_ns": 1000000000, "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 1000000}],
            "planning": [[50, 30], [4100, 20]],
            "progress": [],
        }
        got = stats.span_instances(trace)
        a = got[0]
        self.assertEqual(a["tasks"], 6)
        self.assertAlmostEqual(a["cpu_s"], 3.0)
        self.assertAlmostEqual(a["gc_s"], 0.05)
        self.assertAlmostEqual(a["shuffle_mb"], 3.0)
        self.assertAlmostEqual(a["spill_mb"], 1.0)
        self.assertAlmostEqual(a["pin_s"], 0.5)
        self.assertAlmostEqual(a["planning_s"], 0.03)
        self.assertAlmostEqual(a["driver_idle_s"], 4.0 - 2.0)  # stages cover 100..2100
        self.assertAlmostEqual(got[1]["planning_s"], 0.02)
        self.assertAlmostEqual(got[1]["driver_idle_s"], 1.0)

    def test_per_layer_reports_every_metric(self):
        names = stats.per_layer_names()
        self.assertEqual(len(names), 127)
        self.assertEqual(len(set(names)), 127)
        trace = {"spans": [span(0, "analytics.pagerank", -1, 0, 1000)], "jobs": [],
                 "stages": [], "planning": [], "progress": []}
        m = stats.per_layer(trace, [], {}, rounds=5)
        self.assertEqual(sorted(m), sorted(names))
        self.assertAlmostEqual(m["analytics.pagerank.wall_s"], 1.0)
        self.assertAlmostEqual(m["analytics.pagerank.s_per_round"], 0.2)
        self.assertEqual(m["text.gates.wall_s"], 0.0)

    def test_trigger_overhead_is_wall_minus_add_batch(self):
        trace = {"spans": [span(0, "streaming.crawl_batch", -1, 0, 2000)],
                 "progress": [[100, 1500, 1800], [5000, 700, 800]]}
        self.assertEqual(stats.trigger_overheads(trace, ("traced",)), [0.5])
        self.assertEqual(stats.trigger_overheads(trace, ("setup",)), [])


if __name__ == "__main__":
    unittest.main()
