"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import metrics, spans, stats  # noqa: E402


def span(sid, parent, name, start, end, **attrs):
    return [sid, parent, name, start, end, attrs]


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertIsNone(stats.tail(list(range(99))))
        self.assertEqual(stats.beyond(100, 0.9), 10)
        self.assertEqual(stats.tail(list(range(1, 101))), 90)

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.nearest_rank(xs, 0.5), 3)
        self.assertEqual(stats.nearest_rank(xs, 1.0), 5)
        self.assertEqual(stats.nearest_rank(xs, 0.01), 1)

    def test_empty_sample_has_no_tail(self):
        self.assertIsNone(stats.tail([]))

    def test_quartile_spread(self):
        xs = [10.0] * 4 + [11.0, 9.0] * 3
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / 10.0)


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        s = spans.from_dump([
            span(0, -1, "pass", 0, 100),
            span(1, 0, "step", 10, 40),
            span(2, 0, "step", 50, 60),
            span(3, 1, "inner", 20, 30),
        ])
        self_t = spans.self_times(s)
        self.assertEqual(self_t[0], 100 - 30 - 10)
        self.assertEqual(self_t[1], 30 - 10)
        self.assertEqual(self_t[3], 10)

    def test_union_clips_and_merges(self):
        iv = [(0, 10), (5, 20), (30, 40)]
        self.assertEqual(spans.union_length(iv), 30)
        self.assertEqual(spans.union_length(iv, 8, 35), 12 + 5)
        self.assertEqual(spans.union_length([], 0, 10), 0)


class Attribution(unittest.TestCase):
    def setUp(self):
        self.s = spans.from_dump([
            span(0, -1, "pass", 0, 100),
            span(1, 0, "step", 10, 40),
            span(2, 0, "step", 40, 60),
            span(3, -1, "reads", 200, 210),
        ])

    def test_innermost_span_owns_the_event(self):
        got = spans.attribute(self.s, [5, 15, 45, 70, 150, 205, 300])
        self.assertEqual(got, [0, 1, 2, 0, -1, 3, -1])

    def test_a_shared_boundary_belongs_to_the_span_beginning(self):
        self.assertEqual(spans.attribute(self.s, [40, 10, 60]), [2, 1, 0])

    def test_listener_events_roll_up_to_target_spans(self):
        dump = {
            "workload": "queries", "cpus": 2, "values": {},
            "spans": [span(0, -1, "pass", 0, 1000, traced=1),
                      span(1, 0, "q:a", 0, 400),
                      span(2, 0, "q:b", 500, 1000)],
            # two jobs in q:a (overlapping), one in q:b
            "jobs": [[10, 200], [100, 300], [600, 900]],
            # launch, finish, cpu s, gc s, shuffle w/r B, spill B, output B
            "tasks": [[20, 120, 0.1, 0.01, 1 << 20, 0, 0, 0],
                      [610, 810, 0.2, 0.02, 1 << 20, 0, 0, 0],
                      [1500, 1600, 9, 9, 9, 9, 9, 9]],
            "phases": [["analysis", 5, 8], ["planning", 550, 560]],
        }
        d = metrics.Dump(dump)
        row = d.per_span(d.passes)[0]
        self.assertEqual(row["jobs"], 3)
        self.assertAlmostEqual(row["catalyst"], 0.013)
        self.assertAlmostEqual(row["cpu"], 0.3)
        self.assertAlmostEqual(row["sw"], 2 << 20)
        self.assertAlmostEqual(row["job_union"], (290 + 300) / 1e3)
        self.assertAlmostEqual(row["floor"], 1.0 - 0.59)
        self.assertAlmostEqual(row["busy"], 0.3)
        per_q = d.per_span([d.by_id[1], d.by_id[2]])
        self.assertEqual((per_q[1]["jobs"], per_q[2]["jobs"]), (2, 1))


class QueryTimes(unittest.TestCase):
    def test_per_query_medians_leave_out_the_traced_pass(self):
        dump = {
            "workload": "queries", "cpus": 2, "values": {},
            "spans": [span(0, -1, "pass", 0, 100, traced=0),
                      span(1, 0, "q:a", 0, 100),
                      span(2, -1, "pass", 100, 500, traced=1),
                      span(3, 2, "q:a", 100, 500),
                      span(4, -1, "pass", 500, 700, traced=0),
                      span(5, 4, "q:a", 500, 700)],
            "jobs": [], "tasks": [], "phases": [],
        }
        m = metrics.per_layer(metrics.Dump(dump))
        self.assertAlmostEqual(m["query.a_s"], 0.15)
        self.assertAlmostEqual(m["trace_overhead"], 0.4 / 0.15 - 1)


if __name__ == "__main__":
    unittest.main()
