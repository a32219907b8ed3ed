"""Tests of the benchmark's own arithmetic: the percentile rule, span self
time and the trigger waits left out of coverage. Run with:
python3 -m unittest ksbench/test_metrics.py
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 21))  # 1..20
        self.assertEqual(metrics.percentile(xs, 50), 10)
        self.assertEqual(metrics.percentile(xs, 95), 19)
        self.assertEqual(metrics.percentile(xs, 100), 20)
        self.assertEqual(metrics.percentile([7.0], 50), 7.0)
        self.assertEqual(metrics.percentile(list(reversed(xs)), 50), 10)

    def test_ten_samples_beyond(self):
        # the fewest samples that leave ten above the reported value
        self.assertEqual(metrics.min_samples(50), 20)
        self.assertEqual(metrics.min_samples(90), 100)
        self.assertEqual(metrics.min_samples(95), 200)
        for p in (50, 75, 90, 95, 99):
            n = metrics.min_samples(p)
            self.assertGreaterEqual(metrics.beyond(n, p), metrics.MIN_BEYOND)
            self.assertLess(metrics.beyond(n - 1, p), metrics.MIN_BEYOND)

    def test_beyond_counts_values_above(self):
        for n in (1, 19, 20, 24, 100, 199, 200):
            xs = list(range(n))
            for p in (50, 90, 95):
                v = metrics.percentile(xs, p)
                self.assertEqual(sum(1 for x in xs if x > v), metrics.beyond(n, p))


class RuleEnforced(unittest.TestCase):
    def test_too_few_samples_is_a_problem(self):
        pct = metrics.Percentiles()
        self.assertEqual(pct("a", list(range(20)), 50), 9)
        self.assertEqual(pct.problems, [])
        self.assertEqual(pct("b", list(range(19)), 50), 9)
        self.assertEqual(pct("c", list(range(199)), 95), 189)
        self.assertEqual(pct("d", [], 50), 0.0)
        self.assertEqual([p.split(":")[0] for p in pct.problems], ["b", "c", "d"])


class TopologyMean(unittest.TestCase):
    def test_geomean_of_means_weighs_topologies_equally(self):
        samples = [{"name": "a", "cpu_ms": 100}, {"name": "a", "cpu_ms": 300},
                   {"name": "b", "cpu_ms": 800}]
        by = metrics.by_topology(samples, lambda s: s["cpu_ms"])
        # means 200 and 800 -> sqrt(200 * 800) = 400
        self.assertAlmostEqual(metrics.geomean_of_means(by), 400.0)


class SelfTime(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(metrics.union_length([(0, 10)], 2, 4), 2)
        self.assertEqual(metrics.union_length([(3, 1)]), 0)
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.merge_intervals([(5, 6), (0, 2), (1, 3)]), [(0, 3), (5, 6)])

    def test_nested_and_overlapping_children(self):
        spans = [
            {"id": "r", "parent": None, "layer": "harness", "start": 0, "end": 100},
            {"id": "a", "parent": "r", "layer": "compile", "start": 0, "end": 40},
            # two overlapping jobs inside `a`: union 10..30 = 20
            {"id": "j1", "parent": "a", "layer": "ext", "start": 10, "end": 25},
            {"id": "j2", "parent": "a", "layer": "ext", "start": 20, "end": 30},
            {"id": "b", "parent": "r", "layer": "exec", "start": 40, "end": 90},
            # a child reaching past its parent is clipped to it
            {"id": "p", "parent": "b", "layer": "catalyst", "start": 85, "end": 95},
        ]
        st = metrics.self_times(spans)
        self.assertEqual(st["harness"], 10)    # 100 - (40 + 50)
        self.assertEqual(st["compile"], 20)    # 40 - union(10..30)
        self.assertEqual(st["ext"], 25)        # 15 + 10, each job's own span
        self.assertEqual(st["exec"], 45)       # 50 - 5 (85..90)
        self.assertEqual(st["catalyst"], 10)

    def test_subtract_intervals(self):
        self.assertEqual(metrics.subtract_intervals([(0, 10)], [(2, 3), (5, 7)]),
                         [(0, 2), (3, 5), (7, 10)])
        self.assertEqual(metrics.subtract_intervals([(0, 4), (3, 6)], [(-1, 1), (5, 9)]),
                         [(1, 5)])
        self.assertEqual(metrics.subtract_intervals([(0, 4)], [(0, 4)]), [])

    def test_batch_span_tree(self):
        sample = {"t0": 0.0, "t1": 30.0, "t2": 80.0, "t3": 82.0}
        jobs = [
            {"id": 1, "start": 5.0, "end": 10.0, "call_site": "parquet at Compiler.scala:44"},
            {"id": 2, "start": 12.0, "end": 20.0, "call_site": "count at Pipeline.scala:1"},
            {"id": 4, "start": 15.0, "end": 18.0, "call_site": "count at Pipeline.scala:2"},
            {"id": 3, "start": 40.0, "end": 70.0, "call_site": "save at X.scala:1"},
        ]
        executions = [{"id": 0, "start": 36.0, "end": 72.0}]
        phases = [{"phase": "analysis", "start": 30.0, "end": 31.0},
                  {"phase": "optimization", "start": 31.0, "end": 35.0},
                  {"phase": "planning", "start": 35.0, "end": 38.0},
                  {"phase": "analysis", "start": 2.0, "end": 3.0}]
        st = metrics.self_times(metrics.batch_spans(sample, jobs, phases, executions))
        self.assertEqual(st["compile"], 30 - 8)   # construct minus ext job; schema job is compile
        self.assertEqual(st["ext"], 8 + 2)        # overlapping eager jobs once, plus cache release
        self.assertEqual(st["catalyst"], 8)       # phases of the write only
        self.assertEqual(st["exec"], 72 - 38)     # execution 36..72 less planning up to 38
        # the write's time no engine event covers: 80 - 72
        self.assertEqual(st["unattributed"], 8)
        self.assertEqual(st["harness"], 0)
        self.assertAlmostEqual(sum(st.values()), 82.0)


class TriggerWaits(unittest.TestCase):
    def test_only_gaps_before_a_tick_are_waits(self):
        batches = [(1000.0, 1300.0),   # ends early, next starts on the 1500 tick
                   (1502.0, 2200.0),   # overruns its tick
                   (2203.0, 2400.0),   # starts off the grid: no wait before it
                   (3001.0, 3100.0)]   # on the 3000 tick, ticks at 2500 found nothing
        self.assertEqual(metrics.trigger_waits(batches, 500.0),
                         [(1300.0, 1500.0), (2400.0, 3000.0)])


if __name__ == "__main__":
    unittest.main()
