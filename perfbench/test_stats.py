"""Checks of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import statistics
import unittest

import run
import stats


def span(id, parent, start, end):
    return {"id": id, "parent": parent, "start_ns": start, "end_ns": end,
            "name": "s%d" % id, "work": {}}


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_subtracted_once(self):
        spans = [span(0, -1, 0, 100),
                 span(1, 0, 10, 40), span(2, 0, 30, 60),  # overlap 30..40
                 span(3, 0, 90, 120),                     # clipped at 100
                 span(4, 1, 15, 20)]                      # grandchild
        got = stats.self_times(spans)
        self.assertEqual(got[0], 100 - (60 - 10) - (100 - 90))
        self.assertEqual(got[1], 30 - 5)
        self.assertEqual(got[2], 30)
        self.assertEqual(got[4], 5)

    def test_nested_child_inside_another(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 90), span(2, 0, 20, 30)]
        self.assertEqual(stats.self_times(spans)[0], 20)

    def test_leaf_is_its_duration(self):
        self.assertEqual(stats.self_times([span(7, -1, 5, 12)]), {7: 7})

    def test_subtree(self):
        spans = [span(0, -1, 0, 9), span(1, 0, 1, 2), span(2, 1, 1, 2),
                 span(3, -1, 10, 11)]
        self.assertEqual(sorted(s["id"] for s in stats.subtree(spans, 0)), [0, 1, 2])


class MedianAndQuartiles(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        values = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.0, 6.0, 5.5, 3.5]
        self.assertEqual(stats.quartiles(values),
                         tuple(statistics.quantiles(values, n=4)))
        self.assertEqual(stats.median(values), 3.75)

    def test_spread_is_iqr_over_median(self):
        values = [float(v) for v in range(1, 11)]
        q1, q2, q3 = stats.quartiles(values)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertEqual(stats.spread(values), 1.0)


class EndToEnd(unittest.TestCase):
    def test_setup_counts_the_median_input_generation_once(self):
        # wall 2,100 ms to the first timed op, of which 600 ms generated the
        # inputs three times: 400 ms of repeats are left out
        result = {"setup_wall_ms": 2100.0, "inputs_ms": [300.0, 100.0, 200.0],
                  "ops_ms": [5.0, 7.0, 6.0], "attempted": 4, "failed": 1}
        m = run.end_to_end(result)
        self.assertEqual(m["setup_s"], (1.7, "s"))
        self.assertEqual(m["op_p50_ms"], (6.0, "ms"))
        self.assertEqual(m["success_ratio"], (0.75, "ratio"))

    def test_setup_without_repeated_inputs_is_the_wall_time(self):
        result = {"setup_wall_ms": 2100.0, "inputs_ms": [], "ops_ms": [5.0],
                  "attempted": 1, "failed": 0}
        self.assertEqual(run.end_to_end(result)["setup_s"], (2.1, "s"))


if __name__ == "__main__":
    unittest.main()
