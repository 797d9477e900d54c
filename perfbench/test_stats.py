"""Tests of the benchmark's own arithmetic: python3 -m unittest discover perfbench"""

import statistics
import unittest

import stats


def span(trace, id_, name, parent, start, end, **metrics):
    return {"trace": trace, "id": id_, "name": name, "parent": parent,
            "start_s": start, "end_s": end, "metrics": metrics}


class SummaryTest(unittest.TestCase):
    def test_median_and_quartiles_match_statistics_quantiles(self):
        values = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0]
        med, q1, q3, n = stats.summary(values)
        self.assertEqual(med, 3.5)
        self.assertEqual([q1, med, q3], statistics.quantiles(sorted(values), n=4))
        self.assertEqual(n, 6)

    def test_single_sample_is_its_own_quartiles(self):
        self.assertEqual(stats.summary([2.5]), (2.5, 2.5, 2.5, 1))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.summary([])


class SelfTimeTest(unittest.TestCase):
    def test_leaf_self_time_is_its_duration(self):
        self.assertAlmostEqual(stats.self_time(span("t", 1, "a", 0, 1.0, 3.5), []), 2.5)

    def test_nested_children_are_subtracted_once_where_they_overlap(self):
        parent = span("t", 1, "p", 0, 0.0, 10.0)
        children = [span("t", 2, "a", 1, 1.0, 4.0), span("t", 3, "b", 1, 3.0, 5.0),
                    span("t", 4, "c", 1, 7.0, 8.0)]
        # covered: [1, 5] and [7, 8] = 5 s of 10
        self.assertAlmostEqual(stats.self_time(parent, children), 5.0)

    def test_child_sticking_out_counts_only_inside_the_parent(self):
        parent = span("t", 1, "p", 0, 2.0, 6.0)
        self.assertAlmostEqual(
            stats.self_time(parent, [span("t", 2, "a", 1, 5.0, 9.0)]), 3.0)

    def test_per_layer_self_time_of_nested_spans(self):
        raw = {"cpus": 4, "counts": {}, "traced": [{"wall_s": 10.0}],
               "untraced": [{"wall_s": 30.0}, {"wall_s": 9.5}],
               "spans": [span("i1", 1, "workload.w", 0, 0.0, 10.0),
                         span("i1", 2, "orchestration.rerun_skip", 1, 1.0, 5.0, cpu_s=8.0),
                         span("i1", 3, "operators.combine", 2, 2.0, 3.0, cpu_s=2.0)]}
        out = stats.per_layer(raw)
        self.assertAlmostEqual(out["orchestration.rerun_skip.wall_s"], 4.0)
        self.assertAlmostEqual(out["orchestration.rerun_skip.self_s"], 3.0)
        self.assertAlmostEqual(out["operators.combine.self_s"], 1.0)
        self.assertAlmostEqual(out["orchestration.rerun_skip.core_util"], 8.0 / (4.0 * 4))
        self.assertAlmostEqual(out["trace.overhead_s"], 0.5)
        self.assertAlmostEqual(out["trace.stage_coverage"], 0.4)
        self.assertEqual(out["dedup.minhash_lsh.wall_s"], 0.0)


class ErrorRateTest(unittest.TestCase):
    def test_failed_over_attempted(self):
        self.assertEqual(stats.error_rate(24, 0), 0.0)
        self.assertAlmostEqual(stats.error_rate(24, 3), 0.125)

    def test_nothing_attempted_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


if __name__ == "__main__":
    unittest.main()
