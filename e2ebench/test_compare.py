"""Tests of the benchmark's own tools.

    python3 -m unittest discover -s e2ebench -p 'test_*.py'
"""

import io
import pathlib
import re
import statistics
import sys
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import compare  # noqa: E402
import run  # noqa: E402
import sweep  # noqa: E402


def result_set(workload, metric, values, seeds=None):
    seeds = seeds or list(range(1, len(values) + 1))
    return [{"workload": workload, "seed": s, "trace": 0,
             "result": {"correct": True, "attempted": 3, "failed": 0,
                        "metrics": {metric: {"value": v, "unit": "s"}}}}
            for s, v in zip(seeds, values)]


class Quartiles(unittest.TestCase):
    def test_matches_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0, 3.5, 8.0, 7.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(compare.quartiles(xs), (q1, q2, q3))

    def test_single_value(self):
        self.assertEqual(compare.quartiles([2.0]), (2.0, 2.0, 2.0))

    def test_spread_is_iqr_over_median(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, med, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(sweep.spread(xs), (q3 - q1) / med)


class WinFraction(unittest.TestCase):
    def test_lower_is_better_and_ties_count_for_neither(self):
        parent = {1: 10.0, 2: 10.0, 3: 10.0, 4: 10.0}
        change = {1: 9.0, 2: 9.5, 3: 10.0, 4: 11.0}
        self.assertEqual(compare.win_fraction(parent, change, "lower"), 0.5)

    def test_higher_is_better(self):
        parent = {1: 1.0, 2: 1.0}
        change = {1: 2.0, 2: 0.5}
        self.assertEqual(compare.win_fraction(parent, change, "higher"), 0.5)

    def test_pairs_only_shared_seeds(self):
        parent = {1: 5.0, 2: 5.0}
        change = {2: 4.0, 3: 1.0}
        self.assertEqual(compare.win_fraction(parent, change, "lower"), 1.0)


class Judge(unittest.TestCase):
    parent = {s: v for s, v in enumerate(
        [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.0, 9.9, 10.1], 1)}

    def test_gain_needs_nine_tenths_of_pairs_and_clearing_the_spread(self):
        change = {s: v - 1.0 for s, v in self.parent.items()}
        self.assertEqual(compare.judge(self.parent, change, "lower", 0.1),
                         "gain")

    def test_small_shift_inside_the_spread_is_not_a_gain(self):
        change = {s: v - 0.01 for s, v in self.parent.items()}
        self.assertEqual(compare.judge(self.parent, change, "lower", 0.1),
                         "same")

    def test_worse_than_the_bound_is_a_regression(self):
        change = {s: v * 1.2 for s, v in self.parent.items()}
        self.assertEqual(compare.judge(self.parent, change, "lower", 0.1),
                         "regression")

    def test_higher_is_better_regression(self):
        change = {s: v * 0.8 for s, v in self.parent.items()}
        self.assertEqual(compare.judge(self.parent, change, "higher", 0.1),
                         "regression")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        noisy = {s: v for s, v in enumerate(
            [5.0, 15.0, 6.0, 14.0, 10.0, 7.0, 13.0, 8.0, 12.0, 10.0], 1)}
        change = dict(noisy)
        self.assertEqual(compare.judge(noisy, change, "lower", 0.1),
                         "unresolved")


class CompareSets(unittest.TestCase):
    def test_reports_each_workload_and_metric(self):
        a = result_set("trickle_merge", "op_s_p50", [5.0, 5.1, 4.9, 5.0])
        b = result_set("trickle_merge", "op_s_p50", [4.0, 4.1, 3.9, 4.0])
        out = io.StringIO()
        v = compare.compare(a, b, out)
        self.assertEqual(v[("trickle_merge", "op_s_p50")], "gain")
        self.assertIn("trickle_merge", out.getvalue())
        self.assertIn("wins 1.00", out.getvalue())


class Exact(unittest.TestCase):
    def test_lists_counters_that_differ(self):
        def traced(jobs, share):
            return [{"workload": "bulk_reload", "seed": 1, "trace": 1,
                     "result": {"metrics": {
                         "sink.write.jobs": {"value": jobs, "unit": "count"},
                         "sink.write.share": {"value": share,
                                              "unit": "frac"}}}}]
        same, diff = compare.exact(traced(12, 0.3), traced(12, 0.4),
                                   io.StringIO())
        self.assertEqual(same, ["sink.write.jobs"])
        self.assertEqual(diff, [])
        same, diff = compare.exact(traced(12, 0.3), traced(13, 0.3),
                                   io.StringIO())
        self.assertEqual(same, [])
        self.assertEqual(diff[0][2], "sink.write.jobs")


class Spec(unittest.TestCase):
    NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

    def test_benchmark_json_keeps_the_contract_limits(self):
        sp = run.spec()
        self.assertTrue(2 <= len(sp["workloads"]) <= 8)
        self.assertTrue(1 <= len(sp["per_layer"]) <= 128)
        names = [m["name"] for m in sp["end_to_end"] + sp["per_layer"]]
        names += [w["name"] for w in sp["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, self.NAME)
        for m in sp["end_to_end"] + sp["per_layer"]:
            self.assertRegex(m["unit"], self.UNIT)
        for m in sp["end_to_end"]:
            self.assertLessEqual(m["bound"], 0.25)
        setup = [m for m in sp["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual((setup["unit"], setup["better"]), ("s", "lower"))
        self.assertEqual(setup["bound"],
                         max(m["bound"] for m in sp["end_to_end"]))

    def test_seed_ranges(self):
        self.assertEqual(sweep.seeds_of("1-3,7"), [1, 2, 3, 7])


if __name__ == "__main__":
    unittest.main()
