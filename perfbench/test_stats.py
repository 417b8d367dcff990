"""Tests of the benchmark's aggregation code.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import stats


def ex(op, phase, wall, round_=0, ok=True, **trace):
    return {"op": op, "phase": phase, "round": round_, "wall_s": wall,
            "ok": ok, "trace": trace}


RUN = [
    ex("a", "cold", 3.0), ex("b", "cold", 2.0),
    ex("a", "warm", 1.0, 1, jobs=2, batch_s=[0.1, 0.3]),
    ex("b", "warm", 0.5, 1, jobs=1),
    ex("a", "warm", 1.4, 2, jobs=2, batch_s=[0.5]),
    ex("b", "warm", 0.7, 2, jobs=1),
    ex("a", "warm", 1.2, 3, jobs=2, batch_s=[0.2, 0.2, 0.4]),
    ex("b", "warm", 0.9, 3, jobs=3),
]
ALL_PASS = {"a": True, "b": True}


class MedianAndPass(unittest.TestCase):
    def test_per_op_median_over_warm_rounds_only(self):
        self.assertEqual(stats.op_medians(RUN, set()), {"a": 1.2, "b": 0.7})

    def test_even_sample_count_takes_the_mean_of_the_middle_two(self):
        run = RUN[:6]   # two warm rounds
        self.assertAlmostEqual(stats.op_medians(run, set())["a"], 1.2)

    def test_pass_is_the_sum_of_op_medians(self):
        self.assertAlmostEqual(stats.pass_time(RUN, set()), 1.9)

    def test_cold_pass_sums_the_cold_executions(self):
        self.assertAlmostEqual(stats.cold_pass_time(RUN, set()), 5.0)

    def test_layer_sums_add_each_ops_median(self):
        self.assertEqual(stats.layer_sums(RUN, set(), ["jobs"]), {"jobs": 3})

    def test_batch_p50_is_the_median_of_round_medians(self):
        # round medians 0.2, 0.5, 0.2 -> 0.2
        self.assertAlmostEqual(stats.batch_p50(RUN, set()), 0.2)


class FailedOps(unittest.TestCase):
    def test_check_mismatch_fails_the_op(self):
        self.assertEqual(stats.failed_ops(RUN, {"a": True, "b": False}), {"b"})

    def test_missing_check_fails_the_op(self):
        self.assertEqual(stats.failed_ops(RUN, {"a": True}), {"b"})

    def test_an_execution_that_raised_fails_the_op(self):
        run = RUN + [ex("a", "warm", 9.0, 4, ok=False)]
        self.assertEqual(stats.failed_ops(run, ALL_PASS), {"a"})

    def test_failed_op_times_are_not_samples(self):
        failed = stats.failed_ops(RUN, {"a": True, "b": False})
        self.assertEqual(stats.op_medians(RUN, failed), {"a": 1.2})
        self.assertAlmostEqual(stats.pass_time(RUN, failed), 1.2)
        self.assertAlmostEqual(stats.cold_pass_time(RUN, failed), 3.0)
        self.assertEqual(stats.layer_sums(RUN, failed, ["jobs"]), {"jobs": 2})

    def test_every_execution_of_a_failed_op_counts_as_failed(self):
        self.assertEqual(stats.counts(RUN, {"b"}), (8, 4))
        self.assertEqual(stats.counts(RUN, set()), (8, 0))

    def test_failed_share_is_the_same_for_any_number_of_rounds(self):
        more = RUN + [ex("a", "warm", 1.1, 4), ex("b", "warm", 0.6, 4)]
        for run in (RUN, more):
            attempted, failed = stats.counts(run, {"b"})
            self.assertEqual(failed * 2, attempted)


class Correct(unittest.TestCase):
    def test_all_checks_passed_is_correct(self):
        self.assertTrue(stats.correct(RUN, {"a": None, "b": None}))

    def test_a_mismatching_op_makes_the_run_incorrect(self):
        self.assertFalse(stats.correct(RUN, {"a": None, "b": "values differ"}))

    def test_an_op_without_a_check_makes_the_run_incorrect(self):
        self.assertFalse(stats.correct(RUN, {"a": None}))

    def test_an_execution_that_raised_makes_the_run_incorrect(self):
        run = RUN + [ex("a", "warm", 9.0, 4, ok=False)]
        self.assertFalse(stats.correct(run, {"a": None, "b": None}))


class TailPercentile(unittest.TestCase):
    def test_fewer_than_forty_samples_report_the_median_alone(self):
        self.assertIsNone(stats.tail_percentile(list(range(39))))

    def test_p75_needs_ten_samples_beyond_it(self):
        p, v = stats.tail_percentile(list(range(1, 41)))
        self.assertEqual(p, 75.0)
        self.assertEqual(sum(1 for x in range(1, 41) if x > v), 10)

    def test_p90_from_one_hundred_samples(self):
        p, v = stats.tail_percentile(list(range(1, 101)))
        self.assertEqual((p, v), (90.0, 90))

    def test_p99_from_one_thousand_samples(self):
        p, v = stats.tail_percentile(list(range(1, 1001)))
        self.assertEqual((p, v), (99.0, 990))

    def test_highest_percentile_always_keeps_ten_beyond(self):
        for n in (40, 57, 99, 100, 250, 999, 1000, 5000, 10000):
            xs = list(range(n))
            p, v = stats.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)


class DriverTime(unittest.TestCase):
    def test_union_merges_overlaps_and_clips_to_the_window(self):
        spans = [(10, 20), (15, 30), (40, 50), (95, 120)]
        self.assertEqual(stats.union_ms(spans, 0, 100), 20 + 10 + 5)

    def test_union_of_no_spans_is_zero(self):
        self.assertEqual(stats.union_ms([], 0, 100), 0)

    def test_driver_time_is_wall_minus_stage_union(self):
        run = [ex("a", "warm", 0.1, 1, span_ms=[1000, 1100],
                  stage_spans_ms=[[1010, 1030], [1020, 1050], [1080, 1090]]),
               ex("b", "cold", 0.1)]
        stats.add_driver_time(run)
        self.assertAlmostEqual(run[0]["trace"]["driver_s"], 0.05)
        self.assertNotIn("driver_s", run[1]["trace"])


class Spread(unittest.TestCase):
    def test_quartile_spread_relative_to_median(self):
        med, q1, q3, rel = stats.spread([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((med, q1, q3), (5.5, 2.75, 8.25))
        self.assertAlmostEqual(rel, 1.0)


if __name__ == "__main__":
    unittest.main()
