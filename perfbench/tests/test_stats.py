"""Self-tests for the benchmark's own math and checks.

Run from the checkout root: python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402
import workloads  # noqa: E402


def span(id, parent, start, end, name="s"):
    return {"id": id, "parent": parent, "op": 0, "name": name, "start": start, "end": end}


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail_quantile(100), 0.9)
        self.assertEqual(stats.tail_quantile(200), 0.9)
        self.assertAlmostEqual(stats.tail_quantile(40), 0.75)

    def test_small_samples_fall_back_to_the_median(self):
        self.assertEqual(stats.tail_quantile(12), 0.5)
        self.assertEqual(stats.tail_quantile(0), 0.5)

    def test_chosen_quantile_leaves_ten_beyond(self):
        for n in (20, 24, 37, 100, 150):
            xs = list(range(n))
            v = stats.quantile(xs, stats.tail_quantile(n))
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_nearest_rank(self):
        self.assertEqual(stats.quantile([5, 1, 3, 2, 4], 0.5), 3)
        self.assertEqual(stats.quantile(list(range(1, 11)), 0.9), 9)
        self.assertEqual(stats.quantile([7], 0.9), 7)
        self.assertEqual(stats.quantile([], 0.5), 0.0)


class SpanSelfTime(unittest.TestCase):
    def test_children_subtract_once_and_clip_to_parent(self):
        spans = [span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 20, 50),
                 span(3, 0, 90, 120), span(4, 1, 12, 14)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs[0], 100 - 40 - 10)
        self.assertEqual(selfs[1], 20 - 2)
        self.assertEqual(selfs[4], 2)

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(stats.self_times([span(0, -1, 5, 9)]), {0: 4})


class JobAttribution(unittest.TestCase):
    spans = [span(0, -1, 0, 100, "op"), span(1, 0, 10, 40, "queries.build"),
             span(2, 1, 20, 30, "plans.plan"), span(3, 0, 50, 60, "exec")]
    jobs = [{"id": 7, "span": 2}, {"id": 8, "span": 1}, {"id": 9, "span": 0},
            {"id": 10, "span": 3}, {"id": 11, "span": -1}]

    def test_jobs_count_under_their_own_span_only(self):
        self.assertEqual(stats.jobs_in(self.spans, self.jobs, {"plans.plan"}), 1)
        self.assertEqual(stats.jobs_in(self.spans, self.jobs,
                                       {"queries.build", "plans.plan"}), 2)
        self.assertEqual(stats.jobs_in(self.spans, self.jobs, {"exec"}), 1)

    def test_job_outside_every_span_counts_nowhere(self):
        names = {s["name"] for s in self.spans}
        self.assertEqual(stats.jobs_in(self.spans, self.jobs, names), 4)

    def test_uncovered_time(self):
        self.assertEqual(stats.uncovered(0, 100, [(10, 30), (20, 40), (90, 130)]), 60)
        self.assertEqual(stats.uncovered(0, 10, []), 10)


class FailureCounting(unittest.TestCase):
    def test_thrown_and_wrong_ops_both_fail(self):
        ops = [{"i": 0, "ok": True}, {"i": 1, "ok": False}, {"i": 2, "ok": True},
               {"i": 3, "ok": True}]
        self.assertEqual(stats.count_failures(ops, {2}), (4, 2))
        self.assertEqual(stats.count_failures(ops, set()), (4, 1))

    def test_an_op_that_threw_and_mismatched_counts_once(self):
        self.assertEqual(stats.count_failures([{"i": 0, "ok": False}], {0}), (1, 1))


class LakehouseModel(unittest.TestCase):
    """The model replay flags a read whose result differs from the script."""

    def run_check(self, count):
        append = {"op": "append", "lo": 0, "n": 3, "seg": 1, "salt": 5}
        rows = [workloads.sales_row(k, 1, 5) for k in range(3)]
        plan = {"history": [append], "passes": [[{"op": "sales_agg"}]], "events_pool": ""}
        read = {"i": 0, "pass": 0, "op": "sales_agg", "ok": True, "version": 1,
                "count": count, "amount": sum(r[2] for r in rows),
                "qty": sum(r[3] for r in rows)}
        raw = {"workload": {"history": [{"op": "catalog_init", "txn": 1},
                                        {"op": "append", "before": 0, "version": 1}]},
               "warm": [], "passes": [{"ops": [read]}]}
        return workloads.check_lakehouse(plan, raw)

    def test_right_read_passes(self):
        self.assertEqual(self.run_check(3)[0], set())

    def test_wrong_read_is_flagged(self):
        self.assertEqual(self.run_check(2)[0], {0})


if __name__ == "__main__":
    unittest.main()
