"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""

import unittest

import harness


def record(*fields):
    return "\t".join(str(f) for f in fields)


class PercentileTest(unittest.TestCase):
    def test_odd_count_median_is_the_middle_value(self):
        self.assertEqual(harness.median([5, 1, 3]), 3)

    def test_even_count_median_averages_the_two_middle_values(self):
        self.assertEqual(harness.median([4, 1, 3, 2]), 2.5)

    def test_p90_interpolates_between_ranks(self):
        self.assertAlmostEqual(harness.percentile(range(1, 11), 90), 9.1)


class PlanTest(unittest.TestCase):
    def test_same_seed_gives_the_same_request_lists(self):
        for workload in harness.WORKLOADS:
            self.assertEqual(harness.make_plan(workload, 7, 4), harness.make_plan(workload, 7, 4))

    def test_another_seed_gives_other_requests(self):
        self.assertNotEqual(harness.make_plan("explore", 7, 4)["A"],
                            harness.make_plan("explore", 8, 4)["A"])

    def test_replay_keeps_the_traced_shapes_with_fresh_literals(self):
        plan = harness.make_plan("explore", 7, 4)
        for traced, replay in zip(plan["B"], plan["R"]):
            self.assertEqual([t for t, _ in traced], [t for t, _ in replay])
            fresh = [(b, r) for (_, b), (_, r) in zip(traced, replay)
                     if b not in harness.EXPLORE_FIXED_SQL]
            self.assertGreater(sum(b != r for b, r in fresh), 0.95 * len(fresh))

    def test_every_block_of_16_sessions_holds_each_template_once_per_kind(self):
        for client in harness.make_plan("explore", 3, 4)["A"]:
            for i in range(0, len(client), 16):
                block = [sql for _, sql in client[i:i + 16]]
                self.assertEqual(sum(sql in harness.EXPLORE_FIXED_SQL for sql in block), 8)
                self.assertEqual(len(set(block)), 16)


class FailedOpTest(unittest.TestCase):
    def records(self):
        lines = [record("window", "A", 0, 1000)]
        for index, ok, latency in [(0, 1, 50.0), (1, 0, 1.0), (2, 1, 70.0)]:
            t0 = index * 300.0
            lines.append(record("op", "A", 0, index, t0, t0 + latency + 10, ok,
                                "-" if ok else "csv: csv has 1 lines, expected 11"))
            lines.append(record("req", "A", 0, index, 0, "execute", "query", t0,
                                t0 + latency, 200, 60, "-", ok))
        return harness.Records(lines)

    def test_a_failed_op_counts_as_failed(self):
        self.assertEqual(harness.outcome(self.records(), ["A"]), (3, 1))

    def test_a_failed_op_is_not_a_latency_sample(self):
        metrics, samples = harness.e2e_metrics(self.records(), launch_ms=-2000.0)
        self.assertEqual(samples["query_p50_ms"], 2)
        self.assertEqual(metrics["query_p50_ms"][0], 60.0)
        self.assertEqual(metrics["setup_s"][0], 2.0)

    def test_a_failed_op_does_not_count_as_completed(self):
        # two good ops in the 680 ms from the first start to the last end
        self.assertAlmostEqual(harness.ops_per_s(self.records(), "A"), 2 / 0.68)


class DriverGapTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(harness.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        # wall 30, plan 2, jobs cover 20 of it: the sum of job walls (25)
        # would understate the gap
        self.assertEqual(harness.driver_gap_ms((0, 30), 2, [(0, 10), (5, 15), (20, 25)]), 8)

    def test_jobs_are_clipped_to_the_op(self):
        self.assertEqual(harness.driver_gap_ms((10, 20), 0, [(0, 12), (18, 40)]), 6)


if __name__ == "__main__":
    unittest.main()
