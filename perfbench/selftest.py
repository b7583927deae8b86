"""Self-test of the benchmark's metric math (no Spark needed).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_no_tail_below_ten_beyond(self):
        # 40 samples: p75's nearest rank is 30, leaving exactly 10 beyond
        self.assertEqual(stats.tail(range(1, 41)), (75.0, 30, 10))
        # 39 samples: p75 leaves 9 beyond, so no tail may be reported
        self.assertIsNone(stats.tail(range(1, 40)))

    def test_highest_percentile_with_ten_beyond(self):
        # 1000 samples: p99 leaves exactly 10 beyond, p99.9 only 1
        p, v, beyond = stats.tail(range(1, 1001))
        self.assertEqual((p, v, beyond), (99.0, 990, 10))
        # 200 samples: p95 leaves 10 beyond, p99 only 2
        self.assertEqual(stats.tail(range(1, 201))[:1], (95.0,))

    def test_tail_order_independent(self):
        xs = list(range(100, 0, -1))
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class OpsPerSecond(unittest.TestCase):
    def test_completed_over_their_own_time(self):
        # three ops of 0.5 s each: 2 ops/s, no matter how long the run was
        self.assertAlmostEqual(stats.ops_per_s([0.5, 0.5, 0.5]), 2.0)

    def test_not_rounded_to_whole_ops_of_the_window(self):
        # a 10 s window in which 3 ops finished after 2.9 s each and a
        # fourth was cut: 3/8.7, not 3/10 and not 4/10
        self.assertAlmostEqual(stats.ops_per_s([2.9, 2.9, 2.9]), 3 / 8.7)

    def test_empty_raises(self):
        with self.assertRaises(ValueError):
            stats.ops_per_s([])


class ErrorCounting(unittest.TestCase):
    def test_wrong_and_raised_both_count(self):
        t = stats.Tally()
        t.record(True)
        t.record(False, "wrong count")
        t.record(False, "raised ValueError")
        t.record(True)
        self.assertEqual((t.attempted, t.failed), (4, 2))
        self.assertAlmostEqual(t.error_rate, 0.5)
        self.assertEqual(t.reasons, ["wrong count", "raised ValueError"])

    def test_nothing_attempted_is_all_failed(self):
        self.assertEqual(stats.Tally().error_rate, 1.0)


class PlanShape(unittest.TestCase):
    PLAN = "\n".join([
        "AdaptiveSparkPlan isFinalPlan=true",
        "+- == Final Plan ==",
        "   *(3) BroadcastHashJoin [a], [b], Inner, BuildRight",
        "   :- ShuffleQueryStage 1",
        "   :  +- Exchange hashpartitioning(a, 4), ENSURE_REQUIREMENTS",
        "   :     +- InMemoryTableScan [a]",
        "   :           +- InMemoryRelation [a], StorageLevel(memory)",
        "   :                 +- *(1) SortMergeJoin [x], [y], Inner",
        "   :                    +- Exchange hashpartitioning(x, 4)",
        "   +- BroadcastExchange HashedRelationBroadcastMode",
        "      +- *(2) ShuffledHashJoin [c], [d], Inner, BuildLeft",
        "+- == Initial Plan ==",
        "   SortMergeJoin [a], [b], Inner",
        "   +- Exchange hashpartitioning(a, 4)",
    ])

    def test_final_plan_without_cached_subtree(self):
        from tracer import count_operators
        self.assertEqual(count_operators(self.PLAN),
                         {"exchanges": 2, "smj": 0, "shj": 1, "bhj": 1})


if __name__ == "__main__":
    unittest.main()
