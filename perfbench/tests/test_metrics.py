"""Tests for the benchmark's metric maths. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests
"""
import math
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailTest(unittest.TestCase):
    def test_ten_samples_lie_beyond_the_reported_percentile(self):
        for n in (21, 25, 40, 100, 101, 1000):
            xs = [float(i) for i in range(1, n + 1)]
            value, pct, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
            # one percentile higher would leave fewer than ten beyond
            rank = -(-(pct + 1) * n // 100)
            self.assertLess(n - rank, 10, n)

    def test_known_values(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.tail(xs), (90, 90, 100))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (990, 99, 1000))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 4.0] * 10
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs)))

    def test_small_samples_report_the_median_as_p50(self):
        for n in (1, 2, 9, 10, 11, 20):
            xs = [float(i) for i in range(n)]
            value, pct, count = metrics.tail(xs)
            self.assertEqual((pct, count), (50, n))
            self.assertEqual(value, metrics.median(xs))


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(metrics.geomean([1.0, 4.0]), 2.0)
        self.assertAlmostEqual(metrics.geomean([0.1, 10.0, 1.0]), 1.0)
        self.assertAlmostEqual(metrics.geomean([3.0]), 3.0)

    def test_a_short_row_weighs_as_much_as_a_long_one(self):
        base = metrics.geomean([0.2, 10.0])
        self.assertAlmostEqual(metrics.geomean([0.4, 10.0]) / base, math.sqrt(2))
        self.assertAlmostEqual(metrics.geomean([0.2, 20.0]) / base, math.sqrt(2))


class FailedShareTest(unittest.TestCase):
    def test_share(self):
        self.assertEqual(metrics.failed_share(0, 12), 0.0)
        self.assertEqual(metrics.failed_share(3, 12), 0.25)

    def test_attempts_count_each_search_and_each_row_execution(self):
        searches = [
            {"ok": True, "solve_s": 1.0, "seed": 1, "evals": 10},
            {"ok": False, "error": "throws", "seed": 2},
        ]
        self.assertEqual(metrics.attempts("search_cheap", searches), (2, 1))
        passes = [{"pass_s": 3.0, "rows": [
            {"ok": True, "row": "a", "wall_s": 1.0},
            {"ok": False, "row": "b", "error": "oracle"},
            {"ok": True, "row": "c", "wall_s": 2.0},
        ]}] * 2
        self.assertEqual(metrics.attempts("rows_heavy", passes), (6, 2))
        # a pass with a failed row is left out of the pass timings
        self.assertEqual([o[0] for o in metrics.operations("rows_heavy", passes)], [False, False])

    def test_failed_operations_are_left_out_of_the_timings(self):
        searches = [
            {"ok": True, "solve_s": 1.0, "seed": 1, "evals": 10},
            {"ok": False, "solve_s": 100.0, "seed": 2, "evals": 10},
            {"ok": True, "solve_s": 3.0, "seed": 3, "evals": 30},
        ]
        e2e, extra = metrics.end_to_end("search_cheap", searches)
        self.assertEqual(e2e["solve_s_p50"], 2.0)
        self.assertEqual(e2e["evals_per_s"], 10.0)
        self.assertEqual(extra["n"], 2)


class SelfTimeTest(unittest.TestCase):
    def test_driver_self_ms(self):
        self.assertAlmostEqual(metrics.driver_self_ms(1000.0, 30.0, 940.0), 30.0)

    def test_wave_overhead_ms(self):
        self.assertAlmostEqual(metrics.wave_overhead_ms([10.0, 20.0, 30.0], 45.0), 15.0)

    def test_per_layer_uses_both_subtractions(self):
        search = {
            "traced": True, "ok": True, "solve_s": 2.0, "evals": 100, "seed": 1,
            "minimize_ms": 1900.0, "submit_ms": 100.0, "nextbatch_ms": 1700.0,
            "blocked_ms": 1600.0, "waves": 50, "inflight_sum": 200,
            "wave_ms": [40.0] * 50, "objective_ms": 500.0, "accepts": 10,
            "contractions": 7, "stencil_steps": 120, "stencil_gen_ms": 1.5,
            "build_ms": 20.0, "plan_ms": 5.0, "exec_ms": 75.0,
            "jobs": 51, "tasks": 51, "task_run_ms": 1000, "stage_skews": [1.0],
        }
        untraced = dict(search, traced=False)
        m = metrics.per_layer("search_cheap", [untraced, search], 4, ["q_topk"])
        self.assertAlmostEqual(m["search.driver_self_ms"], 100.0)
        self.assertAlmostEqual(m["spark.wave_overhead_ms"], 1500.0)
        self.assertAlmostEqual(m["search.useful_ratio"], 0.1)
        self.assertAlmostEqual(m["search.inflight_mean"], 4.0)
        self.assertAlmostEqual(m["objective.busy_cores"], 0.25)
        self.assertAlmostEqual(m["spark.provenance_ms"], 100.0)
        self.assertAlmostEqual(m["queries.idle_core_share"], 1 - 1000 / (2000 * 4))
        self.assertEqual(m["row.q_topk.s"], 0.0)


class RowsPerLayerTest(unittest.TestCase):
    def test_rows_layers_come_from_traced_passes_only(self):
        def pass_(traced, wall):
            return {"traced": traced, "pass_s": 2 * wall, "rows": [
                {"ok": True, "row": "q_topk", "wall_s": wall, "build_ms": 10.0,
                 "jobs": 3, "tasks": 8, "task_run_ms": 100, "stream_batches": 2,
                 "stage_skews": [1.0, 3.0]},
                {"ok": True, "row": "q_argmin", "wall_s": wall, "jobs": 1}]}
        m = metrics.per_layer("rows_heavy", [pass_(False, 9.0), pass_(True, 1.0)], 4,
                              ["q_topk", "q_triangles"])
        self.assertEqual(m["row.q_topk.s"], 1.0)
        self.assertEqual(m["row.q_triangles.s"], 0.0)
        self.assertEqual(m["queries.jobs"], 4.0)
        self.assertEqual(m["queries.build_ms"], 10.0)
        self.assertEqual(m["streaming.batches"], 2.0)
        self.assertEqual(m["queries.skew"], 2.0)
        self.assertAlmostEqual(m["queries.idle_core_share"], 1 - 100 / (2000 * 4))
        self.assertEqual(m["search.evals"], 0.0)
        over = metrics.overhead("rows_heavy", [pass_(False, 2.0), pass_(True, 3.0)])
        self.assertEqual(sorted(over), ["overhead.evals_per_s", "overhead.solve_s_p50"])
        self.assertAlmostEqual(over["overhead.solve_s_p50"], 0.5)
        self.assertAlmostEqual(over["overhead.evals_per_s"], 2 / 3 - 1)


class EndToEndTest(unittest.TestCase):
    def test_rows_metrics(self):
        def pass_(t, a, b):
            return {"pass_s": t, "rows": [{"ok": True, "row": "a", "wall_s": a},
                                          {"ok": True, "row": "b", "wall_s": b}]}
        e2e, extra = metrics.end_to_end(
            "rows_heavy", [pass_(5.0, 1.0, 4.0), pass_(7.0, 1.0, 4.0)])
        self.assertEqual(sorted(e2e), ["evals_per_s", "solve_s_p50"])
        self.assertEqual(e2e["solve_s_p50"], 6.0)
        self.assertAlmostEqual(e2e["evals_per_s"], 0.5)
        self.assertEqual(extra["rows_wall_s"], 6.0)
        self.assertAlmostEqual(extra["rows_geomean_s"], 2.0)
        self.assertEqual((extra["tail_percentile"], extra["n"]), (50, 2))

    def test_search_metrics_and_the_printed_tail(self):
        searches = [{"ok": True, "solve_s": float(s), "evals": 2 * s} for s in range(1, 31)]
        e2e, extra = metrics.end_to_end("search_cheap", searches)
        self.assertEqual(sorted(e2e), ["evals_per_s", "solve_s_p50"])
        self.assertEqual(e2e["solve_s_p50"], 15.5)
        self.assertEqual(e2e["evals_per_s"], 2.0)
        self.assertEqual((extra["solve_s_tail"], extra["tail_percentile"], extra["n"]),
                         (20.0, 66, 30))
        self.assertNotIn("rows_wall_s", extra)


if __name__ == "__main__":
    unittest.main()
