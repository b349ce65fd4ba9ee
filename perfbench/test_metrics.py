"""Unit tests for the benchmark's own arithmetic: python3 perfbench/test_metrics.py"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_rank_leaves_exactly_ten_beyond(self):
        for n in (11, 25, 100, 1000):
            k = metrics.tail_rank(n)
            self.assertEqual(n - 1 - k, 10)
        self.assertIsNone(metrics.tail_rank(10))

    def test_percentile_of_one_hundred_samples_is_p90(self):
        rule = metrics.tail_rule(100)
        self.assertEqual(rule, (90, 100))
        self.assertEqual(metrics.tail([list(range(100, 0, -1))], rule), (90, 90.0))

    def test_twenty_seven_samples_give_p63(self):
        rule = metrics.tail_rule(27)
        value, pct = metrics.tail([list(range(27))], rule)
        self.assertEqual((value, round(pct, 1)), (16, 63.0))
        self.assertEqual(sum(1 for x in range(27) if x > value), 10)
        # 21 samples: the rule's own percentile is the median
        self.assertEqual(metrics.tail([list(range(21))], metrics.tail_rule(21))[0], 10)

    def test_short_workloads_report_the_median_round_maximum(self):
        # 12 samples: p16.7 would leave ten beyond but sits below the median
        self.assertIsNone(metrics.tail_rule(12))
        self.assertIsNone(metrics.tail_rule(8))
        # one stalled round does not set it
        rounds = [[1.0, 2.0], [1.1, 9.0], [0.9, 2.2]]
        self.assertEqual(metrics.tail(rounds, None), (2.2, 100.0))

    def test_the_rule_is_fixed_by_the_workload_not_the_run(self):
        rule = metrics.tail_rule(27)
        # a run with an extra round keeps p63, with more samples beyond it
        four = [[float(10 * r + i) for i in range(9)] for r in range(4)]
        value, pct = metrics.tail(four, rule)
        xs = sorted(x for r in four for x in r)
        self.assertEqual(round(pct, 1), 63.0)
        self.assertEqual(xs.index(value), 22)
        self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
        # a run that lost executions to errors keeps it too
        two = four[:2] + [four[2][:4]]
        self.assertEqual(metrics.tail(two, rule)[1], pct)


class Rounds(unittest.TestCase):
    def test_rates_are_medians_over_rounds(self):
        def ex(q, rnd, start, end, err=None):
            return {"query": q, "round": rnd, "start_ms": start, "end_ms": end,
                    "lat_s": (end - start) / 1e3, "error": err, "build_s": 0.0}
        execs = [ex("q_score_exact", 0, 0, 1000), ex("q_b", 0, 1000, 2000),
                 ex("q_score_exact", 1, 3000, 9000), ex("q_b", 1, 9000, 10000),   # a stalled round
                 ex("q_score_exact", 2, 11000, 12000), ex("q_b", 2, 12000, 13000, err="boom")]
        rec = {"jvm_start_ms": 500,
               "timed": {"execs": execs, "wall_s": 13.0, "rounds": 3, "start_ms": 4500,
                         "heap_live_peak_mb": 1.0}}
        spec = {"queries": ["q_score_exact", "q_b"], "min_rounds": 3}
        m = metrics.end_to_end(rec, {"rows": {"q_score_exact": 10, "q_b": 5}}, spec)
        # rounds: 2 done in 2 s, 2 in 7 s, 1 (one failed) in 2 s
        self.assertAlmostEqual(m["queries_per_s"][0], 0.5)
        # scored customers per second of q_score_exact: 10/1, 10/6, 10/1
        self.assertAlmostEqual(m["rows_per_s"][0], 10.0)
        # the median over rounds of each round's slowest (6 samples)
        self.assertAlmostEqual(m["query_tail_s"][0], 1.0)
        # JVM start to the first timed query
        self.assertAlmostEqual(m["setup_s"][0], 4.0)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_children_outside_the_span_are_clipped(self):
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (15, 16), (19, 30)]), 10 - 2 - 1 - 1)

    def test_breakdown_sums_to_wall(self):
        ex = {"start_ms": 1000, "build_end_ms": 1300, "end_ms": 2000}
        parts = metrics.breakdown(ex, jobs=[(1400, 1600), (1550, 1700), (1800, 1900)],
                                  phases=[(1300, 1350), (1350, 1400)])
        self.assertAlmostEqual(parts["build_s"], 0.3)
        self.assertAlmostEqual(parts["catalyst_s"], 0.1)
        self.assertAlmostEqual(parts["job_busy_s"], 0.4)
        self.assertAlmostEqual(parts["driver_gap_s"], 0.2)
        self.assertAlmostEqual(parts["reconcile_err_s"], 0.0)
        self.assertTrue(metrics.reconciles(parts))

    def test_a_span_counted_twice_does_not_reconcile(self):
        ex = {"start_ms": 1000, "build_end_ms": 1300, "end_ms": 2000}
        # a builder job attributed to the write as well overlaps the window
        parts = metrics.breakdown(ex, jobs=[(1100, 1600)], phases=[])
        self.assertAlmostEqual(parts["reconcile_err_s"], 0.2)
        self.assertFalse(metrics.reconciles(parts))


def _rec(checks, execs, guards=(), margin=None):
    return {"checks": checks, "margin_check": margin,
            "timed": {"guards": list(guards), "execs": execs}}


def _ex(q, err=None):
    return {"query": q, "error": err, "round": 0}


class Verdict(unittest.TestCase):
    expected = {"q_a": {"rows": 3, "digest": "3:42"}, "q_b": {"rows": 5, "digest": None}}

    def test_matching_results_are_correct(self):
        rec = _rec([{"query": "q_a", "rows": 3, "digest": "3:42", "error": None},
                    {"query": "q_b", "rows": 5, "digest": "5:7", "error": None}],
                   [_ex("q_a"), _ex("q_b"), _ex("q_a")])
        v = metrics.verdict(rec, self.expected)
        self.assertEqual((v["correct"], v["attempted"], v["failed"]), (True, 3, 0))

    def test_a_wrong_digest_fails_every_execution_of_the_query(self):
        rec = _rec([{"query": "q_a", "rows": 3, "digest": "3:41", "error": None},
                    {"query": "q_b", "rows": 5, "digest": "5:0", "error": None}],
                   [_ex("q_a"), _ex("q_b"), _ex("q_a")])
        v = metrics.verdict(rec, self.expected)
        self.assertEqual((v["correct"], v["failed"]), (False, 2))

    def test_guards_and_margins_invalidate_the_run(self):
        checks = [{"query": "q_a", "rows": 3, "digest": "3:42", "error": None}]
        v = metrics.verdict(_rec(checks, [_ex("q_a")] * 4,
                                 guards=[{"kind": "stream_active", "query": "*", "detail": ""}]),
                            self.expected)
        self.assertEqual((v["correct"], v["failed"]), (False, 4))
        v = metrics.verdict(_rec(checks, [_ex("q_a")],
                                 margin={"sampled": 64, "expected": 64, "mismatches": 1}),
                            self.expected)
        self.assertFalse(v["correct"])


class Recording(unittest.TestCase):
    def test_a_digest_that_moves_is_kept_by_row_count_only(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "expected.json")
            for digest in ("3:1", "3:1", "3:2"):
                rec = _rec([{"query": "q_a", "rows": 3, "digest": digest, "error": None},
                            {"query": "q_b", "rows": 1, "digest": "1:9", "error": None}], [])
                metrics.record_expected(path, "w", rec)
            with open(path) as f:
                data = json.load(f)
            self.assertEqual(data["w"]["q_a"], {"rows": 3, "digest": None})
            self.assertEqual(data["w"]["q_b"], {"rows": 1, "digest": "1:9"})
            self.assertEqual(data["unstable"]["w"], ["q_a"])


if __name__ == "__main__":
    unittest.main()
