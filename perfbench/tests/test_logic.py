"""Tests of the benchmark's pure logic.

Run from the root of the checkout:  python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond(self):
        ok = stats.percentile(range(100), 0.9)
        self.assertEqual((ok["value"], ok["n"], ok["tail"], ok["ok"]), (89, 100, 10, True))
        short = stats.percentile(range(99), 0.9)
        self.assertEqual((short["n"], short["tail"], short["ok"]), (99, 9, False))

    def test_p50_needs_twenty_samples(self):
        self.assertTrue(stats.percentile(range(20), 0.5)["ok"])
        self.assertFalse(stats.percentile(range(19), 0.5)["ok"])

    def test_nearest_rank_and_order_independence(self):
        self.assertEqual(stats.percentile([5, 1, 3, 2, 4], 0.5)["value"], 3)
        self.assertEqual(stats.percentile([7], 0.9)["value"], 7)
        self.assertIsNone(stats.percentile([], 0.5)["value"])


class LiveValidity(unittest.TestCase):
    def check(self, n_samples, lag=6, late=15.0):
        import run
        e2e = run.latency_metrics(list(range(n_samples)))
        runs = [{"index": 0, "lag_segments_max": lag, "late_ms": [1.0, late]}]
        run.check_live_valid(runs, e2e)

    def test_valid_run(self):
        self.check(100)

    def test_too_few_samples_beyond_p90(self):
        import run
        with self.assertRaises(run.BenchError):
            self.check(99)

    def test_lag_and_lateness_bounded(self):
        import run
        with self.assertRaises(run.BenchError):
            self.check(100, lag=run.LAG_BOUND_SEGMENTS + 1)
        with self.assertRaises(run.BenchError):
            self.check(100, late=run.LATE_BOUND_MS + 1)


class SelfTime(unittest.TestCase):
    def span(self, i, parent, start, end, layer="L"):
        return {"id": i, "parent": parent, "start_ms": start, "end_ms": end, "layer": layer}

    def test_children_subtract_once_when_overlapping(self):
        spans = [self.span(1, 0, 0, 100), self.span(2, 1, 10, 40), self.span(3, 1, 30, 60),
                 self.span(4, 1, 90, 120)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 100 - 50 - 10)  # [10,60] and the clipped [90,100]
        self.assertEqual(st[2], 30)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [self.span(1, 0, 0, 100, "run"), self.span(2, 1, 0, 80, "key"),
                 self.span(3, 2, 0, 50, "exec")]
        self.assertEqual(stats.layer_self_seconds(spans),
                         {"run": 0.02, "key": 0.03, "exec": 0.05})


class ErrorAccounting(unittest.TestCase):
    def test_rate(self):
        t = stats.Tally()
        for ok in (True, True, False, True):
            t.record(ok, "x")
        self.assertEqual((t.attempted, t.failed, t.error_rate), (4, 1, 0.25))
        t.fail_extra("query failed")
        self.assertEqual((t.attempted, t.failed), (5, 2))
        self.assertEqual(stats.Tally().error_rate, 1.0)

    def test_segments_exactly_once(self):
        owner = [[1, 2], [3], [4, 5]]
        self.assertEqual(stats.segment_failures(owner, {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}), ([], []))
        bad, unknown = stats.segment_failures(owner, {1: 1, 2: 2, 3: 1, 4: 1, 9: 1})
        self.assertEqual(bad, [0, 2])  # 2 duplicated, 5 missing
        self.assertEqual(unknown, [9])

    def test_spread(self):
        med, q1, q3, sp = stats.spread([10, 10, 10, 10, 10])
        self.assertEqual((med, sp), (10, 0))
        self.assertGreater(stats.spread([8, 9, 10, 11, 12])[3], 0)


class Generators(unittest.TestCase):
    def test_events_deterministic(self):
        a = gen.events(3, "s", 12, 50)
        self.assertEqual(a, gen.events(3, "s", 12, 50))
        self.assertNotEqual(a, gen.events(4, "s", 12, 50))
        self.assertNotEqual(a, gen.events(3, "t", 12, 50))

    def test_events_shape(self):
        span, jitter, back = gen.SPAN_S, gen.JITTER_S, gen.REDELIVER_SEGMENTS
        segs, owner = gen.events(5, "s", 40, 100)
        first_seg = {}
        for i, ids in enumerate(owner):
            for e in ids:
                self.assertNotIn(e, first_seg)
                first_seg[e] = i
        for i, rows in enumerate(segs):
            self.assertEqual(len(rows), 100)
            for eid, ts, *_ in rows:
                j = first_seg[eid]
                self.assertTrue(i - back <= j <= i)
                lo = gen.BASE_TS_US + (j * span - jitter) * 1_000_000
                hi = gen.BASE_TS_US + ((j + 1) * span + jitter) * 1_000_000
                self.assertTrue(lo <= ts <= hi)
        self.assertEqual(len(first_seg), 40 * round(100 * (1 - gen.DUP_SHARE)))

    def test_documents_deterministic_and_in_range(self):
        a = gen.documents(11)
        self.assertEqual(a, gen.documents(11))
        self.assertNotEqual(a, gen.documents(12))
        self.assertEqual([r[0] for r in a], list(range(len(a))))
        self.assertLess(len(a), 100000)
        for _, text, _, _, n_chars in a:
            self.assertTrue(10 <= len(text.split(" ")) <= 100)
            self.assertEqual(n_chars, len(text))
        vocab = {t for r in a for t in r[1].split(" ")}
        self.assertGreater(len(vocab), 1000)

    def test_documents_plant_near_dups_both_sides_of_tau(self):
        docs = [(r[0], frozenset(r[1].split(" "))) for r in gen.documents(11)]
        js = [j for _, _, j in check._pairs(docs, docs, 0.7, True) if j >= 0.7]
        self.assertGreater(sum(0.7 <= j < 0.9 for j in js), 50)
        self.assertGreater(sum(0.9 <= j < 1.0 for j in js), 50)
        self.assertGreater(sum(j == 1.0 for j in js), 50)


class Oracle(unittest.TestCase):
    def test_duck_round_ties_away_from_zero(self):
        self.assertEqual(check.duck_round(0.5, 0), 1.0)
        self.assertEqual(check.duck_round(2.5, 0), 3.0)
        self.assertEqual(check.duck_round(2 / 3), 0.666667)

    def test_transcript_on_a_tiny_corpus(self):
        docs = [(0, "a b c d e f g h i j"), (1, "a b c d e f g h i j"),
                (2, "a b c d e f g h i j"), (3, "a b c d e f g h i k"),
                (4, "x y z")]
        e = check.neardup_expected(docs)
        self.assertEqual([p[:2] for p in e["q_neardup_lsh"]], [(0, 1), (0, 2), (1, 2)])
        self.assertEqual(e["q_neardup_components"], [(0, 0), (1, 0), (2, 0)])
        self.assertEqual(e["q_graph_triangles"], [(0, 1), (1, 1), (2, 1)])
        self.assertEqual([p[:2] for p in e["q_neardup_delta"]],
                         [(100000, 0), (100000, 1), (100000, 2)])


class BenchmarkFile(unittest.TestCase):
    def test_matches_the_metrics_the_runner_prints(self):
        path = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("no BENCHMARK.json next to perfbench/")
        import run
        b = json.load(open(path))
        self.assertEqual(tuple(w["name"] for w in b["workloads"]), run.BENCHMARKED)
        self.assertLessEqual(set(run.BENCHMARKED), set(run.WORKLOADS))
        self.assertEqual({m["name"]: (m["unit"], m["better"], m["bound"]) for m in b["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
