"""Benchmark-local tests: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class StreamTest(unittest.TestCase):
    def test_same_seed_same_stream(self):
        for w in gen.WORKLOADS:
            self.assertEqual(gen.stream(w, 7, 3), gen.stream(w, 7, 3), w)
        self.assertEqual(gen.batches(7, 3), gen.batches(7, 3))

    def test_other_seed_other_stream(self):
        for w in ("explore", "analyze"):
            self.assertNotEqual(gen.stream(w, 7), gen.stream(w, 8), w)
        self.assertNotEqual(gen.batches(7, 3), gen.batches(8, 3))

    def test_warmup_does_not_depend_on_seed(self):
        for w in gen.WORKLOADS:
            warm = [r for r in gen.stream(w, 7, 3) if r[0] < 0]
            self.assertTrue(warm, w)
            self.assertEqual(warm, [r for r in gen.stream(w, 8, 3) if r[0] < 0], w)
        self.assertEqual(gen.batches(7, 1)["warm.csv"], gen.batches(8, 1)["warm.csv"])

    def test_explore_mix_and_zipf_head(self):
        reqs = [r for r in gen.explore(3) if r[0] == 0]
        block = reqs[:len(gen.EXPLORE_BLOCK)]
        self.assertEqual(sum(r[2] in gen.DOWNLOADS for r in block), 1)
        self.assertEqual(sum(r[2] == "filter" for r in block), 2)
        filt = [r[4] for r in reqs if r[2] == "filter"]
        head = sum(p in gen.HEADS["filter"] for p in filt)
        self.assertGreater(head, len(filt) / 3)  # the head repeats
        tail = [p for p in filt if p not in gen.HEADS["filter"]]
        self.assertGreater(len(set(tail)), 0.9 * len(tail))  # the tail does not

    def test_explore_seed_draws_parameters_not_kinds(self):
        a, b = gen.explore(3), gen.explore(4)
        self.assertEqual([r[:3] for r in a], [r[:3] for r in b])
        self.assertNotEqual([r[4] for r in a], [r[4] for r in b])
        self.assertEqual(set(gen.EXPLORE_KINDS), {r[2] for r in a})

    def test_lines_round_trip(self):
        for r in gen.explore(1)[:50]:
            f = gen.to_line(r).split("\t")
            self.assertEqual((int(f[0]), int(f[1]), f[2], f[3] == "1", tuple(f[4:])), r)

    def test_batches_plant_duplicates(self):
        rows = gen.batch(5, 0, gen.CURATE_DOCS)
        self.assertEqual(len(rows), gen.CURATE_DOCS)
        self.assertEqual(len({r[0] for r in rows}), len(rows))
        self.assertLess(len({r[1] for r in rows}), len(rows))


class PercentileTest(unittest.TestCase):
    def test_reported_only_with_ten_beyond(self):
        self.assertIsNone(stats.percentile(range(19), 0.5))
        self.assertEqual(stats.percentile(range(20), 0.5), 9)
        self.assertIsNone(stats.percentile(range(199), 0.95))
        self.assertEqual(stats.percentile(range(200), 0.95), 189)
        self.assertIsNone(stats.percentile([], 0.5))

    def test_latency_report_omits_unsupported(self):
        ops = [{"t0": 0, "t1": i * 1_000_000, "ok": True} for i in range(1, 31)]
        self.assertEqual(stats.latency_report(ops), {"p50_ms": 15.0})


class OverheadTest(unittest.TestCase):
    def test_compares_kind_by_kind(self):
        def op(kind, ms):
            return {"kind": kind, "t0": 0, "t1": ms * 1_000_000, "ok": True}
        base = [op("a", 100), op("b", 1000)]
        # a mix heavier in b is not overhead; 10% slower per kind is
        self.assertAlmostEqual(stats.trace_overhead([op("b", 1000)] * 3, base), 0.0)
        self.assertAlmostEqual(
            stats.trace_overhead([op("a", 110), op("b", 1100)], base), 0.1)
        self.assertEqual(stats.trace_overhead([op("c", 5)], base), 0.0)


class FailFracTest(unittest.TestCase):
    def test_thrown_and_failed_checks_both_count(self):
        self.assertEqual(stats.fail_frac(10, ["a"], []), 0.1)
        self.assertEqual(stats.fail_frac(10, [], ["b"]), 0.1)
        self.assertEqual(stats.fail_frac(10, ["a"], ["b"]), 0.2)
        self.assertEqual(stats.fail_frac(10, ["a"], ["a"]), 0.1)
        self.assertEqual(stats.fail_frac(10, [], []), 0.0)

    def test_row_compare_is_bitwise(self):
        self.assertEqual(checks.same_rows([[1, 0.5, "x"]], [(1, 0.5, "x")]), [])
        self.assertTrue(checks.same_rows([[-0.0]], [(0.0,)]))
        self.assertTrue(checks.same_rows([[1]], [(1,), (2,)]))

    def test_curate_check_catches_a_missing_landed_row(self):
        batch = [(1, "a b", "en", "batch", 3), (2, "a b", "en", "batch", 3),
                 (3, "c d", "en", "batch", 3)]
        best = {"cols": ["doc_id", "cluster_id", "keep_best"],
                "rows": [[1, 1, True], [2, 1, False], [3, 3, True]]}
        ok = {"frames": {"keep_best": best, "landed": {"rows": [[1], [3]]}}}
        self.assertEqual(checks.check_curate(ok, batch), [])
        lost = {"frames": {"keep_best": best, "landed": {"rows": [[1]]}}}
        self.assertTrue(checks.check_curate(lost, batch))


if __name__ == "__main__":
    unittest.main()
