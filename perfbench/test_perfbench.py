"""Tests of the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402


class GeneratorTest(unittest.TestCase):

    def _fixture(self, seed):
        d = tempfile.mkdtemp()
        gen.write_fixture(d, seed, 0.01)
        return d

    def _changelog(self, seed):
        d = tempfile.mkdtemp()
        gen.write_changelog(d, seed, keys=500, skew=1.1, batch_rows=50,
                            batches=4, mix=(0.5, 0.3, 0.2))
        return d

    def test_same_seed_same_bytes(self):
        self.assertEqual(gen.dir_digest(self._fixture(7)),
                         gen.dir_digest(self._fixture(7)))
        self.assertEqual(gen.dir_digest(self._changelog(7)),
                         gen.dir_digest(self._changelog(7)))

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(gen.dir_digest(self._fixture(7)),
                            gen.dir_digest(self._fixture(8)))
        self.assertNotEqual(gen.dir_digest(self._changelog(7)),
                            gen.dir_digest(self._changelog(8)))
        # large seeds that differ only in their last digit
        self.assertNotEqual(gen.dir_digest(self._fixture(12345678)),
                            gen.dir_digest(self._fixture(12345679)))
        self.assertNotEqual(gen.dir_digest(self._changelog(12345678)),
                            gen.dir_digest(self._changelog(12345679)))

    def test_fixture_is_a_keyed_subsample(self):
        import pyarrow.parquet as pq
        a = pq.read_table(os.path.join(self._fixture(1), "lineitem.parquet"))
        b = pq.read_table(os.path.join(self._fixture(2), "lineitem.parquet"))
        orders = pq.read_table(os.path.join(self._fixture(1), "orders.parquet"))
        # every line item belongs to a kept order
        self.assertTrue(set(a["l_orderkey"].to_pylist())
                        <= set(orders["o_orderkey"].to_pylist()))
        # a line item kept by both seeds has the same content in both
        rows_a = {tuple(r.values()) for r in a.to_pylist()}
        rows_b = {tuple(r.values()) for r in b.to_pylist()}
        keys_a = {r[0] for r in rows_a}
        both = {r for r in rows_b if r[0] in keys_a}
        self.assertTrue(both <= rows_a)

    def test_changelog_shape(self):
        cols = gen.changelog(3, keys=100, skew=1.2, batch_rows=40, batches=5,
                             mix=(0.4, 0.3, 0.3))
        rows = list(zip(*(cols[c] for c in ("batch", "seq", "order_id",
                                             "type"))))
        self.assertEqual(len(rows), 100 + 40 * 5)
        seqs = [r[1] for r in rows]
        self.assertEqual(seqs, sorted(seqs))
        self.assertEqual({r[3] for r in rows[100:]},
                         {"insert", "update", "delete"})
        live = set()
        for b, _, k, typ in rows:
            if typ == "insert":
                self.assertNotIn(k, live)
                live.add(k)
            else:
                self.assertIn(k, live)
                if typ == "delete":
                    live.remove(k)


class PercentileTest(unittest.TestCase):

    def test_tail_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        pct, v, n = metrics.tail(xs)
        self.assertEqual((pct, v, n), (90.0, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_with_fewer_samples_is_a_lower_percentile(self):
        pct, v, n = metrics.tail(list(range(1, 41)))
        self.assertEqual((pct, v, n), (75.0, 30, 40))

    def test_tail_needs_more_than_ten(self):
        self.assertIsNone(metrics.tail(list(range(10))))

    def test_nearest_rank(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(metrics.percentile(xs, 50), 3)
        self.assertEqual(metrics.percentile(xs, 90), 5)
        self.assertEqual(metrics.percentile(xs, 0), 1)


class EndToEndTest(unittest.TestCase):

    def test_traced_and_untraced_passes_are_kept_apart(self):
        # cold pass, then steady passes U T T U of two ops each
        res = {"setup_s": 3.0, "store_bytes": 2**20, "heap_live_bytes": 2**21,
               "passes": [900.0, 100.0, 130.0, 140.0, 120.0],
               "pass_traced": [True, False, True, True, False],
               "ops": [{"pass": p, "ms": ms} for p, ms in
                       [(0, 500.0), (0, 400.0), (1, 40.0), (1, 60.0),
                        (2, 60.0), (2, 70.0), (3, 65.0), (3, 75.0),
                        (4, 50.0), (4, 70.0)]]}
        self.assertEqual(metrics.steady_ids(res), [1, 4])
        self.assertEqual(metrics.steady_ids(res, traced=True), [2, 3])
        e = metrics.end_to_end(res)
        self.assertEqual(e["cold_s"], (0.9, "s", 2))
        self.assertEqual(e["pass_s"], (0.11, "s", 2))
        self.assertEqual(e["op_p50_ms"], (55.0, "ms", 4))
        self.assertEqual(e["store_mb"][0], 1.0)
        t = metrics.end_to_end(res, traced=True)
        self.assertEqual(t["pass_s"], (0.135, "s", 2))
        self.assertEqual(t["op_p50_ms"], (67.5, "ms", 4))


class SelfTimeTest(unittest.TestCase):

    def test_self_time_of_a_span_tree(self):
        # root 0..100 with children 10..30 and 20..50 (overlapping, union 40)
        # and 90..120 (clipped to 90..100); child 1 has a grandchild 12..15
        spans = [
            {"id": 0, "parent": -1, "t_ms": 0.0, "dur_ms": 100.0},
            {"id": 1, "parent": 0, "t_ms": 10.0, "dur_ms": 20.0},
            {"id": 2, "parent": 0, "t_ms": 20.0, "dur_ms": 30.0},
            {"id": 3, "parent": 0, "t_ms": 90.0, "dur_ms": 30.0},
            {"id": 4, "parent": 1, "t_ms": 12.0, "dur_ms": 3.0},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 100 - 40 - 10)
        self.assertAlmostEqual(st[1], 20 - 3)
        self.assertAlmostEqual(st[2], 30)
        self.assertAlmostEqual(st[4], 3)

    def test_driver_gap(self):
        span = {"start_ms": 1000, "end_ms": 1100, "dur_ms": 100.0,
                "jobs": [[1010, 1030], [1020, 1040], [1090, 1200]]}
        self.assertAlmostEqual(metrics.driver_gap_ms(span), 100 - 30 - 10)

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0.0)
        self.assertEqual(metrics.union_length([(0, 1), (1, 2), (5, 6)]), 3)


if __name__ == "__main__":
    unittest.main()
