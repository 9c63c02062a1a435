"""Tests of the benchmark's helpers: python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402
import stats  # noqa: E402


class PercentileRule(unittest.TestCase):

    def test_interpolates_like_statistics_quantiles(self):
        import statistics
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertEqual(stats.quartiles(xs), [q1, q2, q3])

    def test_tail_is_p90_from_a_hundred_samples(self):
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 90)

    def test_tail_keeps_ten_samples_beyond_it(self):
        for n in range(20, 150):
            p = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            # and it is the highest such whole percentile (capped at 90)
            if p < 90:
                beyond_next = sum(1 for x in xs if x > stats.percentile(xs, p + 1))
                self.assertLess(beyond_next, 10, n)

    def test_no_tail_from_fewer_than_twenty_samples(self):
        for n in (0, 1, 11, 19):
            self.assertIsNone(stats.tail_percentile(n))
            self.assertIsNone(stats.tail(list(range(n))))
        self.assertEqual(stats.tail_percentile(20), 52)
        self.assertEqual(stats.tail(list(range(30)))[0], 68)


def span(i, name, parent, start, end):
    return {"id": i, "name": name, "parent": parent,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9)}


class SelfTime(unittest.TestCase):

    def test_nested_layers_subtract_from_their_parent(self):
        spans = [
            span(0, "step:etl", -1, 0, 10),
            span(1, "core", 0, 0, 2),
            span(2, "etl", 0, 2, 9),
            span(3, "core", 2, 3, 4),
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 2 - 7)
        self.assertAlmostEqual(st[1], 2)
        self.assertAlmostEqual(st[2], 7 - 1)
        self.assertAlmostEqual(st[3], 1)

    def test_phases_are_looked_through(self):
        # a layer nested in a build phase still counts against the layer
        # that holds the phase; the phase itself takes nothing away
        spans = [
            span(0, "seq", -1, 0, 10),
            span(1, "build", 0, 0, 4),
            span(2, "operators", 1, 1, 3),
            span(3, "exec", 0, 4, 10),
        ]
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[0], 10 - 2)
        self.assertAlmostEqual(st[2], 2)

    def test_self_times_add_up_to_the_root(self):
        spans = [
            span(0, "step:a", -1, 0, 20),
            span(1, "core", 0, 1, 3),
            span(2, "etl", 0, 3, 11),
            span(3, "exec", 2, 4, 11),
            span(4, "seq", 0, 12, 19),
            span(5, "post", 4, 13, 14),
        ]
        st = stats.self_times(spans)
        layers = [s["id"] for s in spans if s["name"] not in stats.PHASES]
        self.assertAlmostEqual(sum(st[i] for i in layers), 20)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(stats.union_length([]), 0)


class Generator(unittest.TestCase):

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as tmp:
            a, b, c = (os.path.join(tmp, x) for x in "abc")
            rows = gen.generate(a, 7, 2)
            self.assertEqual(rows, gen.generate(b, 7, 2))
            gen.generate(c, 8, 2)
            self.assertEqual(gen.digest(a), gen.digest(b))
            self.assertNotEqual(gen.digest(a), gen.digest(c))

    def test_schema_kept_and_keys_consistent(self):
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            rows = gen.generate(tmp, 3, 2)
            for t in gen.TABLES:
                base = pq.read_table(os.path.join(gen.BASE, f"{t}.parquet"))
                out = pq.read_table(os.path.join(tmp, f"{t}.parquet"))
                self.assertEqual(base.schema, out.schema, t)
                k = 2 if t in gen.SCALED else 1
                self.assertEqual(rows[t], k * base.num_rows, t)
            li = pq.read_table(os.path.join(tmp, "lineitem.parquet")).to_pandas()
            part = pq.read_table(os.path.join(tmp, "part.parquet")).to_pandas()
            orders = pq.read_table(os.path.join(tmp, "orders.parquet")).to_pandas()
            self.assertTrue(set(li.l_partkey) <= set(part.p_partkey))
            self.assertTrue(set(li.l_orderkey) <= set(orders.o_orderkey))
            self.assertEqual(part.p_partkey.nunique(), len(part))
            # the resample permutes measures inside a series: the multiset
            # of quantities per copy is the base one
            base_li = pq.read_table(os.path.join(gen.BASE, "lineitem.parquet")).to_pandas()
            self.assertEqual(sorted(li.l_quantity), sorted(list(base_li.l_quantity) * 2))



class FirstRunStore(unittest.TestCase):

    def test_records_per_digest_and_compares_numbers_with_tolerance(self):
        import run
        with tempfile.TemporaryDirectory() as tmp:
            path = os.path.join(tmp, "hashes.json")
            a = run.HashStore(path, "build-a")
            self.assertTrue(a.same("w|1|csv", "h1"))
            self.assertFalse(a.same("w|1|csv", "h2"))
            self.assertTrue(a.close("w|1|wmape", [0.5, 0.25]))
            self.assertTrue(a.close("w|1|wmape", [0.5 * (1 + 1e-12), 0.25]))
            self.assertFalse(a.close("w|1|wmape", [0.5001, 0.25]))
            a.save()
            # another build or input keeps its own first-run records
            b = run.HashStore(path, "build-b")
            self.assertTrue(b.same("w|1|csv", "h2"))
            self.assertFalse(run.HashStore(path, "build-a").same("w|1|csv", "h2"))


if __name__ == "__main__":
    unittest.main()
