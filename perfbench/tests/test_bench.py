"""Self-tests of the benchmark's own logic (no Spark needed).

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import catalog, digest, etl, layers, stats  # noqa: E402
from run import tree_fingerprint  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 90)
        self.assertEqual(stats.percentile([7], 90), 7)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.samples_beyond(100, 90), 10)
        self.assertEqual(stats.highest_percentile(100), 90.0)
        self.assertEqual(stats.highest_percentile(99), 50.0)   # p90 has 9 beyond
        self.assertEqual(stats.highest_percentile(1000), 99.0)
        self.assertEqual(stats.highest_percentile(10000), 99.9)
        self.assertIsNone(stats.highest_percentile(19))

    def test_pass_wall_takes_each_ops_median(self):
        ops = [{"name": "a", "ms": 100.0}, {"name": "a", "ms": 110.0},
               {"name": "a", "ms": 900.0}, {"name": "b", "ms": 50.0}]
        self.assertAlmostEqual(stats.pass_wall_s(ops), 0.16)
        self.assertAlmostEqual(stats.op_p50_ms(ops), 80.0)

    def test_worse_by_follows_the_better_direction(self):
        self.assertAlmostEqual(stats.worse_by(100.0, 110.0, "lower"), 0.1)
        self.assertAlmostEqual(stats.worse_by(100.0, 110.0, "higher"), -0.1)
        self.assertAlmostEqual(stats.worse_by(2.0, 1.5, "higher"), 0.25)

    def test_quartile_spread(self):
        med, q1, q3, spread = stats.quartile_spread([1.0, 2.0, 3.0, 4.0, 5.0])
        self.assertEqual(med, 3.0)
        self.assertAlmostEqual(spread, (q3 - q1) / 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlap_and_overhang(self):
        spans = [
            {"id": 1, "parent": 0, "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "start": 1.0, "end": 3.0},
            {"id": 3, "parent": 1, "start": 2.0, "end": 5.0},   # overlaps 2
            {"id": 4, "parent": 1, "start": 8.0, "end": 12.0},  # runs past parent
            {"id": 5, "parent": 3, "start": 2.5, "end": 3.5},
        ]
        self_ms = stats.self_times(spans)
        self.assertAlmostEqual(self_ms[1], 10.0 - 4.0 - 2.0)
        self.assertAlmostEqual(self_ms[3], 3.0 - 1.0)
        self.assertAlmostEqual(self_ms[5], 1.0)

    def test_job_spans_parent_to_innermost_holder(self):
        result = {"spans": [
            {"id": 1, "parent": 0, "name": "op", "op": "p0.0", "start": 0.0, "end": 10.0},
            {"id": 2, "parent": 1, "name": "action", "op": "p0.0", "start": 4.0, "end": 10.0}],
            "jobs": [{"op": "p0.0", "start": 5.0, "end": 6.0, "stages": []},
                     {"op": "p0.0", "start": 1.0, "end": 2.0, "stages": []},
                     {"op": "", "start": 1.0, "end": 2.0, "stages": []}]}
        js = layers.job_spans(result, 100)
        self.assertEqual([j["parent"] for j in js], [2, 1])


class FailedFracTest(unittest.TestCase):
    def test_accounting(self):
        self.assertEqual(stats.failed_frac(200, 0), 0.0)
        self.assertEqual(stats.failed_frac(200, 3), 0.015)
        with self.assertRaises(ValueError):
            stats.failed_frac(0, 0)

    def test_wrong_output_counts_as_failed(self):
        ops = [{"id": "p0.0", "ok": True, "digest": "1:5"},
               {"id": "p0.1", "ok": True, "digest": "1:6"},      # wrong output
               {"id": "p0.2", "ok": False, "digest": "1:5"},     # threw
               {"id": "w0", "ok": False}]                          # warm-up
        attempted, failed, warm_failed = stats.account(ops, lambda o: o["ok"] and
                                                       o.get("digest") == "1:5")
        self.assertEqual((attempted, failed, warm_failed), (3, 2, 1))


class DigestTest(unittest.TestCase):
    def test_multiset(self):
        rows = [{"a": 1, "b": "x"}, {"a": 2, "b": None}]
        d = digest.digest(rows, ["b", "a"])
        self.assertEqual(d, digest.digest(list(reversed(rows)), ["a", "b"]))
        n, s = digest.parse(d)
        self.assertEqual(digest.combine(d, d), "%d:%d" % (2 * n, 2 * s))
        self.assertNotEqual(d, digest.digest([{"a": 1, "b": "x"}, {"a": 2, "b": ""}], ["a", "b"]))

    def test_spark_string_forms(self):
        import datetime
        self.assertEqual(digest.spark_str(datetime.datetime(2025, 6, 1, 1, 2, 3, 120000)),
                         "2025-06-01 01:02:03.12")
        self.assertEqual(digest.spark_str(datetime.datetime(1900, 1, 1)), "1900-01-01 00:00:00")
        self.assertEqual(digest.spark_str(None), "\\N")


class SeedTest(unittest.TestCase):
    def _gen(self, seed):
        with tempfile.TemporaryDirectory() as d:
            fields, expected = etl.build(seed, d)
            return (tree_fingerprint(os.path.join(d, "gen")),
                    [expected(p["spec"]["id"], 3) for p in fields["pipelines"]])

    def test_generator_is_byte_deterministic(self):
        a, b, c = self._gen(7), self._gen(7), self._gen(8)
        self.assertEqual(a, b)
        self.assertNotEqual(a[0], c[0])

    def test_schedules_follow_the_seed(self):
        rows = ["q_a", "q_b", "q_c", "q_d", "q_e", "q_f"]
        self.assertEqual(catalog.schedule(3, rows, 2, 4), catalog.schedule(3, rows, 2, 4))
        self.assertNotEqual(catalog.schedule(3, rows, 2, 4)[1],
                            catalog.schedule(4, rows, 2, 4)[1])
        warmup, passes = catalog.schedule(3, rows, 2, 4)
        self.assertEqual((len(warmup), len(passes)), (2 * len(rows), 4))
        self.assertEqual(warmup[:len(rows)], sorted(rows))
        ids = ["a", "b", "c"]
        self.assertEqual(etl.schedule(3, ids, 1, 2), etl.schedule(3, ids, 1, 2))
        self.assertEqual(sorted(etl.schedule(3, ids, 1, 1)[1][0]), ids)


class FamilyTest(unittest.TestCase):
    def test_families(self):
        self.assertEqual(catalog.family("q3_shipping"), "join")
        self.assertEqual(catalog.family("q_text_bm25"), "text")
        self.assertEqual(catalog.family("q_scalar_math"), "misc")
        self.assertEqual(catalog.family("q_project"), "misc")


if __name__ == "__main__":
    unittest.main()
