"""Tests of the benchmark's statistics and record handling.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import compare
import stats


class MedianSpreadTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_spread_matches_quartiles_over_median(self):
        xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
        # statistics.quantiles(n=4), exclusive method: q1 = 11.75, q3 = 17.25
        self.assertAlmostEqual(stats.spread(xs), (17.25 - 11.75) / 14.5)

    def test_spread_of_one_sample_is_zero(self):
        self.assertEqual(stats.spread([5.0]), 0.0)
        self.assertEqual(stats.spread([2.0, 2.0, 2.0]), 0.0)


class TailTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        p, v, n = stats.tail(xs)
        # p90 by nearest rank is the 90th value; exactly ten lie above it
        self.assertEqual((p, v, n), (90, 90, 100))

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(list(range(15))))

    def test_smallest_sample_with_a_tail(self):
        p, v, n = stats.tail(list(range(20)))
        self.assertEqual((p, v, n), (50, 9, 20))
        self.assertEqual(sum(1 for x in range(20) if x > v), 10)


class RecordTest(unittest.TestCase):
    def test_parse_result_takes_the_last_result_line(self):
        out = "noise\nPERFBENCH_RESULT {\"a\": 1}\nmore\nPERFBENCH_RESULT {\"a\": 2}\n"
        self.assertEqual(stats.parse_result(out), {"a": 2})
        with self.assertRaises(ValueError):
            stats.parse_result("no result here")

    def test_final_line_round_trip(self):
        line = stats.final_line(True, 12, 0, {"round_s": (1.25, "s")})
        obj = stats.parse_final_line(line)
        self.assertEqual(obj["metrics"]["round_s"], {"value": 1.25, "unit": "s"})
        self.assertEqual((obj["attempted"], obj["failed"]), (12, 0))

    def test_final_line_rejects_bad_shapes(self):
        with self.assertRaises(ValueError):
            stats.final_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            stats.parse_final_line('{"correct": true, "attempted": 1, "failed": 0}')
        with self.assertRaises(ValueError):
            stats.parse_final_line('{"correct": 1, "attempted": 1, "failed": 0, "metrics": {}}')
        with self.assertRaises(ValueError):
            stats.parse_final_line(
                '{"correct": true, "attempted": 1.5, "failed": 0, "metrics": {}}')

    def test_digests_match_within_float_tolerance(self):
        a = {"1h-state": {"rows": 10, "hash": "42", "sums": {"sum_v": 1234.5678901234}}}
        ulp = {"1h-state": {"rows": 10, "hash": "42", "sums": {"sum_v": 1234.5678901234 * (1 + 1e-15)}}}
        off = {"1h-state": {"rows": 10, "hash": "42", "sums": {"sum_v": 1234.6}}}
        other_rows = {"1h-state": {"rows": 11, "hash": "42", "sums": {"sum_v": 1234.5678901234}}}
        self.assertTrue(stats.digests_match(a, ulp))
        self.assertFalse(stats.digests_match(a, off))
        self.assertFalse(stats.digests_match(a, other_rows))
        self.assertFalse(stats.digests_match(a, {}))
        self.assertFalse(stats.digests_match(a, None))

    def test_counters_and_timings_are_told_apart(self):
        for name in ("spark.tasks", "spark.shuffle_bytes", "gorillacodec.lp_bytes_per_pt",
                     "tierpipeline.manifest_lines", "regularize.rows_out"):
            self.assertTrue(stats.is_count(name), name)
        for name in ("round_s", "serve_range_ms", "gorillacodec.lp_encode_ns_per_pt",
                     "trace.overhead_ratio"):
            self.assertFalse(stats.is_count(name), name)


def record(round_s, tasks, trace=1):
    return {"workload": "build", "seed": 1, "trace": trace,
            "metrics": {"round_s": round_s, "spark.tasks": tasks},
            "named": {}, "layers": {},
            "legs": {"4": {"samples": {"round_s": [round_s * 0.9, round_s, round_s * 1.1]},
                           "values": {}}}}


class CompareTest(unittest.TestCase):
    def write(self, d, name, rec):
        path = os.path.join(d, name)
        with open(path, "w") as fh:
            json.dump(rec, fh)
        return path

    def test_load_record_rejects_other_json(self):
        with tempfile.TemporaryDirectory() as d:
            path = self.write(d, "x.json", {"correct": True})
            with self.assertRaises(ValueError):
                stats.load_record(path)

    def test_counters_apart_from_timings(self):
        a = compare.side([record(2.0, 69), record(2.2, 69)])[1]
        b = compare.side([record(1.0, 69), record(1.1, 70)])[1]
        text = compare.report(a, b)
        counters, timings = text.split("timings:")
        self.assertIn("spark.tasks: 69 -> 69.5", counters)
        self.assertIn("not deterministic", counters)
        self.assertIn("round_s: 2.1 (spread", timings)
        self.assertNotIn("spark.tasks", timings)

    def test_sides_must_match(self):
        with tempfile.TemporaryDirectory() as d:
            a = self.write(d, "a.json", record(2.0, 69, trace=0))
            b = self.write(d, "b.json", record(2.0, 69, trace=1))
            self.assertEqual(compare.main(["--a", a, "--b", b]), 2)
            self.assertEqual(compare.main(["--a", a, "--b", a]), 0)


if __name__ == "__main__":
    unittest.main()
