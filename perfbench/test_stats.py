"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import unittest

import stats


def span(id_, parent, name, start, end, run="r"):
    return {"id": id_, "parent": parent, "name": name, "run": run, "start_ns": start, "end_ns": end}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_count(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(stats.percentile(xs, 50), (50, 100))
        self.assertEqual(stats.percentile(xs, 99), (99, 100))
        self.assertEqual(stats.percentile(xs, 100), (100, 100))
        self.assertEqual(stats.percentile(reversed(xs), 1), (1, 100))

    def test_small_sample_takes_the_max_for_high_percentiles(self):
        # with fewer than 100 samples p99 is the largest one
        self.assertEqual(stats.percentile([5, 1, 3], 99), (5, 3))
        self.assertEqual(stats.percentile([5, 1, 3], 50), (3, 3))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_weighted_counts_each_row(self):
        # a batch of 90 rows at 10 ms and one of 10 rows at 100 ms
        pairs = [(100.0, 10), (10.0, 90)]
        self.assertEqual(stats.weighted_percentile(pairs, 50), (10.0, 100))
        self.assertEqual(stats.weighted_percentile(pairs, 90), (10.0, 100))
        self.assertEqual(stats.weighted_percentile(pairs, 91), (100.0, 100))
        self.assertEqual(stats.weighted_percentile(pairs, 99), (100.0, 100))

    def test_weighted_matches_expanded(self):
        pairs = [(3.0, 2), (1.0, 5), (2.0, 3)]
        expanded = [v for v, w in pairs for _ in range(w)]
        for q in (1, 25, 50, 75, 90, 99, 100):
            self.assertEqual(stats.weighted_percentile(pairs, q), stats.percentile(expanded, q))


class SelfTimeTest(unittest.TestCase):
    def test_child_time_is_subtracted(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "encode", 10, 40), span(3, 1, "write", 50, 90)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 30, 2: 30, 3: 40})

    def test_overlapping_children_count_once(self):
        # children on two threads overlap in [20, 30)
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "a", 10, 30), span(3, 1, "b", 20, 50)]
        self.assertEqual(stats.self_times(spans)[1], 60)

    def test_child_outside_parent_is_clipped(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "late", 90, 150)]
        self.assertEqual(stats.self_times(spans)[1], 90)

    def test_grandchildren_only_reduce_their_parent(self):
        spans = [span(1, 0, "pass", 0, 100), span(2, 1, "drain", 0, 80), span(3, 2, "encode", 10, 30)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 20, 2: 60, 3: 20})

    def test_by_run_sums_names_in_seconds(self):
        spans = [span(1, 0, "pass", 0, 4 * 10**9, run="a"), span(2, 1, "w", 0, 10**9, run="a"),
                 span(3, 1, "w", 2 * 10**9, 3 * 10**9, run="a"), span(4, 0, "pass", 0, 10**9, run="b")]
        by = stats.self_time_by_run(spans)
        self.assertEqual(by["a"], {"pass": 2.0, "w": 2.0})
        self.assertEqual(by["b"], {"pass": 1.0})


class RatioTest(unittest.TestCase):
    def test_ratio_keeps_its_base(self):
        self.assertEqual(stats.ratio(3, 4), {"value": 0.75, "num": 3, "den": 4})
        self.assertEqual(stats.ratio(5, 0), {"value": 0.0, "num": 5, "den": 0})

    def test_layer_ratios_pool_over_passes(self):
        # read amplification: decoded / emitted rows; yield: verified / candidate pairs
        traced = [
            {"run": "r1", "rows": 100, "timed_s": 1.0, "samples": {},
             "counters": {"sources.binlog.decoded_rows": 300.0, "sources.binlog.emitted_rows": 100.0,
                          "analytics.verified_pairs": 9.0, "analytics.candidate_pairs": 10.0}},
            {"run": "r2", "rows": 100, "timed_s": 2.0, "samples": {},
             "counters": {"sources.binlog.decoded_rows": 100.0, "sources.binlog.emitted_rows": 100.0,
                          "analytics.verified_pairs": 1.0, "analytics.candidate_pairs": 30.0}},
        ]
        untraced = [{"rows": 100, "timed_s": 0.5}]
        out, bases = stats.per_layer(traced, untraced, [])
        self.assertEqual(out["sources.binlog.read_amplification"][0], 2.0)
        self.assertEqual(bases["sources.binlog.read_amplification"], {"value": 2.0, "num": 400.0, "den": 200.0})
        self.assertEqual(out["analytics.verify_yield"][0], 0.25)
        self.assertEqual(bases["analytics.verify_yield"]["den"], 40.0)
        # a workload without the layer reads 0, with base 0/0
        self.assertEqual(out["changelog.expand_ratio"][0], 0.0)
        # tracing overhead compares median rows/s of the two kinds of pass
        self.assertEqual(out["trace.untraced_rows_per_s"][0], 200.0)
        self.assertEqual(out["trace.traced_rows_per_s"][0], 75.0)
        self.assertAlmostEqual(out["trace.overhead_pct"][0], 62.5)


class EndToEndTest(unittest.TestCase):
    def test_medians_over_passes_and_heap_peak(self):
        passes = [
            {"setup_s": 1.0, "rows": 1000, "timed_s": 2.0, "cpu_s": 1.0, "heap_mb": 80.0,
             "latencies": [(500.0, 600), (1500.0, 400)]},
            {"setup_s": 3.0, "rows": 1000, "timed_s": 1.0, "cpu_s": 2.0, "heap_mb": 90.0,
             "latencies": [(400.0, 1000)]},
            {"setup_s": 2.0, "rows": 1000, "timed_s": 4.0, "cpu_s": 3.0, "heap_mb": 85.0,
             "latencies": [(900.0, 1000)]},
        ]
        m = stats.end_to_end(passes)
        self.assertEqual(m["setup_s"], (2.0, 3))
        self.assertEqual(m["rows_per_s"], (500.0, 3))
        self.assertEqual(m["cpu_ms_per_krow"], (2000.0, 3))
        self.assertEqual(m["live_heap_peak_mb"], (90.0, 3))
        # per-pass p50 = 500, 400, 900 -> 500; p99 = 1500, 400, 900 -> 900; 3000 rows
        self.assertEqual(m["fresh_p50_ms"], (500.0, 3000))
        self.assertEqual(m["fresh_p99_ms"], (900.0, 3000))


if __name__ == "__main__":
    unittest.main()
