"""Tests of the benchmark's metric math.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_median_of_any_sample(self):
        self.assertEqual(metrics.percentile([7.0], 0.5), 7.0)
        self.assertEqual(metrics.percentile([3, 1, 2], 0.5), 2)
        self.assertEqual(metrics.percentile([4, 1, 3, 2], 0.5), 2)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(metrics.percentile(list(range(1, 101)), 0.9), 90)
        self.assertEqual(metrics.samples_beyond(100, 0.9), 10)
        with self.assertRaises(ValueError):
            metrics.percentile(list(range(1, 100)), 0.9)
        self.assertTrue(metrics.supported(1000, 0.99))
        self.assertFalse(metrics.supported(999, 0.99))
        self.assertFalse(metrics.supported(0, 0.5))

    def test_weights_count_as_samples(self):
        # 95 samples of 10 ms and 15 of 50 ms: 110 samples, p90 rank 99
        self.assertEqual(metrics.percentile([(10, 95), (50, 15)], 0.9), 50)
        self.assertEqual(metrics.percentile([(10, 95), (50, 15)], 0.5), 10)
        with self.assertRaises(ValueError):
            metrics.percentile([(10, 50), (50, 9)], 0.9)

    def test_spread(self):
        self.assertAlmostEqual(metrics.spread([10, 10, 10, 10]), 0.0)
        self.assertGreater(metrics.spread([8, 10, 12, 14]), 0.2)


class DueJoin(unittest.TestCase):
    TPS = ["a:0", "a:1"]

    def test_each_record_takes_its_committing_batch(self):
        ticks = [{"due": 1000, "starts": [0, 0], "ends": [4, 2]}]
        batches = [(1500, {"a:0": 4, "a:1": 2})]
        samples, missing, last = metrics.due_join(ticks, batches, self.TPS)
        self.assertEqual(samples, [(500, 6)])
        self.assertEqual(missing, 0)
        self.assertEqual(last, 1500)

    def test_batch_commits_part_of_a_tick(self):
        # the first batch's end offset cut through the tick: 3 of a:0's 5
        # records commit at 1400, the other 2 with the next batch
        ticks = [{"due": 1000, "starts": [10, 0], "ends": [15, 1]},
                 {"due": 1200, "starts": [15, 1], "ends": [17, 2]}]
        batches = [(900, {"a:0": 10}),
                   (1400, {"a:0": 13, "a:1": 1}),
                   (2000, {"a:0": 17, "a:1": 2})]
        samples, missing, last = metrics.due_join(ticks, batches, self.TPS)
        self.assertEqual(dict(samples), {400: 4, 1000: 2, 800: 3})
        self.assertEqual(missing, 0)
        self.assertEqual(last, 2000)

    def test_uncommitted_records_are_missing(self):
        ticks = [{"due": 0, "starts": [0, 0], "ends": [3, 3]}]
        batches = [(100, {"a:0": 3, "a:1": 1})]
        samples, missing, _ = metrics.due_join(ticks, batches, self.TPS)
        self.assertEqual(dict(samples), {100: 4})
        self.assertEqual(missing, 2)

    def test_offsets_json(self):
        self.assertEqual(metrics.parse_offsets('{"t":{"0":5,"12":7}}'),
                         {"t:0": 5, "t:12": 7})


def span(i, parent, start, end, layer="x"):
    return {"id": i, "parent": parent, "start": start, "end": end, "layer": layer}


class SelfTime(unittest.TestCase):
    def test_nested(self):
        spans = [span(1, 0, 0, 100, "streaming"), span(2, 1, 10, 40, "spark"),
                 span(3, 2, 20, 30, "spark")]
        st = metrics.self_times(spans)
        self.assertEqual(st, {1: 70, 2: 20, 3: 10})
        self.assertEqual(metrics.layer_self_ms(spans), {"streaming": 70, "spark": 30})

    def test_overlapping_children_count_once(self):
        # two parallel jobs cover [10, 50] together
        spans = [span(1, 0, 0, 100), span(2, 1, 10, 40), span(3, 1, 30, 50)]
        self.assertEqual(metrics.self_times(spans)[1], 60)

    def test_children_clipped_to_parent(self):
        spans = [span(1, 0, 0, 100), span(2, 1, 90, 130), span(3, 1, -20, 5)]
        self.assertEqual(metrics.self_times(spans)[1], 85)


if __name__ == "__main__":
    unittest.main()
