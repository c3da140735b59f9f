"""Tests of the benchmark's own helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import json
import os
import tempfile
import unittest

import pandas as pd

import check
import inputs
import stats


def digest_dir(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


SMALL = dict(symbols=30, history=12, tail=5, triggers=25, late_share=0.2)


class InputsTest(unittest.TestCase):
    def stream_bytes(self, seed):
        with tempfile.TemporaryDirectory() as d:
            inputs.write_stream(d, inputs.stream_schedule(seed, **SMALL))
            return digest_dir(d)

    def test_one_seed_reproduces_byte_identical_stream(self):
        self.assertEqual(self.stream_bytes(7), self.stream_bytes(7))

    def test_two_seeds_give_different_streams(self):
        self.assertNotEqual(self.stream_bytes(7), self.stream_bytes(8))

    def test_query_order_follows_the_seed(self):
        qs = [f"q{i}" for i in range(14)]
        self.assertEqual(inputs.query_order(qs, 3), inputs.query_order(qs, 3))
        self.assertNotEqual(inputs.query_order(qs, 3), inputs.query_order(qs, 4))
        self.assertEqual(sorted(inputs.query_order(qs, 3)), sorted(qs))

    def test_tables_are_byte_identical_across_runs(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            inputs.write_tables(a, 0.001)
            inputs.write_tables(b, 0.001)
            self.assertEqual(digest_dir(a), digest_dir(b))
            self.assertEqual(sorted(os.listdir(a)), sorted(f"{t}.parquet" for t in inputs.TABLES))

    def test_survivors_are_exactly_the_first_sent_bars(self):
        sched = inputs.stream_schedule(11, **SMALL)
        seen = set()
        late = 0
        for trig in sched:
            docs = [json.loads(d) for d in trig["docs"]]
            sent = {(d["symbol"], b["time"]) for d in docs for b in d["historical_data"]}
            new = sent - seen
            kept = {(d["symbol"], b["time"]) for s in trig["survivors"]
                    for d in [json.loads(s)] for b in d["historical_data"]}
            self.assertEqual(kept, new)
            self.assertEqual(trig["kept"], len(new))
            self.assertEqual(trig["bars"], sum(len(d["historical_data"]) for d in docs))
            late += SMALL["symbols"] - len(docs)
            seen |= sent
        self.assertGreater(late, 0)
        # every day of every symbol is sent exactly once as a new bar
        days = SMALL["history"] + SMALL["triggers"] - 1
        self.assertEqual(sum(t["kept"] for t in sched), SMALL["symbols"] * days)

    def test_first_sent_bars_are_never_behind_the_watermark(self):
        """With a 24-hour watermark a bar survives only if its day is at
        least the latest day sent before its trigger."""
        sched = inputs.stream_schedule(5, **SMALL)
        latest = None
        for trig in sched:
            for s in trig["survivors"]:
                for b in json.loads(s)["historical_data"]:
                    if latest is not None:
                        self.assertGreaterEqual(b["time"], latest)
            days = [b["time"] for d in trig["docs"] for b in json.loads(d)["historical_data"]]
            latest = max(days + ([latest] if latest else []))


class CheckTest(unittest.TestCase):
    def test_equal_results_pass_with_columns_in_any_order(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, float("nan")]})
        self.assertIsNone(check._same(a, a[["v", "k"]]))

    def test_a_differing_value_or_row_count_fails(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertIn("column v", check._same(a, a.assign(v=[0.5, 1.25])))
        self.assertIn("rows", check._same(a, a.head(1)))


class StatsTest(unittest.TestCase):
    def test_median_and_quartiles(self):
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(stats.median(xs), 3)
        self.assertEqual(stats.quartiles(xs), (1.5, 3.0, 4.5))

    def test_tail_has_ten_samples_beyond_it(self):
        xs = list(range(1, 101))                 # 1 .. 100
        pct, value, beyond = stats.tail(xs)
        self.assertEqual((pct, value, beyond), (90.0, 90, 10))
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_tail_of_eleven_samples_is_the_smallest(self):
        self.assertEqual(stats.tail(list(range(11, 0, -1))), (100 / 11, 1, 10))

    def test_tail_needs_more_than_ten_samples(self):
        with self.assertRaises(ValueError):
            stats.tail(list(range(10)))


if __name__ == "__main__":
    unittest.main()
