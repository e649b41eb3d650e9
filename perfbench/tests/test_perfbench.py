"""Tests of the benchmark's own logic: input staging and span arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import datetime as dt
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import stage  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


class StagingTest(unittest.TestCase):

    def staged(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            exp = stage.stage(d + "/in", d + "/out", workload, seed)
            exp.pop("gas_dir", None)
            return tree_digest(d), json.dumps(exp, sort_keys=True)

    def test_same_seed_same_inputs(self):
        for w in ("evm_daily_backfill", "corpus_curation"):
            self.assertEqual(self.staged(w, 7), self.staged(w, 7), w)

    def test_other_seed_other_inputs(self):
        for w in ("evm_daily_backfill", "corpus_curation"):
            a, b = self.staged(w, 7), self.staged(w, 8)
            self.assertNotEqual(a[0], b[0], w)
            self.assertNotEqual(a[1], b[1], w)

    def test_days_are_disjoint_and_cover_the_window(self):
        with tempfile.TemporaryDirectory() as d:
            exp = stage.stage(d, d + "/out", "evm_daily_backfill", 5)
            with open(os.path.join(d, "days.txt")) as f:
                days = f.read().split()
            sizes = stage.EVM_SIZES["evm_daily_backfill"]
            self.assertEqual(len(days), sizes["days"])
            self.assertEqual([e["day"] for e in exp["days"]], days)
            first = dt.date.fromisoformat(days[0])
            self.assertEqual(first, stage.window_start(5))
            seen_blocks = set()
            prev_last = None
            for i, ds in enumerate(days):
                day = dt.date.fromisoformat(ds)
                self.assertEqual(day, first + dt.timedelta(days=i))
                base = os.path.join(d, "export", "ethereum")

                def rows(res):
                    return jsonl(os.path.join(
                        base, res, "block_date=" + ds, res + ".json"))
                blocks = rows("blocks")
                numbers = {b["number"] for b in blocks}
                start = stage._epoch(day)
                # every block of the day is stamped inside the day
                self.assertTrue(all(start <= b["timestamp"] < start + 86400
                                    for b in blocks))
                # block ranges are disjoint and contiguous across days
                self.assertFalse(numbers & seen_blocks)
                if prev_last is not None:
                    self.assertEqual(min(numbers), prev_last + 1)
                self.assertEqual(max(numbers) - min(numbers) + 1, len(numbers))
                prev_last = max(numbers)
                seen_blocks |= numbers
                # every row of every resource falls in the day's blocks
                for res in ("logs", "receipts", "tokens", "traces",
                            "transactions"):
                    self.assertTrue(all(r["block_number"] in numbers
                                        for r in rows(res)), (ds, res))
                # one root trace per transaction
                txs = {t["hash"] for t in rows("transactions")}
                roots = [t["transaction_hash"] for t in rows("traces")
                         if t["trace_address"] == "[]"
                         and t["transaction_hash"] is not None]
                self.assertEqual(sorted(roots), sorted(txs))

    def test_expected_counts_match_the_files(self):
        with tempfile.TemporaryDirectory() as d:
            exp = stage.stage(d, d + "/out", "evm_daily_backfill", 3)
            for e in exp["days"]:
                for res, n in e["counts"].items():
                    p = os.path.join(d, "export", "ethereum", res,
                                     "block_date=" + e["day"], res + ".json")
                    with open(p) as f:
                        lines = [x for x in f if x.strip()]
                    self.assertEqual(len(lines), n, res)


class SpanArithmeticTest(unittest.TestCase):

    def test_interval_helpers(self):
        self.assertEqual(layers.union([(5, 7), (0, 2), (1, 3), (7, 8)]),
                         [(0, 3), (5, 8)])
        self.assertEqual(layers.length([(0, 10), (5, 15), (20, 21)]), 16)
        self.assertEqual(layers.subtract((0, 100), [(20, 50), (40, 60)]),
                         [(0, 20), (60, 100)])
        self.assertEqual(layers.subtract((10, 20), [(0, 30)]), [])
        self.assertEqual(layers.intersect([(0, 10), (20, 30)], [(5, 25)]),
                         [(5, 10), (20, 25)])

    def test_self_time_and_gap(self):
        # unit 1 [0, 200] holds write 2 [0, 100], which holds
        # sources 3 [10, 30] and enrich 4 [30, 40]; verify 5 [100, 180]
        spans = [
            {"id": 1, "parent": 0, "layer": "unit", "start_ms": 0,
             "end_ms": 200},
            {"id": 2, "parent": 1, "layer": "write", "start_ms": 0,
             "end_ms": 100},
            {"id": 3, "parent": 2, "layer": "sources", "start_ms": 10,
             "end_ms": 30},
            {"id": 4, "parent": 2, "layer": "enrich", "start_ms": 30,
             "end_ms": 40},
            {"id": 5, "parent": 1, "layer": "verify", "start_ms": 100,
             "end_ms": 180},
        ]
        jobs = [
            # write: two overlapping jobs in its own time, one that
            # straddles a child span (only its own-time part covers)
            {"span": 2, "start_ms": 50, "end_ms": 70},
            {"span": 2, "start_ms": 60, "end_ms": 80},
            {"span": 2, "start_ms": 0, "end_ms": 20},
            {"span": 3, "start_ms": 15, "end_ms": 25},
            {"span": 5, "start_ms": 100, "end_ms": 120},
            {"span": 5, "start_ms": 150, "end_ms": 160},
        ]
        tasks = {"2": {"tasks": 6, "run_ms": 3000, "gc_ms": 500,
                       "shuffle_write_bytes": 2_000_000}}
        c = layers.layer_counters(spans, jobs, tasks,
                                  layers.descendants(spans, [1]))
        # write owns [0, 10] and [40, 100]: 70 ms, jobs cover 10 + 30
        self.assertAlmostEqual(c["write"]["wall_s"], 0.070)
        self.assertAlmostEqual(c["write"]["gap_s"], 0.030)
        self.assertEqual(c["write"]["jobs"], 3)
        self.assertEqual(c["write"]["tasks"], 6)
        self.assertAlmostEqual(c["write"]["task_s"], 3.0)
        self.assertAlmostEqual(c["write"]["gc_s"], 0.5)
        self.assertAlmostEqual(c["write"]["shuffle_mb"], 2.0)
        self.assertAlmostEqual(c["sources"]["wall_s"], 0.020)
        self.assertAlmostEqual(c["sources"]["gap_s"], 0.010)
        self.assertAlmostEqual(c["enrich"]["wall_s"], 0.010)
        self.assertAlmostEqual(c["enrich"]["gap_s"], 0.010)
        self.assertAlmostEqual(c["verify"]["wall_s"], 0.080)
        self.assertAlmostEqual(c["verify"]["gap_s"], 0.050)
        # spans outside the included set are not counted
        c = layers.layer_counters(spans, jobs, tasks, {5})
        self.assertEqual(c["write"]["jobs"], 0)
        self.assertEqual(c["verify"]["jobs"], 2)


if __name__ == "__main__":
    unittest.main()
