"""Unit tests for the benchmark's own arithmetic (pipebench/metrics.py).

Run from the root of a checkout: python3 -m unittest discover -s pipebench/tests
"""
import json
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import metrics  # noqa: E402


class Stats(unittest.TestCase):
    def test_median_matches_statistics(self):
        for xs in ([3.0], [5.0, 1.0], [1.0, 9.0, 2.0], [4.0, 1.0, 3.0, 2.0, 10.0, 7.0]):
            self.assertAlmostEqual(metrics.median(xs), statistics.median(xs))

    def test_percentile_interpolates(self):
        xs = list(range(1, 11))  # 1..10
        self.assertEqual(metrics.percentile(xs, 0), 1)
        self.assertEqual(metrics.percentile(xs, 100), 10)
        self.assertAlmostEqual(metrics.percentile(xs, 90), 9.1)
        self.assertAlmostEqual(metrics.percentile([2.0, 4.0], 25), 2.5)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)

    def test_percentile_of_nothing_fails(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]), 4)
        self.assertEqual(metrics.union_length([]), 0)

    def test_self_time_subtracts_covered_part_only(self):
        # jobs (1,3) and (2,5) overlap; (8,12) sticks out of the span
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)
        self.assertEqual(metrics.self_time((0, 10), []), 10)
        self.assertEqual(metrics.self_time((0, 10), [(11, 12), (-3, -1)]), 10)
        self.assertEqual(metrics.self_time((0, 10), [(-1, 11)]), 0)


class OpenLoop(unittest.TestCase):
    def test_latency_counts_from_due_time(self):
        # a push due at 100 but sent late at 180 and committed at 350
        self.assertEqual(metrics.open_loop_latency(100, 350), 250)

    def test_lateness(self):
        self.assertEqual(metrics.lateness(100, 130), 30)
        self.assertEqual(metrics.lateness(100, 99), 0)

    def test_tick_latency_waits_for_both_queries(self):
        with tempfile.TemporaryDirectory() as d:
            for q, batches in (("props", {"a.json": 0, "b.json": 1}), ("sink", {"a.json": 0, "b.json": 0})):
                os.makedirs(os.path.join(d, q, "sources", "0"))
                with open(os.path.join(d, q, "sources", "0", "0"), "w") as f:
                    f.write("v1\n" + "\n".join(json.dumps({"path": f"file:///in/{k}", "batchId": v})
                                               for k, v in batches.items()) + "\n")
            recs = [
                {"type": "push", "file": "a.json", "due": 1000, "done": 1001, "phase": "rate"},
                {"type": "push", "file": "b.json", "due": 1100, "done": 1150, "phase": "rate"},
                {"type": "push", "file": "c.json", "due": 1200, "done": 1201, "phase": "rate"},
                {"type": "progress", "query": "props_run", "batch": 0, "start": 1000,
                 "dur": {"triggerExecution": 300}},
                {"type": "progress", "query": "props_run", "batch": 1, "start": 1300,
                 "dur": {"triggerExecution": 500}},
                {"type": "progress", "query": "sink_run", "batch": 0, "start": 1160,
                 "dur": {"triggerExecution": 100}},
            ]
            got = [x for _, x in metrics.tick_latencies(recs, os.path.join(d, "props"),
                                                        os.path.join(d, "sink"))]
        # a: max(1300, 1260) - 1000; b: max(1800, 1260) - 1100; c: never committed
        self.assertEqual(got, [300, 700, None])


class Recall(unittest.TestCase):
    def test_recall_at_k(self):
        exact = [(1, 10), (1, 11), (2, 20), (2, 21)]
        ann = [(1, 10), (1, 99), (2, 20), (2, 21), (3, 30)]
        self.assertAlmostEqual(metrics.recall_at_k(ann, exact), 0.75)
        self.assertEqual(metrics.recall_at_k(exact, exact), 1.0)
        self.assertEqual(metrics.recall_at_k([], exact), 0.0)


def op(pass_, name, t0, tb, t1, traced=False, ok=True, rows=5, id_=None):
    return {"type": "span", "kind": "op", "id": id_ or f"op-{pass_}-{name}-{t0}",
            "name": name, "layer": name.split(".")[0], "pass": pass_, "traced": traced,
            "t0": t0, "tb": tb, "t1": t1, "ok": ok, "rows": rows if ok else None}


class Workloads(unittest.TestCase):
    base = [{"type": "setup", "s": 30.0}, {"type": "rss", "peak_mb": 1000.0}]

    def test_ticks_end_to_end(self):
        with tempfile.TemporaryDirectory() as d:
            for q in ("props", "sink"):
                os.makedirs(os.path.join(d, q, "sources", "0"))
                with open(os.path.join(d, q, "sources", "0", "0"), "w") as f:
                    f.write("v1\n" + "\n".join(json.dumps({"path": f"file:///in/p{i}", "batchId": 0})
                                               for i in range(3)) + "\n")
            recs = self.base + [
                {"type": "stream_run", "props_ckpt": os.path.join(d, "props"),
                 "sink_ckpt": os.path.join(d, "sink")},
                # the warm-up's pushes reuse file names in another directory
                {"type": "push", "file": "p0", "due": -900, "done": -899, "phase": "warm"},
                {"type": "push", "file": "p0", "due": 0, "done": 1, "phase": "rate"},
                {"type": "push", "file": "p1", "due": 100, "done": 101, "phase": "rate"},
                {"type": "push", "file": "p2", "due": 200, "done": 201, "phase": "drain"},
                {"type": "progress", "query": "props_run", "batch": 0, "start": 0,
                 "dur": {"triggerExecution": 500}},
                {"type": "progress", "query": "sink_run", "batch": 0, "start": 0,
                 "dur": {"triggerExecution": 700}},
                op(0, "bars.ohlcv", 0, 0, 5000),  # warm-up, not timed
                op(1, "bars.ohlcv", 0, 0, 100), op(1, "indicators.sma", 100, 100, 400),
                {"type": "span", "kind": "pass", "pass": 0, "traced": False, "t0": 0, "t1": 5000},
                {"type": "span", "kind": "pass", "pass": 1, "traced": False, "t0": 0, "t1": 1400}]
            m = metrics.end_to_end("ticks", recs)
            attempted, failed, _ = metrics.accounting(recs, {})
        self.assertEqual(m["pass_s"], 1.4)
        # only the fixed-rate pushes: 700 - 0 and 700 - 100
        self.assertEqual(m["latency_ms_p50"], 650)
        self.assertAlmostEqual(m["latency_ms_p90"], 690)
        self.assertEqual((attempted, failed), (6, 0))

    def test_curation_splits_pass_from_searches(self):
        recs = self.base + [
            op(1, "dedup.exactDocs", 0, 0, 500), op(1, "training.exportPlan", 500, 2500, 4500),
            op(1, "similarity.semDedup", 4500, 4500, 5000),
            op(1, "similarity.annIvfPqFor", 5000, 5100, 6000),
            op(1, "similarity.annIvfPqFor", 6000, 6100, 8000)]
        m = metrics.end_to_end("curation", recs)
        self.assertEqual(m["pass_s"], 5.0)
        self.assertEqual(m["latency_ms_p50"], 1500)

    def test_per_layer_attributes_jobs_by_group(self):
        recs = [
            op(1, "ema.macd", 0, 0, 1000, id_="op-1"),
            op(2, "ema.macd", 0, 200, 1000, traced=True, id_="op-2"),
            {"type": "job", "group": "op-2", "t0": 300, "t1": 500, "ok": True},
            {"type": "job", "group": "op-2", "t0": 400, "t1": 700, "ok": True},
            {"type": "stage", "group": "op-2", "tasks": 4, "cpu_ns": 2e9, "gc_ms": 100,
             "shuffle_write": 10, "spill": 0, "input": 7},
            {"type": "job", "group": "op-1", "t0": 0, "t1": 1000, "ok": True},
            {"type": "storage", "pass": 2, "blocks": 3, "bytes": 300},
            {"type": "span", "kind": "pass", "pass": 1, "traced": False, "t0": 0, "t1": 1000},
            {"type": "span", "kind": "pass", "pass": 2, "traced": True, "t0": 0, "t1": 1100}]
        m = metrics.per_layer("dashboard", recs, "/nonexistent", None)
        self.assertEqual(m["ema.jobs"], 2)
        self.assertEqual(m["ema.stages"], 1)
        self.assertEqual(m["ema.tasks"], 4)
        self.assertEqual(m["ema.build_s"], 0.2)
        self.assertAlmostEqual(m["ema.driver_s"], 0.6)  # 1000 ms minus jobs covering 300..700
        self.assertEqual(m["ema.task_cpu_s"], 2.0)
        self.assertEqual(m["ema.gc_s"], 0.1)
        self.assertEqual(m["bars.wall_s"], 0.0)
        self.assertEqual(m["checkpoints.blocks"], 3)
        self.assertAlmostEqual(m["trace.overhead_frac"], 0.1)

    def test_accounting_counts_failures_and_wrong_row_counts(self):
        recs = [op(1, "indicators.sma", 0, 0, 1, rows=9), op(1, "indicators.rsi", 1, 1, 2, ok=False),
                op(1, "ema.macd", 2, 2, 3, rows=5)]
        attempted, failed, problems = metrics.accounting(
            recs, {"counts": {"q_sma": 10, "q_macd": 5}})
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(len(problems), 1)
        self.assertIn("indicators.sma", problems[0])


if __name__ == "__main__":
    unittest.main()
