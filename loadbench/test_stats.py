"""Tests of the benchmark's own arithmetic and of BENCHMARK.json's
agreement with the metric tables.

    python3 -m unittest discover -s loadbench -p 'test_*.py'
"""

import json
import os
import unittest

import metrics
import stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def op(t0, t1, ok=True, status=200, rows=1, cls="post"):
    return {"t0": t0, "t1": t1, "ok": ok, "status": status, "rows": rows, "cls": cls}


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([7], 99), 7)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)


class TailTest(unittest.TestCase):
    def test_needs_ten_beyond(self):
        self.assertEqual(stats.beyond(40, 75), 10)
        t = stats.tail(list(range(1, 41)), 75)
        self.assertEqual((t["pct"], t["value"], t["n"], t["beyond"]), (75, 30, 40, 10))
        self.assertIsNone(stats.tail(list(range(1, 40)), 75))

    def test_p90_of_a_hundred(self):
        t = stats.tail(list(range(100)), 90)
        self.assertEqual((t["value"], t["beyond"]), (89, 10))
        self.assertIsNone(stats.tail(list(range(99)), 90))

    def test_short_run_fails_instead_of_reporting_its_median(self):
        win = {"label": "plain", "t0": 0, "t1": 10, "jvm": {},
               "ops": [op(0, 5)] * 20, "layers": {}, "spans": []}
        rec = record([win])
        detail, result = metrics.summarize(rec)
        self.assertFalse(result["correct"])
        self.assertTrue(any("fewer than 10" in p for p in detail["problems"]))
        self.assertNotIn("op_tail_ms", result["metrics"])


class FailureTest(unittest.TestCase):
    def test_counts_non_2xx_and_bad_bodies(self):
        ops = [op(0, 1), op(0, 1, status=503), op(0, 1, ok=False), op(0, 1, status=204)]
        self.assertEqual(stats.failures(ops), (4, 2))

    def test_failed_ops_make_the_run_incorrect(self):
        rec = record([window(50)], failed=1)
        _, result = metrics.summarize(rec)
        self.assertFalse(result["correct"])
        self.assertEqual(result["failed"], 1)


class SpanTest(unittest.TestCase):
    def test_union_clips_and_merges(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 12)], 1, 10), 7)
        self.assertEqual(stats.union_length([], 0, 10), 0)
        self.assertEqual(stats.union_length([(20, 30)], 0, 10), 0)

    def test_self_time_subtracts_covered_part(self):
        parent = {"t0": 0, "t1": 100}
        kids = [{"t0": 10, "t1": 40}, {"t0": 30, "t1": 60}, {"t0": 90, "t1": 150},
                {"t0": 0, "t1": 500, "direct": True}]
        # covered: [10, 60) and [90, 100) = 60; direct spans do not count
        self.assertEqual(stats.self_time(parent, kids), 40)

    def test_coverage_adds_direct_durations(self):
        parent = {"t0": 0, "t1": 100}
        kids = [{"t0": 0, "t1": 50}, {"t0": 0, "t1": 30, "direct": True}]
        self.assertAlmostEqual(stats.coverage(parent, kids), 0.8)
        kids.append({"t0": 0, "t1": 90, "direct": True})
        self.assertEqual(stats.coverage(parent, kids), 1.0)


class SummaryTest(unittest.TestCase):
    def test_contract_line(self):
        _, result = metrics.summarize(record([window(60)]))
        self.assertTrue(result["correct"])
        self.assertEqual(set(result["metrics"]), {n for n, _ in metrics.END_TO_END})
        self.assertAlmostEqual(result["metrics"]["op_p50_ms"]["value"], 30.5e-6)

    def test_traced_line_has_every_layer_metric(self):
        traced = window(60, label="traced")
        traced["spans"] = [{"id": 1, "parent": 0, "name": "op.post", "t0": 0, "t1": 100,
                            "direct": False},
                           {"id": 2, "parent": 1, "name": "spark.job", "t0": 0, "t1": 95,
                            "direct": False}]
        _, result = metrics.summarize(record([window(60), traced], trace=True))
        self.assertEqual(set(result["metrics"]), {n for n, _, _ in metrics.PER_LAYER})
        self.assertEqual(result["metrics"]["trace.ops_covered_90"]["value"], 1.0)
        self.assertAlmostEqual(result["metrics"]["server.self_ms"]["value"], 5e-6)

    def test_split_untraced_halves_are_taken_together(self):
        # 30 ops per half: neither half alone has ten samples beyond p75
        first, second = window(30), window(30, label="plain.2")
        traced = window(60, label="traced")
        detail, result = metrics.summarize(record([first, traced, second], trace=True))
        self.assertTrue(result["correct"], detail["problems"])
        self.assertEqual(detail["tail_n"], 60)
        # each half's span ends at its last op (t1 = 59 ns)
        self.assertAlmostEqual(detail["ingest_post_p50_ms"], 15.5e-6)
        plain_ops_per_s = 60 / (2 * 59e-9)
        traced_ops_per_s = 60 / 119e-9
        self.assertAlmostEqual(result["metrics"]["trace.overhead_ops_per_s"]["value"] / plain_ops_per_s,
                               (plain_ops_per_s - traced_ops_per_s) / plain_ops_per_s)
        self.assertAlmostEqual(result["metrics"]["trace.overhead_p50_ms"]["value"], 30.5e-6 - 15.5e-6)

    def test_read_probe_layers_reach_the_traced_line(self):
        read = window(6, label="read")
        read["layers"] = {"logql.parse_ms": 0.25, "server.days_scanned": 2.0}
        detail, result = metrics.summarize(
            record([window(60), window(60, label="traced"), read], trace=True))
        self.assertEqual(result["metrics"]["logql.parse_ms"]["value"], 0.25)
        self.assertEqual(result["metrics"]["server.days_scanned"]["value"], 2.0)
        self.assertEqual(detail["read_probe"]["n"], 6)


class BenchmarkFileTest(unittest.TestCase):
    def test_names_match_the_metric_tables(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([m["name"] for m in b["end_to_end"]], [n for n, _ in metrics.END_TO_END])
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.PER_LAYER)
        for w in b["workloads"]:
            self.assertIn(w["name"], metrics.TAIL_PCT)


def window(n, label="plain"):
    # op i runs from i to i + i + 1 (ns): durations 1..n ns
    return {"label": label, "t0": 0, "t1": 10 ** 9, "jvm": {"gc_ms": 1, "gc_count": 1, "jit_ms": 1},
            "ops": [op(i, 2 * i + 1) for i in range(n)], "layers": {}, "spans": []}


def record(windows, failed=0, trace=False):
    n = sum(len(w["ops"]) for w in windows)
    return {"workload": "ingest", "seed": 1, "trace": trace, "setup_s": [3.0, 1.0, 2.0],
            "heap_live_mb": 100.0, "attempted": n, "failed": failed, "run_s": 1.0,
            "calib": {}, "stamp": {}, "checks": [{"name": "c", "ok": True, "detail": ""}],
            "values": {"store_bytes_per_input_byte": 0.2}, "windows": windows}


if __name__ == "__main__":
    unittest.main()
