"""Self-test of the benchmark's percentile, metric and output-parsing code.

Run: python3 perfbench/run.py --selftest   (or python3 -m unittest in perfbench/)
"""
import json
import random
import statistics
import unittest

import metrics


def op(kind, start, end, due=0, ok=True, **attrs):
    return {"kind": kind, "name": kind, "due_ns": int(due * 1e9), "start_ns": int(start * 1e9),
            "end_ns": int(end * 1e9), "ok": ok, "attrs": attrs}


class PercentileTest(unittest.TestCase):
    def test_matches_statistics_inclusive(self):
        rnd = random.Random(7)
        for n in (2, 3, 10, 11, 57, 200):
            xs = [rnd.uniform(0, 5) for _ in range(n)]
            q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
            self.assertAlmostEqual(metrics.percentile(xs, 25), q1)
            self.assertAlmostEqual(metrics.percentile(xs, 50), q2)
            self.assertAlmostEqual(metrics.percentile(xs, 75), q3)
            self.assertAlmostEqual(metrics.median(xs), statistics.median(xs))

    def test_p90_of_one_to_hundred_keeps_ten_beyond(self):
        xs = list(range(1, 101))
        p90 = metrics.percentile(xs, 90)
        self.assertAlmostEqual(p90, 90.1)
        self.assertEqual(sum(1 for x in xs if x > p90), 10)
        self.assertEqual(metrics.beyond(100, 90), 10)
        self.assertEqual(metrics.beyond(99, 90), 9)

    def test_order_and_edges(self):
        self.assertEqual(metrics.percentile([3, 1, 2], 0), 1)
        self.assertEqual(metrics.percentile([3, 1, 2], 100), 3)
        self.assertEqual(metrics.percentile([4.2], 90), 4.2)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class MetricsTest(unittest.TestCase):
    def record(self, workload, ops, checks_ok=True):
        return {"workload": workload, "cores": 4, "session_s": 1.0, "setup_s": [3.0, 2.0, 9.0],
                "peak_rss_mb": 900.0, "window_start_ns": int(10e9), "window_end_ns": int(20e9),
                "window_start_ms": 10000, "window_end_ms": 20000, "extra": {},
                "checks": [{"name": "c", "ok": checks_ok, "detail": ""}], "ops": ops}

    def test_open_loop_latency_runs_from_due_time(self):
        rec = self.record("cdc_lambda", [
            op("read", start=11.5, end=12.0, due=11.0),
            op("read", start=12.0, end=12.5, due=12.0),
            op("cycle", start=10, end=15, changes=1000),
            op("cycle", start=15, end=20, changes=1000)])
        e2e = metrics.end_to_end(rec)
        self.assertAlmostEqual(e2e["latency_p50_s"], 0.75)
        self.assertAlmostEqual(e2e["throughput_per_s"], 200.0)
        self.assertAlmostEqual(e2e["setup_s"], 1.0 + 3.0)  # session + median set-up

    def test_batch_latency_takes_one_median_per_query(self):
        a1, a2, b = op("query", 10, 11), op("query", 12, 15), op("query", 11, 12)
        a1["name"] = a2["name"] = "a"
        b["name"] = "b"
        rec = self.record("batch_hot", [a1, b, a2])
        self.assertEqual(sorted(metrics.primary_latencies(rec)), [1.0, 2.0])
        self.assertAlmostEqual(metrics.end_to_end(rec)["throughput_per_s"], 3 / 10.0)

    def test_failed_ops_and_checks_count(self):
        rec = self.record("batch_hot", [op("query", 10, 11), op("query", 11, 13, ok=False)],
                          checks_ok=False)
        self.assertEqual(metrics.counts_summary(rec), (False, 3, 2))
        rec = self.record("batch_hot", [op("query", 10, 11)])
        self.assertEqual(metrics.counts_summary(rec), (True, 2, 0))

    def test_stream_throughput_spans_first_due_to_last_visible(self):
        rec = self.record("speed_stream", [
            op("file", start=10.0, end=13.0, due=10.0, valid_events=400),
            op("file", start=10.1, end=14.0, due=10.1, valid_events=600)])
        e2e = metrics.end_to_end(rec)
        self.assertAlmostEqual(e2e["throughput_per_s"], 1000 / 4.0)
        self.assertAlmostEqual(e2e["latency_p50_s"], 3.45)

    @staticmethod
    def query_span(id, query, module, start, end, task_s=2.0):
        return {"id": id, "parent": 0, "name": "query", "start_ns": int(start * 1e9),
                "end_ns": int(end * 1e9), "start_ms": 0, "gc_s": 0.1,
                "attrs": {"query": query, "module": module, "pass": 0},
                "counts": {"jobs": 2, "tasks": 8, "task_s": task_s, "shuffle_mb": 1.5,
                           "spill_mb": 0.0, "rows_read": 0, "bytes_read": 0,
                           "rows_written": 0, "bytes_written": 0, "first_task_ms": 0}}

    def test_per_layer_fills_every_name(self):
        rec = self.record("batch_hot", [op("query", 10, 11)])
        names = ["batch.analytics.s", "batch.cores_busy", "q.j1.s", "lambda.merge_s",
                 "error_rate", "trace.spans"]
        got = metrics.per_layer(rec, [self.query_span(1, "j1", "analytics", 10, 11)], [], names)
        self.assertEqual(list(got), names)
        self.assertAlmostEqual(got["batch.analytics.s"], 1.0)
        self.assertAlmostEqual(got["batch.cores_busy"], 2.0 / (10 * 4))
        self.assertAlmostEqual(got["q.j1.s"], 1.0)
        self.assertEqual(got["lambda.merge_s"], 0.0)
        self.assertEqual(got["trace.spans"], 1)

    def test_pass_figures_sum_one_median_per_query(self):
        # "a" ran twice (1 s, 3 s), "b" once (1 s), "c" once (4 s): one
        # pass is 2 + 1 + 4, whichever queries a partial last pass held.
        spans = [self.query_span(1, "a", "analytics", 10, 11),
                 self.query_span(2, "b", "text", 11, 12),
                 self.query_span(3, "c", "dedup", 12, 16),
                 self.query_span(4, "a", "analytics", 16, 19),
                 {"id": 5, "parent": 4, "name": "build", "start_ns": int(16e9),
                  "end_ns": int(16.5e9), "start_ms": 0, "gc_s": 0.0, "attrs": {},
                  "counts": {}}]
        names = ["batch.analytics.s", "batch_total_s", "bi_query_s", "curation_query_s",
                 "batch.jobs", "batch.build_s", "query_p50_s"]
        got = metrics.per_layer(self.record("batch_hot", []), spans, [], names)
        self.assertAlmostEqual(got["batch.analytics.s"], 2.0)
        self.assertAlmostEqual(got["batch_total_s"], 7.0)
        self.assertAlmostEqual(got["bi_query_s"], 2.0)
        self.assertAlmostEqual(got["curation_query_s"], 5.0)
        self.assertAlmostEqual(got["batch.jobs"], 6.0)
        self.assertAlmostEqual(got["batch.build_s"], 0.25)  # median of 0 and 0.5
        self.assertAlmostEqual(got["query_p50_s"], 2.0)


class OutputTest(unittest.TestCase):
    units = {"latency_p50_s": "s", "setup_s": "s"}

    def test_round_trip(self):
        line = metrics.result_line(True, 12, 0, {"latency_p50_s": 1.2034, "setup_s": 0.8127},
                                   self.units)
        obj = metrics.parse_result_line("# context {}\n" + line + "\n", self.units)
        self.assertEqual(obj["metrics"]["latency_p50_s"], {"value": 1.2034, "unit": "s"})
        self.assertEqual((obj["correct"], obj["attempted"], obj["failed"]), (True, 12, 0))

    def test_rejects_bad_lines(self):
        good = json.loads(metrics.result_line(True, 1, 0, {"latency_p50_s": 1, "setup_s": 1},
                                              self.units))
        bad = [dict(good, extra=1), dict(good, attempted=0), dict(good, failed=1.5),
               dict(good, correct="yes"), dict(good, metrics={"setup_s": good["metrics"]["setup_s"]})]
        for b in bad:
            with self.assertRaises(ValueError):
                metrics.parse_result_line(json.dumps(b), self.units)
        with self.assertRaises(ValueError):
            metrics.parse_result_line("", self.units)


if __name__ == "__main__":
    unittest.main()
