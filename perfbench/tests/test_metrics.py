"""Span arithmetic and the failure rule of the metric summary."""
import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import metrics  # noqa: E402


def span(i, parent, name, start_s, end_s, op=0, rows=0):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_us": int(start_s * 1e6), "end_us": int(end_s * 1e6), "rows": rows}


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(metrics.union([(3, 5), (1, 2), (4, 7), (2, 2.5)]),
                         [(1, 2.5), (3, 7)])

    def test_subtract(self):
        self.assertEqual(metrics.subtract([(0, 10)], [(1, 3), (2, 5), (8, 12)]),
                         [(0, 1), (5, 8)])


class SelfTimeTest(unittest.TestCase):
    def test_self_is_parent_minus_covered_children(self):
        spans = [span(0, -1, "op", 0, 10),
                 span(1, 0, "tables", 1, 3),
                 span(2, 0, "sentiment", 2, 5),   # overlaps its sibling
                 span(3, 2, "analytics", 4, 5),   # grandchild: not the op's child
                 span(4, 0, "risk", 8, 10)]
        selfs = metrics.span_self(spans)
        self.assertAlmostEqual(metrics.length(selfs[0]), 10 - 4 - 2)
        self.assertAlmostEqual(metrics.length(selfs[2]), 3 - 1)
        self.assertAlmostEqual(metrics.length(selfs[3]), 1)
        self.assertAlmostEqual(metrics.length(selfs[4]), 2)

    def test_jobs_follow_group_then_time(self):
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "tables", 1, 3),
                 span(2, 0, "risk", 4, 6)]
        jobs = [{"job": 0, "t_ms": 2000, "group": "span-1"},
                {"job": 1, "t_ms": 5000, "group": "span-1"},  # stale group
                {"job": 2, "t_ms": 7000, "group": None},
                {"job": 3, "t_ms": 20000, "group": None}]
        self.assertEqual(metrics.attribute_jobs(spans, jobs), {0: 1, 1: 2, 2: 0})


class SummaryTest(unittest.TestCase):
    def run_record(self):
        def op(i, secs, error=None):
            return {"id": i, "kind": "job", "primary": True, "traced": False,
                    "seconds": secs, "error": error, "docs": 10, "input_bytes": 100,
                    "stored_bytes": 0, "conf_changed": [],
                    "parts": {"ingest_write": 0.1, "leftover_rdds": 0}}
        return {"ops": [op(0, 1.0), op(1, None, "java.lang.RuntimeException: x"),
                        op(2, 3.0), op(3, 100.0)],
                "setup": {"session_s": 1, "workload_s": 0, "warmup_s": 2},
                "output_bytes": 50, "stored_bytes": 80, "total_input_bytes": 400,
                "peak_rss_mb": 900.0, "checks": []}

    def test_failed_and_mismatched_ops_get_no_time(self):
        verdicts = [{"op": 0, "name": "a1", "ok": True, "detail": None},
                    {"op": 3, "name": "a1", "ok": False, "detail": "mismatch"}]
        result, report = metrics.summarize("review_job", self.run_record(), verdicts, False)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertEqual(result["attempted"], 4)
        self.assertEqual(result["failed"], 2)
        self.assertFalse(result["correct"])
        self.assertEqual(m["op_p50_s"], 2.0)   # ops 0 and 2 only
        self.assertEqual(report["samples"]["op_p50_s"], 2)
        self.assertEqual(report["error_rate"], 0.5)
        self.assertEqual([k for k, _ in metrics.END_TO_END], list(m))

    def test_all_failed_still_yields_a_result(self):
        rec = self.run_record()
        for o in rec["ops"]:
            o["error"] = "boom"
        result, _ = metrics.summarize("review_job", rec, [], False)
        self.assertEqual((result["attempted"], result["failed"]), (4, 4))
        self.assertFalse(result["correct"])
        self.assertIsNone(result["metrics"]["op_p50_s"]["value"])
        json.dumps(result)


class TracedSummaryTest(unittest.TestCase):
    def test_accounted_ratio_is_layer_self_over_traced_time(self):
        def op(traced, secs):
            return {"id": 0, "kind": "job", "primary": True, "traced": traced,
                    "seconds": secs, "error": None, "docs": 10, "input_bytes": 100,
                    "stored_bytes": 0, "conf_changed": [], "parts": {"leftover_rdds": 0}}
        spans = [span(0, -1, "op", 0, 10), span(1, 0, "tables", 1, 3),
                 span(2, 0, "risk", 4, 6)]
        rec = {"ops": [op(False, 8.0), op(True, 11.0)],
               "trace_data": {"spans": spans, "jobs": [], "tasks": [], "counters": []}}
        result, _ = metrics.summarize("review_job", rec, [], True)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        self.assertAlmostEqual(m["trace.accounted_ratio"], 4 / 11)
        self.assertAlmostEqual(m["trace.harness_s"], 6)
        self.assertAlmostEqual(m["trace.overhead_ratio"], 11 / 8)
        self.assertAlmostEqual(m["tables.self_s"], 2)


if __name__ == "__main__":
    unittest.main()
