"""Self-tests for the span arithmetic and metric definitions.

Run: python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import metrics  # noqa: E402


def span(id, name, op, start, end, parent="", **attrs):
    return {"id": id, "name": name, "op": op, "start_us": start, "end_us": end,
            "parent": parent, "attrs": attrs}


class UnionTest(unittest.TestCase):
    def test_overlaps_merge_and_gaps_do_not(self):
        self.assertEqual(metrics.union_us([(0, 10), (5, 20), (30, 40)]), 30)

    def test_clipping(self):
        self.assertEqual(metrics.union_us([(0, 10), (5, 20)], lo=8, hi=12), 4)
        self.assertEqual(metrics.union_us([(0, 5)], lo=10, hi=20), 0)

    def test_empty(self):
        self.assertEqual(metrics.union_us([]), 0)


class SelfTimeTest(unittest.TestCase):
    def setUp(self):
        self.spans = [
            span("b1", "op", 0, 0, 100_000),
            span("b2", "entry.build", 0, 0, 40_000, "b1"),
            span("b3", "entry.action", 0, 40_000, 100_000, "b2" and "b1"),
            # Spark spans: placed by containment (ms granularity, slack)
            span("job1", "scheduler.job", 0, 50_000, 90_000, "exec1"),
            span("exec1", "sql.execution", 0, 45_000, 95_000),
            span("stage1.0", "scheduler.stage", 0, 55_000, 85_000, "job1"),
            span("qe1.analysis", "catalyst.analysis", 0, 10_000, 12_000),
        ]

    def test_parents(self):
        p = metrics.resolve_parents(self.spans)
        self.assertEqual(p["b1"], "")
        self.assertEqual(p["b3"], "b1")
        self.assertEqual(p["exec1"], "b3")
        self.assertEqual(p["job1"], "exec1")
        self.assertEqual(p["stage1.0"], "job1")
        self.assertEqual(p["qe1.analysis"], "b2")

    def test_self_time_is_duration_minus_children(self):
        st = metrics.self_times(self.spans)
        self.assertEqual(st["b1"], 0)
        self.assertEqual(st["b2"], 40_000 - 2_000)
        self.assertEqual(st["b3"], 60_000 - 50_000)
        self.assertEqual(st["exec1"], 50_000 - 40_000)
        self.assertEqual(st["job1"], 40_000 - 30_000)
        self.assertEqual(st["stage1.0"], 30_000)

    def test_overlapping_children_count_once(self):
        spans = [span("b1", "op", 0, 0, 100), span("j1", "scheduler.job", 0, 10, 60),
                 span("j2", "scheduler.job", 0, 40, 80)]
        self.assertEqual(metrics.self_times(spans)["b1"], 100 - 70)


def record(workload, trace=False):
    ops = [{"id": 0, "name": "probe", "kind": "hit", "phase": "warm", "start_us": 0,
            "end_us": 5_000, "error": None}]
    t = 10_000
    for i in range(1, 41):
        kind = "hit" if i % 2 else "miss"
        dur = 10_000 if kind == "hit" else 30_000
        ops.append({"id": i, "name": "probe", "kind": kind, "phase": "timed",
                    "start_us": t, "end_us": t + dur, "error": None})
        t += dur
    spans = []
    if trace:
        for o in ops[1:]:
            s, e = o["start_us"], o["end_us"]
            spans += [span(f"b{o['id']}", "op", o["id"], s, e),
                      span(f"b{o['id']}x", "wordlist.exec", o["id"], s, e, f"b{o['id']}"),
                      span(f"job{o['id']}", "scheduler.job", o["id"], s + 1000, e - 1000),
                      span(f"stage{o['id']}.0", "scheduler.stage", o["id"], s + 1000, e - 1000,
                           f"job{o['id']}", tasks=2, input_bytes=1e6, run_ms=8, cpu_ns=4e6)]
    return {"workload": workload, "seed": 1, "trace": trace, "setup_s": 12.5,
            "heap_retained_mb": 300.0, "timed_s": 0.8, "jvm_gc_s": 0.1, "heap_peak_mb": 900.0,
            "disk_peak_mb": 10.0, "ops": ops, "spans": spans,
            "counters": {str(i): {"bucket_bytes": 2e6} for i in range(1, 41)} if trace else {}}


class MetricsTest(unittest.TestCase):
    def test_end_to_end(self):
        m = metrics.end_to_end(record("password_probe"))
        self.assertEqual(m["ops_per_s"][0], 40 / 0.8)  # 20 × 10 ms + 20 × 30 ms
        self.assertEqual(m["a_mean_ms"][0], 10.0)
        self.assertEqual(m["b_mean_ms"][0], 30.0)
        self.assertEqual(m["op_p50_ms"][0], 20.0)
        self.assertEqual(m["op_p90_ms"][0], 30.0)

    def test_per_layer(self):
        m = metrics.per_layer(record("password_probe", trace=True))
        self.assertEqual(m["scheduler.jobs_per_op"][0], 1)
        self.assertEqual(m["scheduler.tasks_per_op"][0], 2)
        self.assertAlmostEqual(m["wordlist.hit_scan_frac"][0], 0.5)
        self.assertAlmostEqual(m["wordlist.hit_read_mb"][0], 1.0)
        self.assertAlmostEqual(m["task.cpu_frac"][0], 0.5)
        self.assertAlmostEqual(m["scheduler.driver_gap_ms"][0], 2.0)
        self.assertAlmostEqual(m["trace.coverage"][0], 1.0)
        self.assertEqual(m["entry.build_ms"][0], 0.0)

    def test_self_ms_per_op(self):
        st = metrics.self_ms_per_op(record("password_probe", trace=True))
        self.assertEqual(st["op"], 0.0)
        self.assertAlmostEqual(st["wordlist.exec"], 2.0)
        self.assertAlmostEqual(st["scheduler.stage"], 18.0)

    def test_summary_counts_warm_failures(self):
        r = record("password_probe")
        r["ops"][0]["error"] = "WrongAnswer: x"
        s = metrics.summarize(r)
        self.assertFalse(s["correct"])
        self.assertEqual((s["attempted"], s["failed"]), (41, 1))


if __name__ == "__main__":
    unittest.main()
