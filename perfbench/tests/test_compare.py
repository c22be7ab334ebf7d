"""Self-tests for the compare tool's verdicts on synthetic inputs.

Run: python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import compare  # noqa: E402

PARENT = [100, 101, 99, 100, 102, 98, 100, 101, 99, 100]


class VerdictTest(unittest.TestCase):
    def test_clear_gain(self):
        change = [x * 0.8 for x in PARENT]
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.1), ("improved", 1.0))

    def test_direction_follows_better(self):
        change = [x * 1.2 for x in PARENT]
        self.assertEqual(compare.verdict(PARENT, change, "higher", 0.1)[0], "improved")
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.1)[0], "regressed")

    def test_within_bound_is_same(self):
        self.assertEqual(compare.verdict(PARENT, list(reversed(PARENT)), "lower", 0.1)[0], "same")

    def test_wide_spread_is_unresolved(self):
        noisy = [60, 140, 80, 120, 100, 70, 130, 90, 110, 100]
        self.assertEqual(compare.verdict(PARENT, noisy, "lower", 0.1)[0], "unresolved")

    def test_wide_spread_but_every_run_better_is_not_unresolved(self):
        parent = [100, 200, 150, 120, 180, 110, 190, 130, 170, 160]
        change = [x / 4 for x in parent]
        self.assertEqual(compare.verdict(parent, change, "lower", 0.1)[0], "improved")

    def test_ties_count_for_neither(self):
        v, win = compare.verdict(PARENT, list(PARENT), "lower", 0.1)
        self.assertEqual((v, win), ("same", 0.0))

    def test_nine_tenths_rule(self):
        change = [x * 0.8 for x in PARENT]
        change[0], change[1] = 150, 150  # two losses: 8/10 wins
        self.assertEqual(compare.verdict(PARENT, change, "lower", 0.5)[0], "same")


class ReportTest(unittest.TestCase):
    def test_tables(self):
        bench = {"end_to_end": [{"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}]}

        def res(seed, v, trace=False):
            return {"workload": "password_probe", "seed": seed, "trace": trace,
                    "end_to_end": {"op_p50_ms": {"value": v, "unit": "ms"}},
                    "per_layer": {"task.cpu_s": {"value": v / 10, "unit": "s"}} if trace else {}}
        parent = [res(s, 100 + s % 3) for s in range(10)] + [res(0, 110, True)]
        change = [res(s, 70 + s % 3) for s in range(10)] + [res(0, 77, True)]
        lines = compare.compare(parent, change, bench)
        self.assertTrue(any(l.startswith("op_p50_ms") and l.endswith("improved") for l in lines))
        self.assertTrue(any(l.startswith("task.cpu_s") and "0.7" in l for l in lines))
        over = compare.overhead(parent, bench)
        self.assertTrue(any("password_probe | op_p50_ms" in l for l in over))


if __name__ == "__main__":
    unittest.main()
