"""Tests of the benchmark's own logic (no Spark needed):

    python3 -m unittest discover -s perfbench/tests
"""

import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import report  # noqa: E402


def op(name, step, start, end, wall, cpu=1.0, work=10, traced=False, errors=(), kind="wave"):
    return {"name": name, "step": step, "start_ms": start, "end_ms": end,
            "wall_s": wall, "cpu_s": cpu, "work": work, "traced": traced,
            "errors": list(errors), "digest": "", "kind": kind}


def job(start, end, run_ms=0, cpu_ms=0.0, site="s"):
    return {"start_ms": start, "end_ms": end, "run_ms": run_ms, "cpu_ms": cpu_ms,
            "gc_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0, "input_bytes": 0,
            "output_bytes": 0, "site": site}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(report.self_time((0, 100), []), 100)

    def test_disjoint_children(self):
        self.assertEqual(report.self_time((0, 100), [(10, 20), (30, 50)]), 70)

    def test_overlapping_children_count_once(self):
        # six concurrent commit writes overlapping each other
        writes = [(60, 90), (61, 80), (62, 95), (63, 70), (64, 85), (65, 92)]
        self.assertEqual(report.self_time((0, 100), [(10, 40)] + writes), 100 - 30 - 35)

    def test_nested_and_touching_children(self):
        self.assertEqual(report.self_time((0, 100), [(10, 50), (20, 30), (50, 60)]), 50)

    def test_children_clipped_to_span(self):
        self.assertEqual(report.self_time((100, 200), [(50, 120), (190, 260)]), 70)

    def test_span_metrics_slot_idle(self):
        o = op("wave1", 0, 0, 1000, 1.0)
        jobs = [job(100, 600, run_ms=1000), job(300, 900, run_ms=600), job(2000, 2100, run_ms=999)]
        m = report.span_metrics(o, jobs, cores=4)
        self.assertEqual(m["jobs"], 2)
        self.assertAlmostEqual(m["driver_s"], 0.2)
        # 1.6 s of task run over 0.8 s covered x 4 cores
        self.assertAlmostEqual(m["slot_idle_frac"], 0.5)


class TimingSummary(unittest.TestCase):
    def test_median_only_below_twenty_samples(self):
        s = report.timing_summary([3.0, 1.0, 2.0])
        self.assertEqual((s["n"], s["p50"], s["tail_pct"], s["tail"]), (3, 2.0, None, None))

    def test_tail_needs_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 41)]  # 40 samples
        s = report.timing_summary(xs)
        # p75 leaves 10 beyond it; p90 would leave only 4
        self.assertEqual((s["n"], s["tail_pct"], s["tail"]), (40, 75.0, 30.0))
        self.assertEqual(s["p50"], 20.5)

    def test_highest_qualifying_percentile(self):
        xs = [float(i) for i in range(1000)]
        s = report.timing_summary(xs)
        self.assertEqual((s["tail_pct"], s["tail"]), (99.0, 989.0))

    def test_empty(self):
        self.assertEqual(report.timing_summary([])["n"], 0)


class ErrorRate(unittest.TestCase):
    def test_counts_failed_operations(self):
        ops = [op("q1", 0, 0, 1, 1.0), op("q2", 0, 1, 2, 1.0, errors=["threw"]),
               op("q3", 0, 2, 3, 1.0, errors=["digest", "rows"]), op("q4", 0, 3, 4, 1.0)]
        self.assertEqual(report.error_rate(ops), (4, 2, 0.5))

    def test_no_operations(self):
        self.assertEqual(report.error_rate([]), (0, 0, 0.0))

    def test_pin_mismatch_fails_the_operation(self):
        raw = {"fingerprint": "f", "ops": [op("wave1", 0, 0, 1, 1.0), op("wave2", 1, 1, 2, 1.0)]}
        raw["ops"][0]["digest"] = "a"
        raw["ops"][1]["digest"] = "b"
        problems = report.check_pins(raw, {"fingerprint": "g", "ops": {"wave1": "a", "wave2": "c"}})
        self.assertEqual(len(problems), 1)  # the fingerprint
        self.assertEqual(report.error_rate(raw["ops"])[:2], (2, 1))


class Steps(unittest.TestCase):
    def test_queries_of_one_pass_form_one_step(self):
        ops = [op("q1", 0, 0, 1, 1.0, cpu=0.5, work=1, kind="query"),
               op("q2", 0, 1, 3, 2.0, cpu=1.5, work=1, kind="query"),
               op("q1", 1, 3, 4, 1.5, cpu=0.5, work=1, kind="query")]
        self.assertEqual(report.steps(ops), [(3.0, 2.0), (1.5, 0.5)])

    def test_trace_overhead_over_common_operations(self):
        untraced = [op("wave1", 0, 0, 1, 10.0)]
        traced = [op("wave1", 1, 0, 1, 11.0, traced=True), op("wave2", 2, 0, 1, 50.0, traced=True)]
        self.assertAlmostEqual(report.trace_overhead(untraced, traced), 1.1)

    def test_setup_is_session_plus_median_inputs_plus_prebuild(self):
        raw = {"session_s": 5.0, "inputs_s": [6.0, 1.0, 2.0], "prebuild_s": 30.0}
        self.assertAlmostEqual(report.setup_seconds(raw), 37.0)


if __name__ == "__main__":
    unittest.main()
