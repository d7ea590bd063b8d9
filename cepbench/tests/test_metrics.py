"""Tests of the benchmark's pure parts. Run from the repository root:

    python3 -m unittest discover -s cepbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import metrics  # noqa: E402


def raw_run(workload="cep_uniform", traced=False):
    """A raw record as the harness writes it, with made-up numbers."""
    layers = {n: 1.5 for n, _, _ in metrics.PER_LAYER}
    for computed in ("streaming.batch_ms", "harness.query_s"):
        for suffix in ("_p50", "_tail", "_tail_pct", "_tail_beyond"):
            layers.pop(computed + suffix)
    for computed in ("harness.trace_overhead", "harness.failed_ratio", "jvm.peak_rss_mb"):
        layers.pop(computed)
    return {
        "workload": workload, "events": 1000,
        "setup": {"session_s": 1.0, "stage_s": [3.0, 1.0, 2.0], "first_touch_s": 0.5, "warm_s": 4.0},
        "passes": [{"wall_s": w, "busy_s": w, "events": 2000, "ok": True} for w in (2.0, 1.0, 3.0)],
        "attempted": 9, "errors": [], "checks": [],
        "trace": {"layers": layers, "stream_batch_ms": [float(x) for x in range(1, 31)],
                  "suite_query_s": [0.1 * x for x in range(1, 41)],
                  "untraced_pass_s": [2.0, 2.0], "traced_pass_s": [2.2, 2.2]} if traced else {},
    }


OK = {"dsl_vs_nfa": (0, 0), "mr_vs_strict_nfa": (0, 0)}
OK_TRACED = dict(OK, **{c: (0, 0) for c in metrics.TRACED_CHECKS})


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90, 10))

    def test_thousand_samples_reach_p99(self):
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99.0, 990, 10))

    def test_order_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(metrics.tail(xs[::-1]), metrics.tail(xs))
        self.assertEqual(metrics.tail(xs), (75.0, 30, 10))

    def test_too_few_samples_fall_back_to_median_with_count(self):
        pct, value, beyond = metrics.tail(list(range(1, 20)))
        self.assertEqual((pct, value), (50.0, 10))
        self.assertEqual(beyond, 9)

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class TraceOverheadTest(unittest.TestCase):
    def test_drift_within_a_block_cancels(self):
        # U T T U at 1.0, 0.9, 0.8, 0.7 s: warm-up drift, no tracing cost
        self.assertAlmostEqual(metrics.trace_overhead([1.0, 0.7], [0.9, 0.8]), 1.0)

    def test_median_over_blocks(self):
        u = [1.0, 1.0, 1.0, 1.0, 1.0, 1.0]
        t = [1.1, 1.1, 1.2, 1.2, 3.0, 3.0]
        self.assertAlmostEqual(metrics.trace_overhead(u, t), 1.2)

    def test_partial_block_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.trace_overhead([1.0, 1.0], [1.0])


class NameGrammarTest(unittest.TestCase):
    def test_declared_names_and_units_are_valid_and_unique(self):
        names = [n for n, _, _ in metrics.END_TO_END + metrics.PER_LAYER]
        self.assertEqual(len(names), len(set(names)))
        for n, u, better in metrics.END_TO_END + metrics.PER_LAYER:
            self.assertTrue(metrics.valid_name(n), n)
            self.assertTrue(metrics.valid_unit(u), u)
            self.assertIn(better, ("lower", "higher"))

    def test_grammar_rejects(self):
        for bad in ("", "_x", ".x", "a b", "a" * 65, "x/y", "ü"):
            self.assertFalse(metrics.valid_name(bad), bad)
        for bad in ("", "a" * 17, "m s"):
            self.assertFalse(metrics.valid_unit(bad), bad)
        self.assertTrue(metrics.valid_name("harness.warm_build_s.events_first_touch"))

    def test_benchmark_json_lists_the_same_metrics(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]],
                         metrics.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in spec["workloads"]),
                         sorted(metrics.REQUIRED_CHECKS))
        setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in spec["end_to_end"]))


class OutputShapeTest(unittest.TestCase):
    def test_untraced_reports_every_end_to_end_metric(self):
        res = metrics.result(raw_run(), OK, True, 900.0, traced=False)
        metrics.check_shape(res, traced=False)
        self.assertEqual(list(res), ["correct", "attempted", "failed", "metrics"])
        self.assertTrue(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (9, 0))
        m = res["metrics"]
        self.assertEqual(m["setup_s"], {"value": 1.0 + 2.0 + 0.5 + 4.0, "unit": "s"})
        self.assertEqual(m["pass_s_p50"]["value"], 2.0)
        self.assertEqual(m["events_per_s"]["value"], 1000.0)

    def test_traced_reports_every_per_layer_metric(self):
        res = metrics.result(raw_run(traced=True), OK_TRACED, True, 900.0, traced=True)
        metrics.check_shape(res, traced=True)
        m = res["metrics"]
        # 30 samples: p75 has only 7 beyond, so the tail is p50
        self.assertEqual(m["streaming.batch_ms_tail"]["value"], 15.0)
        self.assertEqual(m["streaming.batch_ms_tail_pct"]["value"], 50.0)
        self.assertEqual(m["streaming.batch_ms_tail_beyond"]["value"], 15)
        self.assertEqual(m["harness.query_s_tail_pct"]["value"], 75.0)
        self.assertAlmostEqual(m["harness.trace_overhead"]["value"], 1.1)
        self.assertEqual(m["jvm.peak_rss_mb"]["value"], 900.0)

    def test_shape_check_rejects_extra_or_missing_keys(self):
        res = metrics.result(raw_run(), OK, True, 900.0, traced=False)
        with self.assertRaises(ValueError):
            metrics.check_shape(dict(res, extra=1), traced=False)
        del res["metrics"]["setup_s"]
        with self.assertRaises(ValueError):
            metrics.check_shape(res, traced=False)

    def test_a_metric_not_measured_is_an_error(self):
        raw = raw_run(traced=True)
        del raw["trace"]["layers"]["pattern.nfa_s"]
        with self.assertRaises(ValueError):
            metrics.result(raw, OK_TRACED, True, 900.0, traced=True)


class OracleComparatorTest(unittest.TestCase):
    def test_equal_multisets_in_any_order(self):
        self.assertEqual(metrics.compare_rows(["a", "b", "b"], ["b", "a", "b"]), (0, 0))

    def test_duplicates_count(self):
        self.assertEqual(metrics.compare_rows(["a", "a"], ["a"]), (0, 1))
        self.assertEqual(metrics.compare_rows(["a"], ["a", "a"]), (1, 0))

    def test_planted_mismatch_raises_failed_ratio(self):
        want = ["match,1,100,200", "timeout,2,300,"]
        got = ["match,1,100,201", "timeout,2,300,"]
        outcomes = dict(OK_TRACED, dsl_vs_nfa=metrics.compare_rows(got, want))
        self.assertEqual(outcomes["dsl_vs_nfa"], (1, 1))
        res = metrics.result(raw_run(traced=True), outcomes, True, 900.0, traced=True)
        self.assertFalse(res["correct"])
        self.assertEqual(res["failed"], 1)
        self.assertGreater(res["metrics"]["harness.failed_ratio"]["value"], 0)
        clean = metrics.result(raw_run(traced=True), OK_TRACED, True, 900.0, traced=True)
        self.assertEqual(clean["metrics"]["harness.failed_ratio"]["value"], 0)

    def test_missing_check_fixture_mismatch_and_errors_fail(self):
        res = metrics.result(raw_run(), {"dsl_vs_nfa": (0, 0)}, False, 900.0, traced=False)
        self.assertEqual(res["failed"], 2)
        raw = raw_run()
        raw["errors"] = ["dsl: java.lang.RuntimeException: boom"]
        self.assertEqual(metrics.result(raw, OK, True, 900.0, traced=False)["failed"], 1)

    def test_traced_run_without_its_stream_check_fails(self):
        res = metrics.result(raw_run(traced=True), OK, True, 900.0, traced=True)
        self.assertEqual(res["failed"], len(metrics.TRACED_CHECKS))
        self.assertFalse(res["correct"])


if __name__ == "__main__":
    unittest.main()
