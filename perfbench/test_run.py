"""Self-tests of the benchmark driver; the fingerprint tests are in
src/test/scala (`sbt test` in this directory).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import unittest

import run


def _raw(latencies, trace):
    passes = [{"wall_s": 2.0, "cpu_s": 5.0, "errors": [],
               "latencies": [[f"q{i}", v] for i, v in enumerate(latencies)]}]
    raw = {"setup_s": 9.5, "peak_rss_mb": 900.0, "passes": passes,
           "check": {"q0": {"rows": 3, "hash": "ab"}}}
    if trace:
        layers = {m: 1.0 for m in run.PER_LAYER if m not in run._DERIVED}
        raw.update(traced_passes=[dict(passes[0], wall_s=2.2)],
                   layers=dict(layers, **{"exec.task_s": 4.0, "exec.jobs": 7.0}),
                   self_s={"query": 0.1},
                   queries=[{"name": "q0", "pass": 0, "wall_s": 1.0,
                             "build_s": 0.25, "materialize_s": 0.5}])
    return raw


class OrderTest(unittest.TestCase):
    def test_one_seed_always_gives_the_same_order(self):
        qs = [f"q{i:02d}" for i in range(30)]
        self.assertEqual(run.order(qs, 7), run.order(qs, 7))
        self.assertEqual(run.order(qs, 7), run.order(list(qs), 7))
        self.assertEqual(sorted(run.order(qs, 7)), qs)
        self.assertNotEqual(run.order(qs, 7), run.order(qs, 8))

    def test_fixtures_match_their_checksums(self):
        self.assertTrue(os.path.isfile(os.path.join(run.fixtures(), "lineitem.parquet")))

    def test_workload_lists_name_distinct_queries(self):
        for name, w in run.load_json("workloads.json").items():
            self.assertEqual(len(w["queries"]), len(set(w["queries"])), name)
            self.assertLessEqual(set(w.get("streaming", ())), set(w["queries"]), name)

    def test_every_benchmark_workload_has_a_query_list(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            declared = {w["name"] for w in json.load(f)["workloads"]}
        self.assertLessEqual(declared, set(run.load_json("workloads.json")))

    def test_every_run_times_at_least_three_passes(self):
        self.assertEqual(run.passes({"pass_s": 100.0}, 1), 3)
        self.assertEqual(run.passes({"pass_s": 2.0}, 20), 10)


class SummaryTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)
        self.expected = {"q0": {"rows": 3, "hash": "ab"}}

    def _check(self, trace, declared):
        summary, _ = run.summarize(_raw([0.5, 1.0, 2.0], trace), self.expected, trace, 4)
        self.assertEqual(set(summary), {"correct", "attempted", "failed", "metrics"})
        got = {m: v["unit"] for m, v in summary["metrics"].items()}
        self.assertEqual(got, {m["name"]: m["unit"] for m in declared})
        for v in summary["metrics"].values():
            self.assertIsInstance(v["value"], float)
        self.assertTrue(summary["correct"])

    def test_untraced_summary_carries_every_end_to_end_metric(self):
        self._check(False, self.bench["end_to_end"])

    def test_traced_summary_carries_every_per_layer_metric(self):
        self._check(True, self.bench["per_layer"])

    def test_geomean_takes_each_querys_median_over_passes(self):
        raw = _raw([1.0, 4.0], False)
        raw["passes"] = [dict(raw["passes"][0], latencies=[["q0", a], ["q1", b]])
                         for a, b in ((1.0, 4.0), (1.0, 4.0), (9.0, 4.0))]
        summary, _ = run.summarize(raw, self.expected, False, 4)
        self.assertAlmostEqual(summary["metrics"]["query_geomean_s"]["value"], 2.0)

    def test_a_wrong_fingerprint_counts_as_failed(self):
        summary, detail = run.summarize(_raw([1.0], False), {"q0": {"rows": 3, "hash": "ac"}},
                                        False, 4)
        self.assertFalse(summary["correct"])
        self.assertEqual(summary["failed"], 1)
        self.assertIn("q0", detail["failures"])
        self.assertEqual(set(summary["metrics"]), set(run.END_TO_END))

    def test_a_missing_or_dead_layer_counter_counts_as_failed(self):
        for change in ({"exec.spill_bytes": None}, {"plans.query_executions": 0.0}):
            raw = _raw([1.0], True)
            for m, v in change.items():
                if v is None:
                    del raw["layers"][m]
                else:
                    raw["layers"][m] = v
            summary, detail = run.summarize(raw, self.expected, True, 4)
            self.assertFalse(summary["correct"], change)
            self.assertIn(f"layer:{m}", detail["failures"])
            self.assertEqual(set(summary["metrics"]), set(run.PER_LAYER))

    def test_a_streaming_query_needs_streaming_events(self):
        raw = _raw([1.0], True)
        raw["layers"]["streaming.batches"] = 0.0
        summary, detail = run.summarize(raw, self.expected, True, 4)
        self.assertTrue(summary["correct"])
        summary, detail = run.summarize(raw, self.expected, True, 4, streaming={"q0"})
        self.assertIn("layer:streaming.batches", detail["failures"])

    def test_tail_leaves_ten_samples_above(self):
        v, pct, n = run.tail([float(i) for i in range(40)])
        self.assertEqual((v, n), (29.0, 40))
        self.assertEqual(sum(x > v for x in range(40)), 10)
        self.assertEqual(pct, 75.0)


if __name__ == "__main__":
    unittest.main()
