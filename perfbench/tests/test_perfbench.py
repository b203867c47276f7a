"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import reduce  # noqa: E402

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(reduce.supported_percentile(100), 90)
        self.assertEqual(reduce.supported_percentile(50), 80)
        self.assertEqual(reduce.supported_percentile(49), 79)
        self.assertEqual(reduce.supported_percentile(11), 9)
        self.assertIsNone(reduce.supported_percentile(10))

    def test_reported_tail_needs_the_minimum_warm_ops(self):
        self.assertGreaterEqual(reduce.supported_percentile(50), reduce.TAIL_PCT)
        self.assertLess(reduce.supported_percentile(49), reduce.TAIL_PCT)

    def test_interpolated_percentile(self):
        self.assertEqual(reduce.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(reduce.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertAlmostEqual(reduce.percentile(range(1, 101), 80), 80.2)


class SelfTime(unittest.TestCase):
    def test_nested_spans(self):
        spans = [(0, -1, 0, 100), (1, 0, 10, 40), (2, 1, 20, 30)]
        self.assertEqual(reduce.self_times(spans), {0: 70, 1: 20, 2: 10})

    def test_abutting_children_cover_their_parent(self):
        spans = [(0, -1, 0, 100), (1, 0, 0, 50), (2, 0, 50, 100)]
        self.assertEqual(reduce.self_times(spans)[0], 0)

    def test_overlapping_and_overhanging_children_count_once(self):
        spans = [(0, -1, 0, 100), (1, 0, 10, 60), (2, 0, 40, 80), (3, 0, 90, 130)]
        self.assertEqual(reduce.self_times(spans)[0], 100 - 70 - 10)

    def test_union_clipped_to_window(self):
        self.assertEqual(reduce.union_ns([(0, 10), (5, 20), (30, 40)], 8, 35), 12 + 5)


class SeedDeterminism(unittest.TestCase):
    def test_same_seed_same_catalog_and_config_bytes(self):
        c1, c2 = gen.wide_catalog(7), gen.wide_catalog(7)
        self.assertEqual(c1, c2)
        self.assertEqual(gen.project_files(7, c1), gen.project_files(7, c2))
        self.assertEqual(sum(len(t) for t in c1.values()), gen.N_WIDE_TABLES)

    def test_other_seed_other_names_and_widths(self):
        c1, c2 = gen.wide_catalog(7), gen.wide_catalog(8)
        names = lambda c: {(s, t) for s, ts in c.items() for t in ts}
        widths = lambda c: [len(cols) for ts in c.values() for cols in ts.values()]
        self.assertNotEqual(names(c1), names(c2))
        self.assertNotEqual(widths(c1), widths(c2))
        self.assertNotEqual(gen.project_files(7, c1), gen.project_files(8, c2))

    def test_lake_tables_are_a_function_of_the_seed(self):
        t1, t2, t3 = gen._lake_tables(3), gen._lake_tables(3), gen._lake_tables(4)
        self.assertEqual(list(t1), gen.LAKE_TABLES)
        for name in gen.LAKE_TABLES:
            self.assertTrue(t1[name].equals(t2[name]), name)
            self.assertEqual(t1[name].num_rows, gen.LAKE_ROWS[name])
        self.assertFalse(t1["documents"].equals(t3["documents"]))


def _synthetic_run():
    """Two cold ops and three warm passes (the second traced), with spans."""
    ops, spans, jobs, passes, counters = [], [], [], [], []
    i = 0
    for p, kind in [(0, "cold"), (1, "warm"), (2, "warm"), (3, "warm")]:
        traced = p == 2
        for row in ("a", "b"):
            ms = (50.0 if kind == "cold" else 10.0) + i
            ops.append({"id": i, "row": row, "obj": "DedupQueries", "kind": kind, "pass": p,
                        "traced": traced, "ms": ms, "ok": True, "err": None})
            if traced:
                t = i * 10**8
                spans += [[3 * i, -1, i, "op", t, t + int(ms * 1e6)],
                          [3 * i + 1, 3 * i, i, "queries.construct", t, t + 2 * 10**6],
                          [3 * i + 2, 3 * i, i, "exec", t + 2 * 10**6, t + int(ms * 1e6)]]
                jobs.append([i, i, t + 3 * 10**6, t + 8 * 10**6])
                counters += [[i, "sample.all", 10], [i, "sample.self", 1]]
            i += 1
        passes.append({"pass": p, "kind": kind, "traced": traced, "ops": 2,
                       "ms": sum(o["ms"] for o in ops[-2:]) + 5.0})
    run = {"setup_s": 3.0, "setup_spark_s": 2.0, "setup_engine_s": 0.5, "storage_peak_mb": 1.0,
           "persisted_end_mb": 0.5, "clear_ms": 2.0, "leaked_rdds": 0, "checks": [],
           "ops": ops, "passes": passes}
    trace = {"spans": spans, "counters": counters, "jobs": jobs,
             "stages": [[0, 4, 4, 100, 10, 20, 0, 1.5]], "qes": [[4, "save", 1, 2, 3]]}
    return run, trace


class OutputLine(unittest.TestCase):
    def _line(self, metrics):
        return json.loads(json.dumps({"correct": True, "attempted": 8, "failed": 0,
                                      "metrics": metrics}))

    def test_end_to_end_line(self):
        run, _ = _synthetic_run()
        m = reduce.end_to_end(run)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["cold_pass_s"], (50 + 51) / 1000)
        # each row's median untraced warm op: a (12, 16), b (13, 17)
        self.assertAlmostEqual(m["warm_pass_s"], (14 + 15) / 1000)
        # four untraced warm ops over the two passes' wall time
        self.assertAlmostEqual(m["ops_per_s"], 1000 * 4 / (12 + 13 + 5 + 16 + 17 + 5))
        line = self._line(reduce.as_metrics(m, reduce.END_TO_END))
        for name, unit in reduce.END_TO_END:
            self.assertEqual(line["metrics"][name]["unit"], unit)
            self.assertIsInstance(line["metrics"][name]["value"], float)

    def test_settle_passes_enter_no_metric(self):
        run, trace = _synthetic_run()
        before = reduce.end_to_end(run), reduce.per_layer(run, trace, 0.25, 1.5)
        run["ops"].append({"id": 8, "row": "a", "obj": "DedupQueries", "kind": "settle",
                           "pass": 4, "traced": False, "ms": 900.0, "ok": True, "err": None})
        run["passes"].append({"pass": 4, "kind": "settle", "traced": False, "ops": 1,
                              "ms": 905.0})
        self.assertEqual(reduce.end_to_end(run), before[0])
        after = reduce.per_layer(run, trace, 0.25, 1.5)
        self.assertEqual({k: v for k, v in after.items() if k != "failed_ratio"},
                         {k: v for k, v in before[1].items() if k != "failed_ratio"})

    def test_per_layer_line(self):
        run, trace = _synthetic_run()
        m = reduce.per_layer(run, trace, gen_s=0.25, steal_pct=1.5)
        self.assertEqual(m["exec.ms"], 5.0)
        self.assertEqual(m["exec.driver_gap_ms"], (14 - 5 + 15 - 5) / 2)
        self.assertEqual(m["queries.construct_ms"], 2.0)
        self.assertEqual(m["catalyst.planning_ms"], 1.5)
        # a tenth of each traced op's samples fell in the engine's own code
        self.assertAlmostEqual(m["engine.self_ms"], (1.4 + 1.5) / 2)
        line = self._line(reduce.as_metrics(m, reduce.PER_LAYER))
        self.assertEqual(set(line["metrics"]), {n for n, _ in reduce.PER_LAYER})

    def test_a_missing_sample_refuses_to_report(self):
        run, _ = _synthetic_run()
        run["ops"] = [o for o in run["ops"] if o["kind"] == "cold"]
        with self.assertRaises(ValueError):
            reduce.as_metrics(reduce.end_to_end(run), reduce.END_TO_END)

    def test_metric_lists_match_benchmark_json(self):
        with open(BENCHMARK_JSON) as f:
            spec = json.load(f)
        got = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        self.assertEqual(got, reduce.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], reduce.PER_LAYER)


class TracingOverhead(unittest.TestCase):
    def _run(self, pass_ms, traced, replay=()):
        ops = [{"id": p, "row": "a", "kind": "replay" if p in replay else "warm", "pass": p,
                "traced": p in traced, "ms": ms, "ok": True} for p, ms in pass_ms.items()]
        passes = [{"pass": o["pass"], "kind": o["kind"], "traced": o["traced"], "ops": 1,
                   "ms": o["ms"]} for o in ops]
        return {"ops": ops, "passes": passes}

    def test_bracketing_cancels_a_warming_trend(self):
        run = self._run({1: 100.0, 2: 90.0, 3: 80.0, 4: 70.0, 5: 60.0}, traced={2, 4})
        for v in reduce.tracing_overhead_pct(run).values():
            self.assertAlmostEqual(v, 0.0)

    def test_traced_passes_slower_than_their_neighbours(self):
        m = reduce.tracing_overhead_pct(self._run({1: 100.0, 2: 110.0, 3: 100.0}, traced={2}))
        self.assertAlmostEqual(m["warm_pass_s"], 10.0)
        self.assertAlmostEqual(m["op_p50_ms"], 10.0)
        self.assertAlmostEqual(m["ops_per_s"], 100.0 * (100 / 110 - 1))

    def test_replay_passes_stay_out_of_the_bracket(self):
        run = self._run({1: 100.0, 2: 110.0, 3: 100.0, 4: 500.0, 5: 100.0},
                        traced={2, 4}, replay={4})
        self.assertAlmostEqual(reduce.tracing_overhead_pct(run)["warm_pass_s"], 10.0)


class OracleCompare(unittest.TestCase):
    def test_canonical_compare(self):
        got = [[2, 0.1 + 0.2, "x"], [1, None, "y"]]
        want = [[None, 1, "y"], [0.3, 2, "x"]]
        self.assertIsNone(check.compare(["k", "v", "s"], got, ["v", "k", "s"], want))
        self.assertIn("column v", check.compare(["k", "v"], [[1, 0.3]], ["k", "v"], [[1, 0.31]]))

    def test_timestamps_and_dates_as_epoch_micros(self):
        import datetime
        self.assertEqual(check.canon_value(datetime.datetime(1970, 1, 2, 0, 0, 0, 5)),
                         86400 * 10**6 + 5)
        self.assertEqual(check.canon_value(datetime.date(1970, 1, 11)), 10 * 86400 * 10**6)


if __name__ == "__main__":
    unittest.main()
