"""Self-test of the benchmark's own logic (no engine run needed):

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import compare  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("cdc_snapshot", "cdc_tail", "curation_daemon", "query_mix")


class GeneratorTest(unittest.TestCase):
    def digest(self, workload, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(workload, seed, d)
            return gen.digest(d)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                a = self.digest(w, 7)
                self.assertEqual(a, self.digest(w, 7))
                self.assertNotEqual(a, self.digest(w, 8))

    def test_tail_op_log_shape(self):
        t = gen.oplog(3, 500, 50)
        self.assertEqual(t.column_names, ["event_id", "ts", "id", "ns", "op", "data"])
        rows = t.to_pylist()
        self.assertTrue({r["op"] for r in rows} <= {"i", "u", "d"})
        for r in rows:
            self.assertEqual(r["data"] is None, r["op"] == "d")
            if r["data"] is not None:
                self.assertEqual(str(r["data"]["user_id"]), r["id"])
        # Zipf skew: the hottest key is far above the mean
        counts = {}
        for r in rows:
            counts[r["id"]] = counts.get(r["id"], 0) + 1
        self.assertGreater(max(counts.values()), 5 * 500 / 50)

    def test_curation_batches_cover_every_doc_once(self):
        rows = gen.curation(5).to_pylist()
        sizes = {}
        for r in rows:
            sizes[r["batch"]] = sizes.get(r["batch"], 0) + 1
        self.assertEqual(set(sizes.values()), {gen.CURATION_BATCH_DOCS})
        self.assertTrue(all(r["embedding"] is None for r in rows if r["doc_id"] % 7 == 0))


class PercentileRuleTest(unittest.TestCase):
    def test_ten_samples_beyond(self):
        self.assertEqual(stats.reportable_percentiles(20), [])
        self.assertEqual(stats.reportable_percentiles(99), [])
        self.assertEqual(stats.reportable_percentiles(100), [90.0])
        self.assertEqual(stats.reportable_percentiles(999), [90.0])
        self.assertEqual(stats.reportable_percentiles(1000), [90.0, 99.0])
        self.assertEqual(stats.reportable_percentiles(10000), [90.0, 99.0, 99.9])

    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 50), 50)
        self.assertEqual(stats.percentile(v, 90), 90)
        self.assertEqual(stats.percentile([3.0], 90), 3.0)


def op(i, seconds, ok=True, items=10, name=None, traced=False, kind="batch"):
    return {"id": i, "kind": kind, "name": name or f"op{i}", "ok": ok, "seconds": seconds,
            "items": items, "traced": traced, "input_bytes": 0, "input_rows": 0,
            "call_s": {}, "call_jobs": {}, "held_mb": 0.0, "resident_mb": 0.0, "jobs": 1,
            "tasks": 4, "executor_cpu_s": seconds, "driver_only_s": 0.0,
            "analysis_s": 0.0, "optimization_s": 0.0, "planning_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0,
            "gc_s": 0.0, "spans": 0, "self_s": {}}


class SampleCountTest(unittest.TestCase):
    res = {"workload": "w", "seed": 1, "session_s": 2.0, "setup_reps_s": [5.0, 1.0, 2.0],
           "heap_peak_mb": 300.0,
           "ops": [op(0, 1.0), op(1, 3.0), op(2, 2.0, ok=False), op(3, 5.0)]}

    def test_failed_ops_are_counted_never_timed(self):
        line = stats.summarize(self.res, {3: "wrong output"}, [0.5, 0.7, 0.6], trace=False)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (4, 2, False))
        m = line["metrics"]
        self.assertEqual(m["latency_p50_s"]["value"], 2.0)  # median of 1.0 and 3.0
        self.assertEqual(m["setup_s"]["value"], 2.0 + 0.6 + 2.0)
        # 20 items from the two good ops over all 11 s of op time
        self.assertEqual(m["throughput_per_s"]["value"], 20 / 11.0)
        self.assertEqual([k for k, _ in stats.END_TO_END], list(m))

    def test_latency_of_a_mix_is_the_median_of_query_medians(self):
        ops = [op(i, t, name=n, kind="query") for i, (n, t) in enumerate(
            [("a", 1.0), ("b", 2.0), ("c", 9.0), ("a", 1.2), ("b", 2.2), ("c", 0.1)])]
        # per-query medians 1.1, 2.1, 4.55
        self.assertAlmostEqual(stats.latency_p50(dict(self.res, ops=ops), {}), 2.1)

    def test_correct_run(self):
        line = stats.summarize(self.res | {"ops": self.res["ops"][:2]}, {}, [1.0], trace=False)
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (2, 0, True))

    def test_metric_sets_match_benchmark_json(self):
        path = os.path.join(os.path.dirname(stats.__file__), "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         dict(stats.END_TO_END))
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]},
                         {**{k: u for k, (u, _) in stats.PER_LAYER.items()}, **stats.DERIVED})

    def test_per_layer_set_is_fixed(self):
        line = stats.summarize(self.res, {}, [1.0], trace=True)
        self.assertEqual(set(line["metrics"]), set(stats.PER_LAYER) | set(stats.DERIVED))
        self.assertEqual(line["metrics"]["window.ops"]["value"], 3)

    def test_throughput_counts_the_time_of_slow_and_failed_ops(self):
        ops = [op(0, 1.0, items=1000), op(1, 1.0, items=1000),
               op(2, 4.0, items=1000), op(3, 2.0, items=1000, ok=False)]
        # a slow batch lowers it although the median op does not move
        self.assertEqual(stats.throughput(dict(self.res, ops=ops), {}), 3000 / 8.0)

    def test_trace_overhead_pairs_same_named_ops(self):
        ops = [op(0, 1.0, name="a", traced=True), op(1, 0.9, name="a"),
               op(2, 5.0, name="b", traced=True), op(3, 4.5, name="b")]
        diff, share = stats.trace_overhead(ops)
        self.assertAlmostEqual(diff, 0.3)

    def test_trace_overhead_pairs_neighbours_when_ops_are_distinct(self):
        # a falling trend: 3.0 2.5 | 2.0 1.5 -> each traced op 0.5 s slower
        ops = [op(0, 3.0, traced=True), op(1, 2.5), op(2, 2.0, traced=True), op(3, 1.5)]
        diff, share = stats.trace_overhead(ops)
        self.assertAlmostEqual(diff, 0.5)
        self.assertAlmostEqual(share, 0.25)


class CompareRuleTest(unittest.TestCase):
    def test_clear_win(self):
        parent = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        change = [x - 2.0 for x in parent]
        row = compare.verdict(parent, change, list(zip(parent, change)), "lower", 0.1)
        self.assertEqual(row["verdict"], "better")
        self.assertEqual(row["wins"], 10)

    def test_within_bound_is_unchanged(self):
        parent = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        change = [x + 0.3 for x in parent]
        row = compare.verdict(parent, change, list(zip(parent, change)), "lower", 0.1)
        self.assertEqual(row["verdict"], "unchanged")

    def test_regression_beyond_bound(self):
        parent = [10.0, 10.1, 9.9, 10.2, 10.0, 9.8, 10.1, 10.0, 9.9, 10.0]
        change = [x * 1.3 for x in parent]
        row = compare.verdict(parent, change, list(zip(parent, change)), "lower", 0.1)
        self.assertEqual(row["verdict"], "worse")

    def test_wide_spread_is_unresolved(self):
        parent = [5.0, 15.0, 8.0, 12.0, 10.0, 6.0, 14.0, 9.0, 11.0, 10.0]
        change = [x * 1.05 for x in parent]
        row = compare.verdict(parent, change, list(zip(parent, change)), "lower", 0.1)
        self.assertEqual(row["verdict"], "unresolved")

    def test_higher_is_better(self):
        parent = [100.0 + i % 3 for i in range(10)]
        change = [x * 1.5 for x in parent]
        row = compare.verdict(parent, change, list(zip(parent, change)), "higher", 0.1)
        self.assertEqual(row["verdict"], "better")


if __name__ == "__main__":
    unittest.main()
