"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import math
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import run  # noqa: E402
import stats  # noqa: E402


def op(kind, ms, ok=True, **fields):
    return dict(kind=kind, t0=1000.0, t1=1000.0 + ms, ok=ok, err=None if ok else "x", **fields)


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 91), 10)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile([7.0], 50), 7.0)
        self.assertEqual(stats.percentile([3, 1, 2], 50), 2)

    def test_no_samples_is_an_error_not_a_zero(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertIsNone(stats.tail_percentile(list(range(19))))
        self.assertEqual(stats.tail_percentile(list(range(1, 41))), (75, 30))
        self.assertEqual(stats.tail_percentile(list(range(1, 101))), (90, 90))
        self.assertEqual(stats.tail_percentile(list(range(1, 1001))), (99, 990))


class Geomean(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4]), 2.0)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4.0)
        self.assertAlmostEqual(stats.geomean([5.5]), 5.5)

    def test_rejects_non_positive(self):
        for bad in ([], [1, 0], [2, -1]):
            with self.assertRaises(ValueError):
                stats.geomean(bad)


class Recall(unittest.TestCase):
    def test_ties_at_the_kth_distance_break_by_id(self):
        truth = [(f"{i:02d}", float(i)) for i in range(9)] + [("12", 9.0), ("10", 9.0), ("11", 9.0)]
        exact = [f"{i:02d}" for i in range(9)] + ["10"]
        self.assertEqual(stats.recall_at_k(exact, truth), 1.0)
        other_tie = [f"{i:02d}" for i in range(9)] + ["11"]
        self.assertAlmostEqual(stats.recall_at_k(other_tie, truth), 0.9)

    def test_only_the_first_k_results_count(self):
        truth = [(str(i), float(i)) for i in range(10)]
        got = ["x"] + [str(i) for i in range(10)]
        self.assertAlmostEqual(stats.recall_at_k(got, truth), 0.9)

    def test_short_truth(self):
        self.assertEqual(stats.recall_at_k(["a", "b"], [("b", 1.0), ("a", 1.0)]), 1.0)
        self.assertEqual(stats.recall_at_k(["a"], [("b", 1.0), ("a", 1.0)]), 0.5)
        self.assertEqual(stats.recall_at_k([], []), 1.0)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 50), (60, 70)]), 50)

    def test_children_clipped_to_the_parent(self):
        self.assertEqual(stats.self_time((0, 100), [(-20, 10), (90, 130)]), 80)
        self.assertEqual(stats.self_time((0, 100), [(150, 160)]), 100)

    def test_nested_and_identical_children(self):
        self.assertEqual(stats.self_time((0, 100), [(0, 100), (10, 20)]), 0)
        self.assertEqual(stats.self_time((0, 10), []), 10)

    def test_union_length(self):
        self.assertEqual(stats.union_length([(0, 5), (5, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([(0, 5), (7, 10)], 1, 8), 5)


class Failures(unittest.TestCase):
    def test_failed_ops_are_counted_never_timed(self):
        ops = [op("find", 100), op("find", 300), op("find", 1, ok=False), op("find", 2, ok=False)]
        lat, failed = stats.summarize(ops)
        self.assertEqual(failed, 2)
        self.assertEqual(sorted(lat["find"]), [100, 300])
        self.assertEqual(stats.percentile(lat["find"], 50), 100)

    def test_a_kind_with_only_failures_has_no_latency(self):
        lat, failed = stats.summarize([op("upsert", 5, ok=False)])
        self.assertEqual(failed, 1)
        self.assertNotIn("upsert", lat)
        truth = [(str(i), float(i)) for i in range(10)]
        ops = [op("upsert", 5, ok=False), op("knn_range", 50, got=[], truth=truth),
               op("drain", 900, ok=False, docs=100, land=1000.0, fresh=1500.0)]
        m = stats.end_to_end({"ops": ops, "setup": [{"a": 1.0}], "stored_bytes_per_doc": 9.0})
        for name in ("upsert_p50_ms", "knn_exact_p50_ms", "freshness_p50_s",
                     "ingest_docs_per_s", "recall_at_10"):
            self.assertIsNone(m[name], name)
        self.assertEqual(m["knn_range_p50_ms"], 50)
        out = run.result([{"ops": ops}], m, run.UNITS)
        self.assertFalse(out["correct"])
        self.assertEqual((out["attempted"], out["failed"]), (3, 2))
        self.assertNotIn("upsert_p50_ms", out["metrics"])
        self.assertEqual(out["metrics"]["knn_range_p50_ms"], {"value": 50, "unit": "ms"})

    def test_a_window_without_some_op_kind_is_not_correct(self):
        m = dict.fromkeys(run.UNITS, 1.0)
        m["find_p50_ms"] = None
        out = run.result([{"ops": [op("find", 5)]}], m, run.UNITS)
        self.assertEqual((out["correct"], out["failed"]), (False, 0))
        self.assertTrue(run.result([{"ops": [op("find", 5)]}], dict.fromkeys(run.UNITS, 1.0),
                                   run.UNITS)["correct"])

    def test_end_to_end_ignores_failed_ops(self):
        truth = [(str(i), float(i)) for i in range(10)]
        ids = [str(i) for i in range(10)]
        drain = dict(docs=100, delivered=110, appended=100, files=3)
        ops = [op("knn_range", 50, got=ids, truth=truth), op("knn_range", 1, ok=False, got=[], truth=truth),
               op("knn_exact", 40, got=ids, truth=truth), op("knn_indexed", 30, got=ids[:5], truth=truth),
               op("find", 20), op("upsert", 10, write_amp=2.0),
               op("drain", 2000, land=1500.0, fresh=3000.0, **drain),
               op("drain", 1000, ok=False, land=1000.0, fresh=1500.0, **drain)]
        run = {"ops": ops, "setup": [{"a": 1.0, "b": 2.0}, {"a": 5.0, "b": 5.0}, {"a": 1.0, "b": 1.0}],
               "stored_bytes_per_doc": 500.0}
        m = stats.end_to_end(run)
        self.assertEqual(m["knn_range_p50_ms"], 50)
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["freshness_p50_s"], 1.5)
        # docs of good waves over the writer's whole wall time, failed waves included
        self.assertAlmostEqual(m["ingest_docs_per_s"], 100 / 3.0)
        self.assertEqual(m["recall_at_10"], 0.5)
        # untimed probes of the indexed strategy add to its recall, not to its latency
        ops.append(op("probe_indexed", 9000, got=ids, truth=truth))
        m = stats.end_to_end(run)
        self.assertEqual(m["recall_at_10"], 0.75)
        self.assertEqual(m["knn_indexed_p50_ms"], 30)


class PerLayer(unittest.TestCase):
    def test_counters_cover_the_subtree_self_time_does_not(self):
        spans = [[1, "search.exact", 1, 0, 0.0, 100.0], [2, "embed.query", 1, 1, 0.0, 10.0],
                 [3, "knn.exact", 1, 1, 10.0, 80.0], [4, "hydrate", 1, 1, 80.0, 100.0]]
        groups = {"3": {"jobs": [[20, 40], [30, 60]], "cpu_ms": 7.0, "scan_bytes": 100,
                        "scan_rows": 50, "shuffle_bytes": 0},
                  "4": {"jobs": [[85, 95]], "cpu_ms": 1.0, "scan_bytes": 10, "scan_rows": 10,
                        "shuffle_bytes": 5}}
        run = {"spans": spans, "groups": groups, "ops": [], "heap_peak_mb": 1.0, "gc_ms": 3}
        m = stats.per_layer(run, 1.02)
        self.assertEqual(m["search.exact.self_ms"], 0.0)
        self.assertEqual(m["knn.exact.self_ms"], 70.0)
        self.assertEqual(m["knn.exact.jobs"], 2)
        self.assertEqual(m["knn.exact.outside_jobs_ms"], 30.0)
        self.assertEqual(m["search.exact.jobs"], 3)
        self.assertEqual(m["search.exact.outside_jobs_ms"], 50.0)
        self.assertEqual(m["search.exact.task_cpu_ms"], 8.0)
        self.assertEqual(m["knn.exact.rows_per_result"], 5.0)
        self.assertEqual(m["mango.find.self_ms"], 0.0)
        self.assertEqual(m["trace.overhead"], 1.02)
        self.assertEqual(set(m), set(stats.per_layer_units()))


class Contract(unittest.TestCase):
    """BENCHMARK.json names exactly the metrics run.py prints."""

    def setUp(self):
        path = HERE.parent.parent / "BENCHMARK.json"
        if not path.exists():
            self.skipTest("no BENCHMARK.json beside the benchmark")
        self.spec = json.loads(path.read_text())

    def test_end_to_end_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["end_to_end"]}, run.UNITS)

    def test_per_layer_names_and_units(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.spec["per_layer"]},
                         stats.per_layer_units())

    def test_workloads_match(self):
        sizes = json.loads((HERE.parent / "workloads.json").read_text())["workloads"]
        self.assertEqual([w["name"] for w in self.spec["workloads"]], list(sizes))


if __name__ == "__main__":
    unittest.main()
