"""Tests for the benchmark's own arithmetic and op generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import random
import tempfile
import unittest

import metrics as M
import run
import workloads as W


class PercentileTest(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        with self.assertRaises(ValueError):
            M.percentile(range(99), 0.9)  # 9.9 samples beyond p90
        self.assertAlmostEqual(M.percentile(range(100), 0.9), 89.1)
        with self.assertRaises(ValueError):
            M.percentile(range(19), 0.5)
        self.assertEqual(M.percentile(range(21), 0.5), 10)

    def test_interpolates_between_ranks(self):
        xs = list(range(1, 201))
        random.Random(3).shuffle(xs)
        self.assertAlmostEqual(M.percentile(xs, 0.9), 180.1)

    def test_median(self):
        self.assertEqual(M.median([3, 1, 2]), 2)
        self.assertEqual(M.median([4, 1, 2, 3]), 2.5)
        self.assertEqual(M.median([]), 0.0)


class UnionTest(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        # two concurrent jobs inside one wall second: union 1.0, sum 1.5
        self.assertEqual(M.union_length([(0, 1000), (200, 700)]), 1000)
        self.assertEqual(M.union_length([(0, 10), (5, 20), (30, 40)]), 30)

    def test_disjoint_and_empty(self):
        self.assertEqual(M.union_length([(0, 1), (2, 3)]), 2)
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(5, 5), (7, 6)]), 0)

    def test_never_exceeds_span(self):
        rng = random.Random(7)
        for _ in range(200):
            iv = [(s, s + rng.uniform(0, 50)) for s in (rng.uniform(0, 100) for _ in range(8))]
            lo, hi = min(s for s, _ in iv), max(e for _, e in iv)
            self.assertLessEqual(M.union_length(iv), hi - lo + 1e-9)


class GapTest(unittest.TestCase):
    def test_clamped_at_zero(self):
        self.assertEqual(M.driver_gap(100.0, 80.0, 30.0), 0.0)
        self.assertEqual(M.driver_gap(100.0, 60.0, 30.0), 10.0)

    def test_self_time_clips_children(self):
        # children spill past the parent and overlap each other
        self.assertEqual(M.self_time((10, 20), [(5, 12), (11, 15), (18, 30)]), 3)
        self.assertEqual(M.self_time((0, 10), []), 10)


class LayerMetricsTest(unittest.TestCase):
    """One traced op with two overlapping jobs and a planning phase that
    overlaps them, fed through the same path as a traced run's result."""

    def _op(self):
        ev = lambda e: {"op": 1, "parent": 1, "e": e}  # noqa: E731
        res = {
            "session_ms": 5.0, "tables": {}, "jvm": {"jit_ms": 0, "gc_ms": 0},
            "spans": [
                {"op": 1, "name": "op.point", "start": 0.0, "end": 100.0, "parent": None},
                ev({"ev": "job_start", "job": 7, "t": 10}),
                ev({"ev": "job_start", "job": 8, "t": 30}),
                ev({"ev": "job_end", "job": 7, "t": 60}),
                ev({"ev": "job_end", "job": 8, "t": 90}),
                ev({"ev": "qe", "func": "collect", "phases": {"analysis": [0, 30]}}),
                {"op": 1, "name": "lake.snapshot", "start": 100.0, "end": 104.0, "parent": 1},
            ]}
        rec = {"id": 1, "type": "point", "t0": 0.0, "t1": 100.0, "build_ms": 0.0,
               "lake": {"manifest_parses": 0, "segment_loads": 0, "merge_rebases": 0,
                        "snapshot_ms": 4.0, "bytes_written": 0, "live_bytes": 0},
               "fs": {"bytes_read": 0, "bytes_written": 0}}
        return res, rec

    def test_job_time_is_the_union_and_gap_clamps(self):
        res, rec = self._op()
        m = run.layer_metrics(res, [rec], [rec], {}, {}, "lake_read")
        self.assertEqual(m["exec.jobs"], 2)
        self.assertEqual(m["exec.job_ms"], 80)  # union of 10-60 and 30-90, not 110
        self.assertEqual(m["planning.analysis_ms"], 30)
        self.assertEqual(m["planning.qe_count"], 1)
        self.assertEqual(m["driver.gap_ms"], 0)  # 100 - 80 - 30 < 0
        self.assertEqual(set(m), set(run.LAYER_KEYS) | {
            f"op.{t}.{k}" for t in W.DML_TYPES + W.READ_TYPES for k in ("p50_ms", "count")}
            | {"trace.latency_p50_ms", "trace.overhead_ms"})

    def test_benchmark_json_lists_what_a_run_prints(self):
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                               "BENCHMARK.json")) as f:
            bench = json.load(f)
        res, rec = self._op()
        m = run.layer_metrics(res, [rec], [rec], {}, {}, "lake_read")
        self.assertEqual({p["name"] for p in bench["per_layer"]}, set(m))
        self.assertEqual({p["name"]: p["unit"] for p in bench["per_layer"]},
                         {k: run.unit_of(k) for k in m})
        e2e = run.latency_metrics([rec, dict(rec, t0=100.0, t1=150.0)])
        self.assertEqual({p["name"] for p in bench["end_to_end"]}, set(e2e) | {"setup_s"})

    def test_self_time_leaves_out_the_snapshot(self):
        res, _ = self._op()
        (root,) = run.spans_with_self_time(res["spans"])
        self.assertEqual(root["self_ms"], 10)  # 0-10 only: jobs 10-90, analysis 0-30
        self.assertTrue(all(c["parent"] == 1 for c in root["children"]))


class GeneratorTest(unittest.TestCase):
    def _gen(self, fn, seed, **kw):
        with tempfile.TemporaryDirectory() as d:
            ops = fn(seed, os.path.join(d, "orders.parquet"), 15000, d, **kw)
            # batch file names are the only place the temp dir shows
            return [(o["phase"], o["type"], o["table"], o["round"],
                     o["text"].replace(d, "<work>")) for o in ops]

    def test_same_seed_same_ops(self):
        for fn in (W.lake_dml, W.lake_read):
            self.assertEqual(self._gen(fn, 5, rounds=3), self._gen(fn, 5, rounds=3))
            self.assertNotEqual(self._gen(fn, 5, rounds=3), self._gen(fn, 6, rounds=3))
        mods = {"lab": ["q02", "q03"], "tpch": ["q60", "q61"]}
        self.assertEqual(W.analytic(1, mods, rounds=4), W.analytic(1, mods, rounds=4))

    def test_rounds_have_a_fixed_mix(self):
        ops = self._gen(W.lake_dml, 9, rounds=4)
        mixes = {}
        for phase, typ, _, r, _ in ops:
            if phase == "timed":
                mixes.setdefault(r, []).append(typ)
        counts = [sorted(m) for m in mixes.values()]
        self.assertEqual(len(counts), 4)
        # rounds alternate which table they compact; an odd and an even
        # round differ only in that
        self.assertEqual(counts[0], counts[2])
        self.assertEqual(counts[1], counts[3])
        for typ in W.DML_TYPES:
            self.assertIn(typ, counts[0])

    def test_reads_cover_every_type_each_round(self):
        ops = self._gen(W.lake_read, 2, rounds=2)
        timed = {r for p, _, _, r, _ in ops if p == "timed"}
        self.assertEqual(len(timed), 2)
        for r in timed:
            self.assertEqual({t for p, t, _, rr, _ in ops if p == "timed" and rr == r},
                             set(W.READ_TYPES))


if __name__ == "__main__":
    unittest.main()
