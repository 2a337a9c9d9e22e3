"""Tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import numpy as np

import analysis
import gen
import run


def span(id, parent, name, start, end, pass_=1, **stats):
    return {"id": id, "parent": parent, "name": name, "pass": pass_,
            "start_ns": int(start * 1e9), "end_ns": int(end * 1e9),
            "stats": stats}


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_keeps_gaps(self):
        s = 1_000_000_000
        self.assertAlmostEqual(
            analysis.union_s([(0, 2 * s), (1 * s, 3 * s), (5 * s, 6 * s)]),
            4.0)
        self.assertEqual(analysis.union_s([]), 0.0)

    def test_nested_children_are_subtracted(self):
        spans = [span(1, 0, "pass", 0, 10), span(2, 1, "q", 1, 4),
                 span(3, 2, "build", 1, 2), span(4, 2, "execute", 2, 4)]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st[1], 7.0)
        self.assertAlmostEqual(st[2], 0.0)
        self.assertAlmostEqual(st[3], 1.0)

    def test_overlapping_pool_children_count_once(self):
        spans = [span(1, 0, "pass", 0, 10),
                 span(2, 1, "pipeline.validate_count", 1, 5),
                 span(3, 1, "pipeline.validate_count", 2, 6)]
        self.assertAlmostEqual(analysis.self_times(spans)[1], 5.0)

    def test_top_self_times_take_the_median_over_passes(self):
        spans = [span(1, 0, "pass", 0, 10, pass_=2),
                 span(2, 1, "q", 0, 4, pass_=2),
                 span(3, 0, "pass", 0, 6, pass_=4),
                 span(4, 3, "q", 0, 5, pass_=4)]
        top = dict(analysis.top_self_times(spans, [2, 4]))
        self.assertAlmostEqual(top["q"], 4.5)
        self.assertAlmostEqual(top["pass"], 3.5)

    def test_children_are_clipped_to_the_parent(self):
        spans = [span(1, 0, "pass", 0, 2), span(2, 1, "late", 1, 5)]
        self.assertAlmostEqual(analysis.self_times(spans)[1], 1.0)


class Percentiles(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(analysis.reportable_percentile(19))
        self.assertEqual(analysis.reportable_percentile(20), 50)
        self.assertEqual(analysis.reportable_percentile(40), 75)
        self.assertEqual(analysis.reportable_percentile(100), 90)
        self.assertEqual(analysis.reportable_percentile(999), 95)
        self.assertEqual(analysis.reportable_percentile(1000), 99)
        self.assertEqual(analysis.reportable_percentile(10_000), 99.9)

    def test_percentile_interpolates(self):
        self.assertAlmostEqual(analysis.percentile([4.0, 1.0, 3.0, 2.0], 50),
                               2.5)
        self.assertEqual(analysis.percentile([5.0], 90), 5.0)


class Accounting(unittest.TestCase):
    def passes(self, run_s):
        return [span(1, 0, "pass", 0, 3),
                span(2, 1, "q1", 0, 1.0),
                span(3, 2, "build", 0, 0.4, jobs=2, task_s=0.5),
                span(4, 2, "execute", 0.4, 1.0, **{
                    "planner.analysis_s": 0.01,
                    "planner.optimization_s": 0.04,
                    "planner.planning_s": 0.05, "planner.run_s": run_s,
                    "task_s": 1.2, "jobs": 1})]

    def test_parts_sum_to_wall(self):
        (row,) = analysis.query_accounting(self.passes(0.5))
        self.assertAlmostEqual(row["residual"], 0.0)
        self.assertTrue(analysis.within_tolerance(row))

    def test_unaccounted_time_is_flagged(self):
        (row,) = analysis.query_accounting(self.passes(0.3))
        self.assertAlmostEqual(row["residual"], 0.2)
        self.assertFalse(analysis.within_tolerance(row))

    def test_layer_totals(self):
        m = analysis.pass_layers(self.passes(0.5), cores=4)
        self.assertAlmostEqual(m["operators.build_s"], 0.4)
        self.assertEqual(m["operators.build_jobs"], 2)
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertAlmostEqual(m["planner.planning_s"], 0.05)
        # floor = wall - task_s / cores = 1.0 - (0.5 + 1.2) / 4
        self.assertAlmostEqual(m["scheduler.floor_s"], 0.575)

    def test_chunks_are_each_loads_largest_job(self):
        spans = [span(1, 0, "pass", 0, 3),
                 span(2, 1, "pipeline.load", 0, 1, tasks=2, max_job_tasks=1),
                 span(3, 1, "pipeline.load", 1, 2, tasks=6, max_job_tasks=5)]
        self.assertEqual(analysis.pass_layers(spans, cores=4)
                         ["sources.chunks"], 6)


class Seeds(unittest.TestCase):
    SPECS = ({"scale": 0.001, "tables": gen.ALL},
             {"scale": 0.001, "tables": gen.TPCH, "gap_share": 0.05,
              "order_key_stride": 32, "shuffle": True, "csv": True})

    def fingerprint(self, spec, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.generate(spec, seed, d)
            return gen.fingerprint(d)

    def test_same_seed_same_bytes(self):
        for spec in self.SPECS:
            self.assertEqual(self.fingerprint(spec, 7),
                             self.fingerprint(spec, 7))

    def test_other_seed_other_bytes(self):
        for spec in self.SPECS:
            self.assertNotEqual(self.fingerprint(spec, 7),
                                self.fingerprint(spec, 8))

    def test_lineitem_key_is_unique_and_gap_drops_orders(self):
        rng = np.random.default_rng(3)
        t = gen.tpch(rng, 0.001, gap_share=0.1)
        keys = list(zip(t["lineitem"]["l_orderkey"].to_pylist(),
                        t["lineitem"]["l_linenumber"].to_pylist()))
        self.assertEqual(len(keys), len(set(keys)))
        self.assertEqual(t["orders"].num_rows, 1500 - 150)
        orders = set(t["orders"]["o_orderkey"].to_pylist())
        self.assertTrue({k for k, _ in keys} <= orders)

    def test_migration_orders_span_several_chunks_around_the_gap(self):
        spec = run.WORKLOADS["migrate_tpch"]["gen"]
        t = gen.tpch(np.random.default_rng(5), spec["scale"],
                     spec["gap_share"], spec["order_key_stride"])
        keys = np.sort(t["orders"]["o_orderkey"].to_numpy())
        chunk = 100_000  # the reference chunk_size the migration uses
        self.assertGreaterEqual((keys[-1] - keys[0]) // chunk + 1, 4)
        # the gap is the one step wider than the stride, and it lies
        # strictly inside the key span the chunk plan covers
        steps = np.diff(keys)
        (gap,) = np.flatnonzero(steps != spec["order_key_stride"])
        self.assertTrue(0 < gap < len(steps) - 1)

    def test_files_split_by_table(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate({"scale": 0.01, "tables": ("lineitem", "region")},
                         1, d)
            self.assertEqual(
                len(os.listdir(os.path.join(d, "lineitem.parquet"))), 16)
            self.assertEqual(
                len(os.listdir(os.path.join(d, "region.parquet"))), 1)


if __name__ == "__main__":
    unittest.main()
