"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402


def span(i, name, parent, start, end, **kw):
    s = {"id": i, "name": name, "parent": parent, "start_s": start, "end_s": end,
         "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "shuffle_bytes": 0,
         "spill_bytes": 0, "gc_s": 0.0, "planning_ms": 0.0, "counters": {}}
    s.update(kw)
    return s


class PercentileTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 2.0, 3.0]), 2.5)
        self.assertIsNone(stats.median([]))

    def test_no_tail_below_ten_samples_beyond(self):
        # 39 samples leave 9.75 beyond p75: no percentile qualifies
        self.assertIsNone(stats.tail_percentile([1.0] * 39))
        self.assertIsNone(stats.tail_percentile([]))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(stats.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(stats.tail_percentile(list(range(100)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(199)))[0], 90.0)
        self.assertEqual(stats.tail_percentile(list(range(200)))[0], 95.0)
        self.assertEqual(stats.tail_percentile(list(range(1000)))[0], 99.0)
        self.assertEqual(stats.tail_percentile(list(range(10000)))[0], 99.9)

    def test_nearest_rank_value(self):
        values = [float(v) for v in range(1, 101)]  # 1..100, shuffled order
        values.reverse()
        self.assertEqual(stats.tail_percentile(values), (90.0, 90.0))
        self.assertEqual(stats.nearest_rank(values, 50), 50.0)
        self.assertEqual(stats.nearest_rank([7.0], 99), 7.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_overlapping_and_clipped(self):
        spans = [span(0, "root", -1, 0.0, 10.0),
                 span(1, "a", 0, 1.0, 3.0),
                 span(2, "b", 0, 2.0, 5.0),    # overlaps a: [1, 5] covered once
                 span(3, "c", 0, 9.0, 12.0),   # clipped to the parent's end
                 span(4, "d", 1, 1.5, 2.5)]    # a grandchild: not the root's
        selfs = stats.self_times(spans)
        self.assertAlmostEqual(selfs[0], 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(selfs[1], 2.0 - 1.0)
        self.assertAlmostEqual(selfs[2], 3.0)
        self.assertAlmostEqual(selfs[4], 1.0)

    def test_leaf_self_time_is_its_wall(self):
        self.assertEqual(stats.self_times([span(0, "x", -1, 2.0, 2.5)]), {0: 0.5})


class FailureTest(unittest.TestCase):
    def test_failed_frac_counts_failed_over_attempted(self):
        ops = [{"ok": True, "wall_s": 40.0}, {"ok": False, "wall_s": -1},
               {"ok": True, "wall_s": 42.0}, {"ok": True, "wall_s": 41.0}]
        self.assertEqual(stats.failed_frac(ops), 0.25)
        self.assertEqual(stats.failed_frac(ops[:1]), 0.0)
        self.assertIsNone(stats.failed_frac([]))

    def test_failed_operation_contributes_no_timing(self):
        ops = [{"ok": False, "wall_s": 0.01}, {"ok": True, "wall_s": 40.0}]
        self.assertEqual(stats.ok_walls(ops), [40.0])
        self.assertEqual(stats.median(stats.ok_walls(ops)), 40.0)


class LayerMetricsTest(unittest.TestCase):
    def test_attribution_and_coverage(self):
        trace = {"cores": 4, "wall_s": 10.0, "unattributed_jobs": 0, "spans": [
            span(0, "region_build", -1, 0.0, 10.0),
            span(1, "shape", 0, 0.5, 4.5, jobs=3, task_s=8.0, planning_ms=20.0),
            span(2, "sources.scan", 0, 4.5, 5.0, counters={"sources.rows": 19.0}),
            span(3, "tilebuild", 0, 5.0, 7.0, task_s=4.0, counters={"tilebuild.tiles": 5.0}),
            span(4, "tilebuild", 0, 7.0, 9.0, task_s=4.0, counters={"tilebuild.tiles": 6.0}),
        ]}
        m = stats.layer_metrics(trace)
        self.assertEqual(m["shape.wall_s"], 4.0)
        self.assertEqual(m["shape.sched_s"], 4.0 - 8.0 / 4)
        self.assertEqual(m["shape.jobs"], 3)
        self.assertEqual(m["tilebuild.wall_s"], 4.0)
        self.assertEqual(m["tilebuild.tiles"], 11.0)
        self.assertEqual(m["sources.rows"], 19.0)
        self.assertEqual(m["spark.task_s"], 16.0)
        self.assertAlmostEqual(m["trace.coverage"], 8.5 / 10.0)
        self.assertEqual(m["mbtiles.wall_s"], 0)
        self.assertEqual(m["incremental.contributors_per_changed"], 0.0)


class GeneratorTest(unittest.TestCase):
    def test_changed_cells_have_a_seed_independent_footprint(self):
        cols, _, left, bottom, cw, ch = gen.grid(100)

        def z10(cell):
            x0, y0 = left + (cell % cols) * cw, bottom + (cell // cols) * ch
            corners = {gen.tile(x, y, 10) for x in (x0, x0 + cw) for y in (y0, y0 + ch)}
            self.assertEqual(len(corners), 1)  # wholly inside one z10 tile
            return corners.pop()

        footprints = set()
        for seed in range(1, 6):
            cells = gen.changed_cells(seed, 100)
            tiles = [z10(c) for c in cells]
            self.assertEqual(len(set(tiles)), len(cells))
            self.assertTrue(all(sum(t) % 2 == 0 for t in tiles))
            self.assertFalse(any(gen.bubble_kept_below_z8(c) for c in cells))
            footprints.add(frozenset(tiles))
        self.assertEqual(len(footprints), 1)
        self.assertGreaterEqual(len(gen.changed_cells(1, 100)), 3)
        self.assertEqual(gen.changed_cells(7, 100), gen.changed_cells(7, 100))
        self.assertNotEqual(gen.changed_cells(7, 100), gen.changed_cells(8, 100))

    def test_bubble_thinning_rate(self):
        kept = sum(gen.bubble_kept_below_z8(c) for c in range(100000))
        self.assertAlmostEqual(kept / 100000, 2.5 ** -3, delta=0.005)

    def test_bumped_cell_differs_only_in_population(self):
        a = gen.cell_lines(3, 5, 0).splitlines()
        b = gen.cell_lines(3, 5, 1).splitlines()
        self.assertEqual(len(a), len(gen.YEARS))
        for la, lb in zip(a, b):
            fa, fb = la.split(","), lb.split(",")
            self.assertEqual(int(fb[4]), int(fa[4]) + 1)
            self.assertEqual(fa[:4] + fa[5:], fb[:4] + fb[5:])


if __name__ == "__main__":
    unittest.main()
