"""Tests for the benchmark's own arithmetic and generators.

    python3 -m unittest discover -s perfbench/tests
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        for n in range(1, 1001):
            xs = list(range(n))
            for q in (0.5, 0.9, 0.95, 0.99):
                try:
                    p = M.percentile(xs, q)
                except ValueError:
                    continue
                self.assertGreaterEqual(sum(x > p for x in xs), 10, (n, q))

    def test_nearest_rank(self):
        xs = list(range(1, 263))  # one full catalog pass: 13 samples beyond p95
        self.assertEqual(M.percentile(xs, 0.95), 249)  # ceil(0.95 * 262)
        self.assertEqual(M.percentile(xs, 0.5), 131)

    def test_sample_sizes_needed(self):
        self.assertEqual(M.percentile(range(200), 0.95), 189)
        with self.assertRaises(ValueError):
            M.percentile(range(199), 0.95)
        self.assertEqual(M.percentile(range(20), 0.5), 9)
        with self.assertRaises(ValueError):
            M.percentile(range(19), 0.5)

    def test_order_does_not_matter(self):
        self.assertEqual(M.percentile([5, 1, 4, 2, 3] * 5, 0.5),
                         M.percentile(sorted([5, 1, 4, 2, 3] * 5), 0.5))


class IntervalTest(unittest.TestCase):
    def test_union_counts_overlap_once(self):
        self.assertAlmostEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(M.union_length([(0, 10), (2, 3), (4, 5)]), 10.0)
        self.assertEqual(M.union_length([]), 0.0)

    def test_driver_gap_uses_union_not_sum(self):
        # two concurrent jobs, as core.Par / PipelineE2E.inParallel run them
        op = {"t0": 0.0, "t1": 4.0}
        jobs = [{"t0": 1.0, "t1": 3.0}, {"t0": 1.5, "t1": 3.5}, {"t0": 1.2, "t1": 2.0}]
        gap = M.driver_gap(op, jobs)
        self.assertAlmostEqual(gap, 1.5)  # 4 - union 2.5
        self.assertLess(4.0 - sum(j["t1"] - j["t0"] for j in jobs), 0)  # a sum goes negative

    def test_self_time_subtracts_union_of_children(self):
        span = {"t0": 10.0, "t1": 20.0}
        kids = [{"t0": 11.0, "t1": 15.0}, {"t0": 14.0, "t1": 16.0}, {"t0": 19.0, "t1": 25.0}]
        # union inside the span: [11, 16] + [19, 20] = 6
        self.assertAlmostEqual(M.self_time(span, kids), 4.0)
        self.assertAlmostEqual(M.self_time(span, []), 10.0)


class AttachTest(unittest.TestCase):
    def test_jobs_go_to_the_span_open_at_their_start(self):
        spans = [
            {"id": 0, "parent": -1, "kind": "op", "t0": 0.0, "t1": 10.0},
            {"id": 1, "parent": 0, "kind": "build", "t0": 0.0, "t1": 4.0},
            {"id": 2, "parent": 0, "kind": "action", "t0": 4.0, "t1": 10.0},
        ]
        jobs = [{"id": 7, "t0": 1.0}, {"id": 8, "t0": 4.5}, {"id": 9, "t0": 11.0},
                {"id": 10, "t0": 3.999}]
        self.assertEqual(M.attach_jobs(spans, jobs), {7: 1, 8: 2, 9: None, 10: 1})

    def test_cut_jobs_and_loop_batches(self):
        self.assertTrue(M.is_cut_job("localCheckpoint at Iterative.scala:34"))
        self.assertTrue(M.is_cut_job("count at Cuts.scala:12"))
        self.assertFalse(M.is_cut_job("count at Dedup.scala:90"))
        sites = ["count at ShortestPath.scala:200"] + ["count at ShortestPath.scala:319"] * 6
        self.assertEqual(M.loop_batches(sites, "ShortestPath.scala"), 6)


class GeneratorTest(unittest.TestCase):
    def test_tables_deterministic_per_seed(self):
        a, b, c = gen.tables(3, 0.001), gen.tables(3, 0.001), gen.tables(4, 0.001)
        self.assertEqual(sorted(a), sorted(gen.TABLES))
        for t in gen.TABLES:
            self.assertTrue(a[t].equals(b[t]), t)
            self.assertEqual(a[t].num_rows, c[t].num_rows, t)
        for t in ("customer", "orders", "lineitem", "events", "documents", "embeddings"):
            self.assertFalse(a[t].equals(c[t]), t)

    def test_documents_have_near_duplicates(self):
        docs = gen.tables(5, 0.01)["documents"].to_pydict()
        texts = set(docs["text"])
        dups = [t for t in docs["text"] if t.endswith(" dup") and t[:-4] in texts]
        self.assertGreater(len(dups), 0)
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])

    def test_grid_deterministic_per_seed(self):
        a, b, c = run.grid_edges(1, 6), run.grid_edges(1, 6), run.grid_edges(2, 6)
        self.assertTrue(a.equals(b))
        self.assertFalse(a.equals(c))
        self.assertEqual(a.num_rows, 2 * 6 * 5)

    def test_pass_orders_deterministic_per_seed(self):
        a, b, c = (run.pass_orders("catalog", s) for s in (1, 1, 2))
        self.assertEqual(a, b)
        self.assertNotEqual(a, c)
        self.assertTrue(all(sorted(p) == sorted(run.CATALOG) for p in a))

    def test_number_count_seed_varies(self):
        self.assertEqual(run.number_count_seed(9), run.number_count_seed(9))
        self.assertNotEqual(run.number_count_seed(9), run.number_count_seed(10))


if __name__ == "__main__":
    unittest.main()
