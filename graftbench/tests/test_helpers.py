"""Tests of the benchmark's pure helpers.

    python3 -m unittest discover -s graftbench/tests
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import stats  # noqa: E402


def span(id_, parent, layer, start, end, it=1):
    return {"id": id_, "parent": parent, "layer": layer, "name": layer,
            "iter": it, "thread": "main", "start": start, "end": end}


def job(id_, span_id, start, end, tasks=1, cpu=0.5):
    return {"id": id_, "span": span_id, "start": start, "end": end,
            "tasks": tasks, "cpu_s": cpu, "shuffle_mb": 1.0, "spill_mb": 0.0}


class Medians(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])


def self_time(span_, children):
    return sum(e - b for b, e in stats.self_intervals(span_, children))


class SelfTime(unittest.TestCase):
    def test_children_are_subtracted_once_where_they_overlap(self):
        parent = span(1, 0, "queries", 0.0, 10.0)
        kids = [span(2, 1, "features", 1.0, 3.0),
                span(3, 1, "signals", 2.0, 5.0),
                span(4, 1, "ml", 7.0, 8.0)]
        self.assertAlmostEqual(self_time(parent, kids), 10.0 - 4.0 - 1.0)
        self.assertAlmostEqual(self_time(kids[0], []), 2.0)

    def test_child_outside_parent_is_clipped(self):
        self.assertAlmostEqual(
            self_time(span(1, 0, "ml", 0.0, 2.0), [span(2, 1, "ml", 1.5, 4.0)]), 1.5)

    def test_layer_wall_sums_to_top_level_span_time(self):
        spans = [span(1, 0, "backtest", 0.0, 4.0),
                 span(2, 1, "features", 0.5, 1.5),
                 span(3, 0, "ml", 5.0, 6.0)]
        m = stats.layer_rollup(spans, [])
        total = sum(m["%s.wall_s" % l] for l in stats.SPAN_LAYERS)
        self.assertAlmostEqual(total, 5.0)
        self.assertAlmostEqual(m["backtest.wall_s"], 3.0)

    def test_gap_is_self_time_without_own_jobs(self):
        spans = [span(1, 0, "fundamentals", 0.0, 10.0)]
        jobs = [job(1, 1, 2.0, 4.0), job(2, 1, 3.0, 6.0, tasks=3)]
        m = stats.layer_rollup(spans, jobs)
        self.assertAlmostEqual(m["fundamentals.gap_s"], 6.0)
        self.assertEqual(m["fundamentals.jobs"], 2)
        self.assertEqual(m["fundamentals.tasks"], 4)
        self.assertAlmostEqual(m["fundamentals.exec_cpu_s"], 1.0)

    def test_untagged_job_goes_to_innermost_open_span(self):
        spans = [span(1, 0, "queries", 0.0, 10.0), span(2, 1, "ml", 2.0, 5.0)]
        owner = stats.assign_jobs(spans, [job(7, 0, 3.0, 4.0),
                                          job(8, 1, 3.0, 4.0)])
        self.assertEqual(owner, {7: 2, 8: 1})


class GeneratorDeterminism(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def digest(self, workload, seed, name):
        d = os.path.join(self.tmp, name)
        gen.generate(d, workload, seed)
        return gen.digest(d)

    def test_same_seed_same_digest_other_seed_other_digest(self):
        for w in sorted(gen.PARAMS):
            a = self.digest(w, 7, w + "a")
            self.assertEqual(a, self.digest(w, 7, w + "b"))
            self.assertNotEqual(a, self.digest(w, 8, w + "c"))

    def test_research_history_fills_the_longest_window(self):
        d = os.path.join(self.tmp, "r")
        params, _ = gen.generate(d, "research_daily", 1)
        self.assertGreaterEqual(params["days"], 250)

    def test_corpus_truth_is_injected(self):
        d = os.path.join(self.tmp, "c")
        params, truth = gen.generate(d, "corpus_curation", 1)
        self.assertEqual(len(truth["dup_clusters"]), params["dup_clusters"])
        self.assertEqual(len(truth["contaminated"]), params["contaminated"])
        for dst, src in truth["contaminated"]:
            self.assertLess(dst % 20, 18)
            self.assertGreaterEqual(src % 20, 18)


if __name__ == "__main__":
    unittest.main()
