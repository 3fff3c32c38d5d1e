#!/usr/bin/env python3
"""Tests for the benchmark's own arithmetic and input generation.

    python3 perfbench/test_bench.py          # from the repository root

The generation test builds the program (as run.py does) and starts one
JVM; the others are pure Python.
"""
import hashlib
import os
import re
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 leaves exactly 10 above
        self.assertEqual(metrics.tail_percentile(xs), (90.0, 90))
        self.assertEqual(metrics.tail_percentile(xs[:99])[0], 75.0)

    def test_too_few_samples(self):
        self.assertIsNone(metrics.tail_percentile(range(19)))
        self.assertEqual(metrics.tail_percentile(range(20))[0], 50.0)

    def test_highest_qualifying(self):
        self.assertEqual(metrics.tail_percentile(range(1000))[0], 99.0)
        self.assertEqual(metrics.tail_percentile(range(10000))[0], 99.9)

    def test_order_free(self):
        xs = [5, 1, 4, 2, 3] * 20
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(sorted(xs)))


class UnionOfIntervals(unittest.TestCase):
    def test_overlaps_count_once(self):
        self.assertEqual(metrics.union_length([(0, 2), (1, 3), (5, 6)]), 4)

    def test_nested_and_touching(self):
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)

    def test_clipped_to_window(self):
        self.assertEqual(metrics.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(metrics.union_length([(11, 12)], 0, 10), 0)

    def test_empty(self):
        self.assertEqual(metrics.union_length([]), 0)

    def test_driver_gap_is_span_minus_busy_union(self):
        res = {"spans": [{"id": 0, "name": "llm.pairs", "label": "",
                          "parent": -1, "pass": 1, "t0": 0.0, "t1": 10.0,
                          "ok": True}],
               "jobs": [{"id": 0, "group": "pb-0", "t0": 0.5, "t1": 6.0},
                        {"id": 1, "group": "", "t0": 7.0, "t1": 7.5}],
               "tasks": [{"group": "pb-0", "t0": 1.0, "t1": 4.0, "run_s": 3.0,
                          "shuffle_write": 2e6, "output": 0, "input": 0},
                         {"group": "pb-0", "t0": 2.0, "t1": 6.0, "run_s": 4.0,
                          "shuffle_write": 0, "output": 1e6, "input": 0}],
               "counters": []}
        out = metrics.per_layer(res, [{"pass": 1, "t0": 0, "t1": 10}], [10.0])
        self.assertEqual(out["llm.pairs.jobs"], 1)
        self.assertEqual(out["llm.pairs.tasks"], 2)
        self.assertEqual(out["llm.pairs.task_busy_s"], 7.0)
        self.assertEqual(out["llm.pairs.driver_gap_s"], 5.0)  # 10 - |[1,6]|
        self.assertEqual(out["llm.pairs.shuffle_write_mb"], 2.0)
        self.assertEqual(out["unattributed_jobs"], 1)
        self.assertEqual(out["trace_overhead_ratio"], 1.0)


class SelfTime(unittest.TestCase):
    def test_duration_minus_child_cover(self):
        # children cover [1,5] and [8,10] of the span [0,10]
        self.assertEqual(metrics.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children(self):
        self.assertEqual(metrics.self_time((2, 7), []), 5)


def digest(root):
    """{file: sha256} under root; Spark's random part-file ids removed."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".crc") or f == "_SUCCESS":
                continue
            rel = os.path.relpath(os.path.join(d, f), root)
            rel = re.sub(r"-[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "", rel)
            with open(os.path.join(d, f), "rb") as fh:
                out[rel] = hashlib.sha256(fh.read()).hexdigest()
    return out


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_bytes_other_seed_differs(self):
        repo = os.path.dirname(HERE)
        cp = run.build(repo)
        root = os.path.join(repo, ".bench_tmp", f"test-{os.getpid()}")
        shutil.rmtree(root, ignore_errors=True)
        try:
            specs = [f"{w}:{seed}:{root}/{w}-{tag}" for w in run.WORKLOADS
                     for seed, tag in ((7, "a"), (7, "b"), (8, "c"))]
            run.jvm(cp, root, ["generate", root, str(run.cpus())] + specs)
            for w in run.WORKLOADS:
                a, b, c = (digest(f"{root}/{w}-{t}") for t in "abc")
                self.assertTrue(a, w)
                self.assertEqual(a, b, f"{w}: same seed, different inputs")
                self.assertNotEqual(a, c, f"{w}: other seed, same inputs")
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
