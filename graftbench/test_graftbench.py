"""Tests for the benchmark's own logic: seeded generators, the
percentile rule, metric names, the expected MapReduce outputs and span
self times. Run from the checkout root:

    python3 -m unittest discover -s graftbench -p 'test_*.py'
"""
import json
import os
import re
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import mixes  # noqa: E402

SMALL_CORPUS = {"files": 3, "tokens_per_file": 2000, "vocab_size": 300}


class Seeded(unittest.TestCase):
    def corpus(self, seed):
        with tempfile.TemporaryDirectory() as d:
            return gen.digest(gen.corpus(seed, d, **SMALL_CORPUS))

    def test_corpus_same_seed_same_bytes(self):
        self.assertEqual(self.corpus(7), self.corpus(7))

    def test_corpus_other_seed_other_bytes(self):
        self.assertNotEqual(self.corpus(7), self.corpus(8))

    def test_orders_follow_the_seed(self):
        lines = mixes.WORKLOADS["query_mix"]
        self.assertEqual(gen.permutation(5, lines), gen.permutation(5, lines))
        self.assertNotEqual(gen.permutation(5, lines), gen.permutation(6, lines))
        self.assertEqual(sorted(gen.permutation(5, lines)), sorted(lines))


class Percentiles(unittest.TestCase):
    def test_rule_leaves_ten_samples_beyond(self):
        self.assertTrue(layers.percentile_ok(100, 0.9))
        self.assertFalse(layers.percentile_ok(99, 0.9))
        self.assertTrue(layers.percentile_ok(40, 0.75))
        self.assertFalse(layers.percentile_ok(39, 0.75))
        self.assertTrue(layers.percentile_ok(20, 0.5))
        self.assertFalse(layers.percentile_ok(19, 0.5))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(layers.percentile(xs, 0.9), 90)
        self.assertEqual(layers.percentile(xs, 0.5), 50)


class Names(unittest.TestCase):
    NAME = re.compile(r"[A-Za-z0-9_.-]+")

    def test_metric_names(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        names += [w["name"] for w in bench["workloads"]]
        for n in names + list(layers.UNITS):
            self.assertRegex(n, self.NAME)
            self.assertLessEqual(len(n), 64)
        self.assertEqual(len(names), len(set(names)))
        self.assertEqual([m["name"] for m in bench["end_to_end"]], layers.GATED)
        self.assertEqual([m["name"] for m in bench["per_layer"]], list(layers.PER_LAYER))
        self.assertEqual(sorted(w["name"] for w in bench["workloads"]),
                         sorted(mixes.WORKLOADS))


class ExpectedMr(unittest.TestCase):
    def test_counts_and_postings(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a.txt"), os.path.join(d, "b.txt")
            with open(a, "w") as fh:
                fh.write("The cat, the DOG.\n42 cat\n")
            with open(b, "w") as fh:
                fh.write("dog (dog)\n")
            wc, index, tokens = checks.expected_mr([a, b])
        self.assertEqual(tokens, 8)
        self.assertEqual(wc, b"42\t1\ncat\t2\ndog\t3\nthe\t2\n")
        ua, ub = "file://" + a, "file://" + b
        self.assertEqual(index.decode().splitlines(), [
            f"42\t{ua}", f"cat\t{ua}", f"dog\t{ua},{ub}", f"the\t{ua}"])


class SelfTimes(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        op = "timed:1:q"
        spans = [
            {"name": "op", "start_ms": 0, "end_ms": 100, "parent": -1, "op": op},
            {"name": "entry.build", "start_ms": 10, "end_ms": 60, "parent": 0, "op": op},
            # listener spans: two overlapping jobs inside the build
            {"name": "exec.job", "start_ms": 20, "end_ms": 40, "parent": -2, "op": op},
            {"name": "exec.job", "start_ms": 30, "end_ms": 50, "parent": -2, "op": op},
        ]
        self.assertEqual(layers.resolve_parents(spans), [-1, 0, 1, 1])
        st = layers.self_times({"spans": spans, "passes": 1})
        self.assertAlmostEqual(st["op"][2], 0.050)
        self.assertAlmostEqual(st["entry.build"][2], 0.020)
        self.assertAlmostEqual(st["exec.job"][1], 0.040)


if __name__ == "__main__":
    unittest.main()
