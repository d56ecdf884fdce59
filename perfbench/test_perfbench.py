"""Tests of the benchmark's own parts that need no JVM.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import copy
import json
import os
import tempfile
import unittest

import compare
import gen
import run


class GeneratorTest(unittest.TestCase):
    def _digest(self, fn, seed, **kw):
        with tempfile.TemporaryDirectory() as d:
            props = fn(d, seed, **kw)
            return run.tree_digest(d), props

    def _check(self, fn, **kw):
        a, pa = self._digest(fn, 1, **kw)
        b, pb = self._digest(fn, 1, **kw)
        c, _ = self._digest(fn, 2, **kw)
        self.assertEqual(a, b, "same seed must give identical files")
        self.assertEqual(pa, pb)
        self.assertNotEqual(a, c, "another seed must give different files")
        return pa

    def test_curate_corpus(self):
        props = self._check(gen.corpus, n_docs=600)
        self.assertEqual(props["docs"], 600)
        self.assertAlmostEqual(props["pile_doc_share"], 1 / 3, places=2)
        self.assertGreaterEqual(props["largest_pile"], 2)

    def test_training_set(self):
        props = self._check(gen.training, n_examples=2000)
        self.assertEqual(props["train_examples"] + props["holdout_examples"], 2000)
        self.assertGreater(props["class_balance"], 0.5)

    def test_query_mix_tables(self):
        props = self._check(gen.tables, rel_scale=0.01, vec_scale=0.05)
        self.assertEqual(props["lineitems"], 6000)

    def test_pile_members_stay_near_their_root(self):
        import numpy as np
        rng = np.random.default_rng(0)
        tri = lambda d: {tuple(d[i:i + 3]) for i in range(len(d) - 2)}
        jaccards = []
        for _ in range(200):
            root = gen._random_doc(rng, gen.WIDE_VOCAB, gen.WIDE_P, *gen.PILE_ROOT_LEN)
            member = gen._pile_member(rng, root, gen.WIDE_VOCAB, gen.WIDE_P)
            a, b = tri(root), tri(member)
            jaccards.append(len(a & b) / len(a | b))
            run_len = longest = 0
            for x, y in zip(root, member):
                run_len = run_len + 1 if x == y else 0
                longest = max(longest, run_len)
            self.assertLess(longest, 20, "no 20-word span may be shared with the root")
        above = sum(j > 0.5 for j in jaccards) / len(jaccards)
        self.assertGreater(above, 0.9, "members must clear the 0.5 cluster threshold")


class CompareTest(unittest.TestCase):
    BASE = {"fingerprint": {"nproc": 4, "spark_master": "local[4]", "heap": "-Xmx4g",
                            "seed": 1, "git_commit": "a", "source_digest": "x"},
            "metrics": {"op_p50_s": {"value": 2.0, "unit": "s"}}}

    def test_same_setup_compares(self):
        new = copy.deepcopy(self.BASE)
        new["fingerprint"].update(git_commit="b", source_digest="y")
        new["metrics"]["op_p50_s"]["value"] = 1.0
        self.assertEqual(compare.compare(self.BASE, new), [("op_p50_s", "s", 2.0, 1.0, 0.5)])

    def test_different_setup_refuses(self):
        new = copy.deepcopy(self.BASE)
        new["fingerprint"].update(nproc=32, spark_master="local[32]")
        with self.assertRaisesRegex(ValueError, "nproc"):
            compare.compare(self.BASE, new)


class ContractTest(unittest.TestCase):
    def test_benchmark_json(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in b["workloads"]],
                         ["curate", "train_dp", "query_mix"])
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertIn("setup_s", names)


if __name__ == "__main__":
    unittest.main()
