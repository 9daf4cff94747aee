"""Tests for the benchmark's own code.

Run from the repository root: python3 -m unittest discover -s perfbench/tests
"""
import ast
import os
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import check  # noqa: E402
import gen  # noqa: E402

CHECK_ORACLE = os.path.join(HERE, "..", "..", "tools", "check_oracle.py")


def oracle_canon():
    """`canon` as defined in tools/check_oracle.py, loaded without
    running that script's top level."""
    with open(CHECK_ORACLE) as f:
        tree = ast.parse(f.read())
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "canon")
    ns = {"pd": pd, "np": np}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), CHECK_ORACLE, "exec"), ns)
    return ns["canon"]


def sample_frame(rng, n=200):
    return pd.DataFrame({
        "b_int": rng.integers(0, 5, n),
        "a_float": np.where(rng.random(n) < 0.1, np.nan, rng.integers(0, 4, n) / 4),
        "c_str": rng.choice(["x", "y", "z"], n).astype(object),
    })


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_tables_other_seed_differs(self):
        for w, fn in gen.GENERATORS.items():
            with self.subTest(workload=w):
                a, sa = fn(7, gen.PARAMS[w])
                b, sb = fn(7, gen.PARAMS[w])
                c, _ = fn(8, gen.PARAMS[w])
                self.assertEqual(sa, sb)
                for name in a:
                    self.assertTrue(a[name].equals(b[name]), name)
                self.assertFalse(all(a[n].equals(c[n]) for n in a))

    def test_sizes_do_not_depend_on_the_seed_where_fixed(self):
        for seed in (1, 2):
            tables, _ = gen.gen_store_lifecycle(seed, gen.PARAMS["store_lifecycle"])
            self.assertEqual(tables["documents"].num_rows, gen.PARAMS["store_lifecycle"]["docs"])
            tables, _ = gen.gen_knn_graph(seed, gen.PARAMS["knn_graph"])
            self.assertEqual(tables["embeddings"].num_rows, gen.PARAMS["knn_graph"]["vectors"])

    def test_written_once_and_reused(self):
        with tempfile.TemporaryDirectory() as d:
            out, meta = gen.generate("index_lifecycle", 3, d)
            part = os.path.join(out, "knn_graph", "embeddings.parquet", "part-00000.parquet")
            mtime = os.stat(part).st_mtime_ns
            out2, meta2 = gen.generate("index_lifecycle", 3, d)
            self.assertEqual((out, meta), (out2, meta2))
            self.assertEqual(mtime, os.stat(part).st_mtime_ns)
            self.assertEqual(meta["params"]["knn_graph"], gen.PARAMS["knn_graph"])
            self.assertEqual(meta["rows"], sum(s["rows"] for s in meta["sizes"].values()))

    def test_planted_properties(self):
        _, s = gen.gen_cellphe_features(1, gen.PARAMS["cellphe_features"])
        self.assertAlmostEqual(s["frac_below_min_area"], 0.10, delta=0.01)
        self.assertLess(s["tracks_below_min_obs"], 0.1 * s["tracks"])
        _, s = gen.gen_cellphe_tracking(1, gen.PARAMS["cellphe_tracking"])
        self.assertGreater(s["divisions"], 0)
        self.assertGreater(s["occlusions"], 0)
        self.assertGreater(s["max_spots_per_frame"], 10 * s["median_spots_per_frame"])

    def test_registry_terms_in_vocabulary(self):
        vocab = gen.vocabulary(gen.PARAMS["store_lifecycle"]["vocab"])
        for term in gen.REGISTRY_TERMS:
            self.assertIn(term, vocab)
        self.assertEqual(len(vocab), len(set(vocab)))


@unittest.skipUnless(os.path.exists(CHECK_ORACLE), "tools/check_oracle.py not present")
class HashRuleTest(unittest.TestCase):
    def test_canon_matches_check_oracle(self):
        ref = oracle_canon()
        rng = np.random.default_rng(0)
        for _ in range(5):
            df = sample_frame(rng)
            pd.testing.assert_frame_equal(check.canon(df.copy()), ref(df.copy()))

    def test_hash_ignores_row_and_column_order_only(self):
        rng = np.random.default_rng(1)
        df = sample_frame(rng)
        shuffled = df.sample(frac=1.0, random_state=3)[["c_str", "a_float", "b_int"]]
        self.assertEqual(check.frame_hash(df), check.frame_hash(shuffled))
        changed = df.copy()
        changed.loc[0, "b_int"] += 1
        self.assertNotEqual(check.frame_hash(df), check.frame_hash(changed))

    def test_compare_follows_check_oracle(self):
        rng = np.random.default_rng(2)
        df = sample_frame(rng)
        self.assertIsNone(check.compare(df, df.sample(frac=1.0, random_state=4)))
        as_float = df.assign(b_int=df.b_int.astype(float))
        self.assertIn("dtype", check.compare(df, as_float))
        self.assertIn("rows", check.compare(df, df.iloc[1:]))


if __name__ == "__main__":
    unittest.main()
