"""Tests of the benchmark's output checks: each check accepts a correct
result and rejects a deliberately corrupted one.

    python3 -m unittest perfbench/test_checks.py

The correct results are built from the oracles themselves (no JVM is
started); each test then corrupts one thing the way a faulty program
could.
"""

import copy
import os
import random
import sys
import tempfile
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import oracle  # noqa: E402


class BdtChecks(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.cfg = gen.generate("bdt_query", 5, cls.tmp.name)
        con = oracle._duck(cls.tmp.name)
        results = []
        for p in cls.cfg["mix"]:
            got = {}
            for step, (sql, _) in oracle.oracle_sql(p).items():
                cols, rows = oracle._q(con, sql)
                if p["kind"] == "pernode_q6":
                    rev, n = rows[0]
                    got[step] = {"columns": ["_node"] + cols,
                                 "rows": [[0, rev * 0.25, n // 4], [1, rev * 0.75, n - n // 4]]}
                elif p["kind"] == "pp_scalar":
                    got[step] = [[0, rows[0][0] * 0.5], [1, rows[0][0] * 0.5]]
                elif p["kind"] == "dims":
                    got[step] = rows
                else:
                    got[step] = {"columns": cols, "rows": list(reversed(rows))
                                 if p["kind"] != "keyby_query" else rows}
            results.append([got])
        cls.res = {"outputs": {"results": results}}

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def entry(self, kind):
        return next(i for i, p in enumerate(self.cfg["mix"]) if p["kind"] == kind)

    def corrupt(self, kind, f):
        res = copy.deepcopy(self.res)
        f(res["outputs"]["results"][self.entry(kind)][0])
        return oracle.check_bdt(self.cfg, res)

    def test_correct_result_passes(self):
        self.assertEqual(oracle.check_bdt(self.cfg, self.res), [])

    def test_changed_aggregate_fails(self):
        def f(got):
            got["query"]["rows"][0][2] *= 1.01
        self.assertTrue(self.corrupt("q1_by", f))

    def test_dropped_row_fails(self):
        self.assertTrue(self.corrupt("keyby_table", lambda g: g["query"]["rows"].pop()))

    def test_keyby_order_fails(self):
        self.assertTrue(self.corrupt("keyby_query", lambda g: g["query"]["rows"].reverse()))

    def test_changed_pernode_partial_fails(self):
        def f(got):
            got["query"]["rows"][1][2] += 1
        self.assertTrue(self.corrupt("pernode_q6", f))

    def test_node_reported_twice_fails(self):
        def f(got):
            got["perPartitionScalar"][1][0] = 0
        self.assertTrue(self.corrupt("pp_scalar", f))

    def test_changed_derived_table_query_fails(self):
        def f(got):
            got["top"]["rows"][0][1] += 100.0
        self.assertTrue(self.corrupt("newvar", f))

    def test_wrong_dims_fail(self):
        def f(got):
            got["dims"][0][1] = 12
        self.assertTrue(self.corrupt("dims", f))

    def test_missing_result_fails_unless_its_ops_failed(self):
        res = copy.deepcopy(self.res)
        res["outputs"]["results"][self.entry("dims")] = []
        self.assertTrue(oracle.check_bdt(self.cfg, res))
        res["ops"] = [{"kind": "dims", "failed": True}]
        self.assertEqual(oracle.check_bdt(self.cfg, res), [])


def _fingerprints(ids, rng):
    """Random 64-bit fingerprints with a few planted near pairs."""
    fps = {i: rng.getrandbits(64) for i in ids}
    for a, b in zip(ids[::7], ids[1::7]):
        fps[b] = fps[a] ^ (1 << rng.randrange(64))
    return [[i, v - (1 << 64) if v >= 1 << 63 else v] for i, v in fps.items()]


class DocChecks(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.fold_cfg = gen.generate("fold_stream", 3, os.path.join(cls.tmp.name, "fold"))
        cls.batch_cfg = gen.generate("dedup_batch", 3, os.path.join(cls.tmp.name, "batch"))
        rng = random.Random(1)
        cls.fold_res = cls.build(cls.fold_cfg, rng, fold=True)
        cls.batch_res = cls.build(cls.batch_cfg, rng, fold=False)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    @staticmethod
    def build(cfg, rng, fold):
        ids, _ = oracle._corpus(os.path.join(cfg["inputs"], "corpus.parquet"))
        res = {"outputs": {"fingerprints": _fingerprints(ids, rng)}}
        want_m, want_s, _ = oracle.oracles_docs(cfg, res)
        m = [[a, b, j] for (a, b), j in sorted(want_m.items())]
        s = [[b, a, d] for (a, b), d in sorted(want_s.items())]
        if fold:
            res["outputs"]["passes"] = [{
                "minhash": m, "simhash": s, "replay_minhash": [], "replay_simhash": [],
                "replay_counts": [[10, 20, 30], [10, 20, 30]],
                "compact_counts": [[40, 50, 60], [40, 50, 60]]}]
        else:
            res["outputs"]["minhash"] = [m]
            res["outputs"]["simhash"] = [s]
        return res

    def fold(self, f):
        res = copy.deepcopy(self.fold_res)
        f(res["outputs"]["passes"][0])
        return oracle.check_fold(self.fold_cfg, res)

    def batch(self, f):
        res = copy.deepcopy(self.batch_res)
        f(res["outputs"])
        return oracle.check_batch(self.batch_cfg, res)

    def test_oracles_find_planted_pairs(self):
        self.assertGreater(len(self.fold_res["outputs"]["passes"][0]["minhash"]), 50)
        self.assertGreater(len(self.batch_res["outputs"]["minhash"][0]), 1000)
        self.assertGreater(len(self.batch_res["outputs"]["simhash"][0]), 100)

    def test_correct_results_pass(self):
        self.assertEqual(oracle.check_fold(self.fold_cfg, self.fold_res), [])
        self.assertEqual(oracle.check_batch(self.batch_cfg, self.batch_res), [])

    def test_dropped_minhash_pair_fails(self):
        self.assertTrue(self.fold(lambda p: p["minhash"].pop(3)))
        self.assertTrue(self.batch(lambda o: o["minhash"][0].pop(3)))

    def test_dropped_simhash_pair_fails(self):
        self.assertTrue(self.fold(lambda p: p["simhash"].pop()))
        self.assertTrue(self.batch(lambda o: o["simhash"][0].pop()))

    def test_extra_pair_fails(self):
        self.assertTrue(self.batch(lambda o: o["minhash"][0].append([0, 999_999, 0.9])))

    def test_pair_emitted_twice_fails(self):
        self.assertTrue(self.fold(lambda p: p["minhash"].append(list(p["minhash"][0]))))

    def test_wrong_jaccard_fails(self):
        def f(p):
            p["minhash"][0][2] -= 0.01
        self.assertTrue(self.fold(f))

    def test_replay_emission_fails(self):
        self.assertTrue(self.fold(lambda p: p["replay_simhash"].append([1, 2, 0])))

    def test_replay_growing_an_index_fails(self):
        def f(p):
            p["replay_counts"][1][0] += 1
        self.assertTrue(self.fold(f))

    def test_compaction_changing_row_count_fails(self):
        def f(p):
            p["compact_counts"][1][2] -= 1
        self.assertTrue(self.fold(f))

    def test_shingles_follow_the_program(self):
        self.assertEqual(oracle.shingles("a b c d", 3), {"a b c", "b c d"})
        self.assertEqual(oracle.shingles("a b", 3), {"a b"})
        self.assertEqual(oracle.shingles("a a a a", 3), {"a a a"})


if __name__ == "__main__":
    unittest.main()
