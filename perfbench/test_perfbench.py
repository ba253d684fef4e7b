"""Benchmark-local tests: seeded inputs are byte-identical, the correctness
checks reject outputs that disagree with the invariants, and BENCHMARK.json
declares exactly the metrics the benchmark prints.

    python3 perfbench/test_perfbench.py      # from the repository root
"""

import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(os.getcwd(), ".bench_build", "test")


def read_tree(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


class GeneratorTest(unittest.TestCase):
    def tearDown(self):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_same_seed_gives_identical_bytes(self):
        for w in run.WORKLOADS:
            a, b, c = (os.path.join(SCRATCH, w, x) for x in "abc")
            gen.generate(w, 7, a)
            gen.generate(w, 7, b)
            gen.generate(w, 8, c)
            ta, tb, tc = read_tree(a), read_tree(b), read_tree(c)
            self.assertTrue(ta)
            self.assertEqual(ta, tb, w)
            self.assertNotEqual(ta, tc, w)


def close_record(inv):
    """The RunReport fields a correct close reports for these invariants."""
    return {"close": True, "status": "success", "total_transactions": inv["transactions"],
            "matching_records_count": inv["matched"],
            "total_earned": inv["earned_cents"] / 100, "total_spent": inv["spent_cents"] / 100,
            "total_expired": inv["expired_cents"] / 100}


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.inv = gen.generate("balance_lookups", 3, os.path.join(SCRATCH, "inv"))

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(SCRATCH, ignore_errors=True)

    def test_close(self):
        rec = close_record(self.inv)
        self.assertEqual(checks.check_close(rec, self.inv), [])
        for key in ("matched", "transactions", "spent_cents"):
            wrong = dict(self.inv, **{key: self.inv[key] + 1})
            self.assertNotEqual(checks.check_close(rec, wrong), [], key)

    def test_lookups(self):
        expected = self.inv["lookups"]
        for exp in expected[:200]:
            rec = dict(exp, rows=exp.get("rows", len(exp.get("balances", []))))
            self.assertEqual(checks.check_lookup(rec, expected), [])
        q1 = next(e for e in expected if e["kind"] == 1 and e["balances"])
        wrong = [dict(e) for e in expected]
        wrong[q1["idx"]]["balances"] = [[q1["balances"][0][0], q1["balances"][0][1] + 1]]
        self.assertNotEqual(checks.check_lookup(dict(q1, rows=1), wrong), [])
        q12 = next(e for e in expected if e["kind"] == 12)
        wrong[q12["idx"]]["rows"] = q12["rows"] + 1
        self.assertNotEqual(checks.check_lookup(q12, wrong), [])

    def test_replay(self):
        rec = {"matched": self.inv["matched"], "pair_hash": "42"}
        batch = {"batch_matched": self.inv["matched"], "batch_pair_hash": "42"}
        self.assertEqual(checks.check_replay(rec, self.inv, batch), [])
        wrong = dict(self.inv, matched=self.inv["matched"] - 1)
        self.assertNotEqual(checks.check_replay(rec, wrong, batch), [])
        self.assertNotEqual(checks.check_replay(rec, self.inv, dict(batch, batch_pair_hash="7")), [])

    def test_corpus(self):
        inv = {"gate_rows": {"ann_ivf_topk": 25, "ann_recall_eval": 6}}
        rec = {"ann_ivf_topk": {"rows": 25, "digest": "a"}, "ann_recall_eval": {"rows": 6, "digest": "b"},
               "dedup_clusters": {"rows": 9, "digest": "c"}}
        self.assertEqual(checks.check_corpus(rec, None, inv), [])
        self.assertEqual(checks.check_corpus(rec, rec, inv), [])
        wrong = {"gate_rows": {"ann_ivf_topk": 24, "ann_recall_eval": 6}}
        self.assertNotEqual(checks.check_corpus(rec, None, wrong), [])
        other = dict(rec, dedup_clusters={"rows": 9, "digest": "d"})
        self.assertNotEqual(checks.check_corpus(other, rec, inv), [])


class DeclarationTest(unittest.TestCase):
    def test_benchmark_json_matches_printed_metrics(self):
        path = os.path.join(os.getcwd(), "BENCHMARK.json")
        if not os.path.exists(path):
            self.skipTest("run from the repository root")
        with open(path) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, run.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
