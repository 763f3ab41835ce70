"""Self-tests of the benchmark: seeded inputs, the metric spec, the
correctness gates, and one small smoke run.

    python3 -m unittest discover -s perfbench/tests      # from the repository root
"""
import glob
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import gates  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def scratch():
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    return tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".bench_work"))


def tree_bytes(d):
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, d)] = fh.read()
    return out


class SeededInputs(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_same_seed_same_bytes_other_seed_differs(self):
        for w in run.PRIMARY:
            a, b, c = (os.path.join(self.tmp, w, x) for x in "abc")
            run.generate(w, 5, a)
            run.generate(w, 5, b)
            run.generate(w, 6, c)
            ta, tb, tc = tree_bytes(a), tree_bytes(b), tree_bytes(c)
            self.assertTrue(ta, w)
            self.assertEqual(ta, tb, w)
            self.assertEqual(ta.keys(), tc.keys(), w)
            self.assertNotEqual(ta, tc, w)

    def test_foreign_keys_valid(self):
        t = gen.tables(3, 0.001)
        li, o = t["lineitem"].to_pandas(), t["orders"].to_pandas()
        self.assertTrue(li.l_orderkey.isin(o.o_orderkey).all())
        self.assertTrue(li.l_suppkey.isin(t["supplier"].column("s_suppkey").to_pylist()).all())
        self.assertTrue(o.o_custkey.isin(t["customer"].column("c_custkey").to_pylist()).all())
        self.assertEqual(set(t), set(gen.TABLES))


class Spec(unittest.TestCase):
    def test_metric_names_and_counts(self):
        spec = run.load_spec()
        e2e, layer = spec["end_to_end"], spec["per_layer"]
        self.assertLessEqual(len(e2e), 16)
        self.assertLessEqual(len(layer), 128)
        names = [m["name"] for m in e2e + layer] + [w["name"] for w in spec["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        for n in names:
            self.assertRegex(n, NAME)
            self.assertTrue(re.fullmatch(r"[A-Za-z0-9_.-]+", n), n)
        for m in e2e + layer:
            self.assertTrue(UNIT.fullmatch(m["unit"]), m)
        for m in e2e:
            self.assertLessEqual(m["bound"], 0.25)
        self.assertIn("setup_s", [m["name"] for m in e2e])
        self.assertEqual(set(run.PRIMARY), {w["name"] for w in spec["workloads"]})


class Gates(unittest.TestCase):
    def setUp(self):
        self.tmp = scratch()
        self.cat = os.path.join(self.tmp, "catalog")
        gen.write_catalog(self.cat, 1, 0.001)

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write(self, df, name):
        d = os.path.join(self.tmp, name)
        os.makedirs(d, exist_ok=True)
        df.to_parquet(os.path.join(d, "part-0.parquet"))
        return d

    def test_oracle_rejects_perturbed_output(self):
        sql = "SELECT n_regionkey, COUNT(*) AS n FROM nation GROUP BY 1"
        good = pd.DataFrame({"n_regionkey": np.arange(5, dtype=np.int32),
                             "n": np.full(5, 5, dtype=np.int64)})
        self.assertEqual(gates.oracle(good, sql, self.cat, "q"), [])
        bad = good.copy()
        bad.loc[2, "n"] = 6
        self.assertTrue(gates.oracle(bad, sql, self.cat, "q"))
        self.assertTrue(gates.oracle(good.iloc[:4], sql, self.cat, "q"))
        self.assertTrue(gates.oracle(None, sql, self.cat, "q"))

    def test_etl_gate(self):
        sql = {q: "SELECT r_regionkey, r_name FROM region" for q in gates.MARTS.values()}
        region = pq.read_table(os.path.join(self.cat, "region.parquet")).to_pandas()
        marts = os.path.join(self.tmp, "marts")
        for m in gates.MARTS:
            self.write(region.assign(run_date="2024-01-01"), os.path.join("marts", m))
        ok = ["transform_SUCCESS"]
        self.assertEqual(gates.etl(marts, ok, sql, self.cat), [])
        self.assertTrue(gates.etl(marts, ["transform_SUCCESS", "attack_ERROR"], sql, self.cat))
        perturbed = region.assign(run_date="2024-01-01")
        perturbed.loc[0, "r_name"] = "ATLANTIS"
        self.write(perturbed, os.path.join("marts", "defense"))
        self.assertTrue(gates.etl(marts, ok, sql, self.cat))

    def test_analytics_gate(self):
        sql = {"q_a": "SELECT c_custkey FROM customer WHERE c_acctbal > 0"}
        cust = pq.read_table(os.path.join(self.cat, "customer.parquet")).to_pandas()
        good = cust[cust.c_acctbal > 0][["c_custkey"]]
        self.write(good, os.path.join("out", "q_a"))
        self.assertEqual(gates.analytics(os.path.join(self.tmp, "out"), sql, self.cat), [])
        self.write(good.iloc[1:], os.path.join("out", "q_a"))
        self.assertTrue(gates.analytics(os.path.join(self.tmp, "out"), sql, self.cat))

    def test_serve_gate(self):
        rng = np.random.default_rng(0)
        ids = np.arange(200, dtype=np.int64)
        vecs = gen.unit_vectors(rng, 200)
        queries = gen.unit_vectors(rng, 4)
        corpus = (ids, vecs)
        exact = [{"query": i, "appended": 0,
                  "ids": gates.exact_top10(corpus, queries[i]).tolist()} for i in range(4)]
        bad, recall = gates.serve(exact, lambda a: corpus, queries)
        self.assertEqual((bad, recall), ([], 1.0))
        outside = [dict(exact[0], ids=exact[0]["ids"][:9] + [999])]
        self.assertTrue(gates.serve(outside, lambda a: corpus, queries)[0])
        dup = [dict(exact[0], ids=exact[0]["ids"][:9] + exact[0]["ids"][:1])]
        self.assertTrue(gates.serve(dup, lambda a: corpus, queries)[0])
        far = [dict(e, ids=[int(x) for x in ids if x not in e["ids"]][:10]) for e in exact]
        bad, recall = gates.serve(far, lambda a: corpus, queries)
        self.assertEqual(recall, 0.0)
        self.assertTrue(bad)
        self.assertTrue(gates.serve([], lambda a: corpus, queries)[0])


class Smoke(unittest.TestCase):
    """One short run of the cheapest workload in both modes prints every
    metric of BENCHMARK.json with its unit."""

    def run_bench(self, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "retrieval_serve",
             "--seed", "3", "--seconds", "2", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        return json.loads(p.stdout.strip().splitlines()[-1])

    def test_smoke(self):
        spec = run.load_spec()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = self.run_bench(trace)
            self.assertEqual(set(out), {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(out["correct"])
            self.assertGreaterEqual(out["attempted"], 1)
            want = {m["name"]: m["unit"] for m in spec[key]}
            self.assertEqual({k: v["unit"] for k, v in out["metrics"].items()}, want)
            for v in out["metrics"].values():
                self.assertIsInstance(v["value"], (int, float))


if __name__ == "__main__":
    unittest.main()
