"""Self-tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import shutil
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

TMP = os.path.join(HERE, "work", "selftest")


def generate(name, seed):
    """Small versions of every workload's inputs; returns the digest."""
    out = os.path.join(TMP, name)
    shutil.rmtree(out, ignore_errors=True)
    rng = np.random.default_rng(seed)
    t = gen.tpch(rng, 0.0005)
    t["documents"] = gen.documents(rng, 300)
    t["embeddings"] = gen.embeddings(rng, 100)
    t["events"] = gen.events(rng, 50)
    gen.write_tables(out, t)
    gen.lakehouse(rng, os.path.join(out, "lake"), base_rows=200, batch_rows=50,
                  upsert_rows=20, cycles=3)
    return gen.digest(out)


def tearDownModule():
    shutil.rmtree(TMP, ignore_errors=True)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a, b = generate("a", 7), generate("b", 7)
        self.assertEqual(a["sha256"], b["sha256"])
        self.assertEqual(a["files"], b["files"])

    def test_other_seed_other_inputs(self):
        self.assertNotEqual(generate("a", 7)["sha256"], generate("c", 8)["sha256"])

    def test_digest_records_rows_and_bytes(self):
        d = generate("a", 7)["files"]
        self.assertEqual(d["documents.parquet"]["rows"], 300)
        self.assertGreater(d["lake/batch_0.avro"]["bytes"], 0)

    def test_query_orders_are_permutations(self):
        orders = gen.query_orders(np.random.default_rng(1), stats.TPCH, 5)
        for o in orders:
            self.assertEqual(sorted(o), sorted(stats.TPCH))

    def test_corpus_has_duplicates_and_contamination(self):
        docs = gen.documents(np.random.default_rng(3), 2000).to_pydict()["text"]
        exact = len(docs) - len(set(docs))
        self.assertGreater(exact / len(docs), gen.DUP_RATE / 2)
        evals = {w for i, t in enumerate(docs) if i % 17 == 0 for w in
                 zip(t.split()[:-2], t.split()[1:-1], t.split()[2:])}
        hit = sum(1 for i, t in enumerate(docs) if i % 17 and any(
            w in evals for w in zip(t.split()[:-2], t.split()[1:-1], t.split()[2:])))
        self.assertGreater(hit, 0)

    def test_zigzag(self):
        self.assertEqual(gen._zigzag(0), b"\x00")
        self.assertEqual(gen._zigzag(-1), b"\x01")
        self.assertEqual(gen._zigzag(1), b"\x02")
        self.assertEqual(gen._zigzag(64), b"\x80\x01")


class SelfTimeTest(unittest.TestCase):
    def test_children_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "t0": 0, "t1": 100},
            {"id": 1, "parent": 0, "t0": 10, "t1": 40},
            {"id": 2, "parent": 0, "t0": 30, "t1": 60},  # overlaps 1
            {"id": 3, "parent": 1, "t0": 15, "t1": 25},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 50, 1: 20, 2: 30, 3: 10})
        self.assertEqual(sum(st.values()), 110)  # 100 + the 10 of overlap

    def test_child_clipped_to_parent(self):
        st = stats.self_times([{"id": 0, "parent": -1, "t0": 0, "t1": 10},
                               {"id": 1, "parent": 0, "t0": 5, "t1": 20}])
        self.assertEqual(st[0], 5)

    def test_jobs_attach_to_deepest_open_span(self):
        spans = [{"op": 1, "id": 0, "parent": -1, "layer": "bench", "t0": 0, "t1": 100},
                 {"op": 1, "id": 1, "parent": 0, "layer": "exec", "t0": 50, "t1": 90}]
        out = stats.attach_jobs(spans, [{"op": 1, "t0": 60, "t1": 95},
                                        {"op": 1, "t0": 10, "t1": 20},
                                        {"op": 2, "t0": 10, "t1": 20}])
        jobs = out[2:]
        self.assertEqual([(j["parent"], j["t0"], j["t1"]) for j in jobs],
                         [(1, 60, 90), (0, 10, 20)])


class SpaceAmpTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.space_amp(3000, 1000), 3.0)
        self.assertAlmostEqual(stats.space_amp(1100, 1000), 1.1)

    def test_empty_table_rejected(self):
        with self.assertRaises(ValueError):
            stats.space_amp(10, 0)


class LakeModelTest(unittest.TestCase):
    def test_cycle_counts(self):
        generate("m", 11)
        model = check.LakeModel(os.path.join(TMP, "m", "lake"))
        base = dict(model.rows)
        exp = model.cycle(0)
        self.assertEqual(exp["time_travel"], check.LakeModel.count_sum(base))
        self.assertEqual(exp["full"][0], len(model.rows))
        self.assertEqual(exp["changelog"]["insert"], 50 + 20)
        # every row gone from the table shows as a delete
        gone = sum(1 for i in base if i not in model.rows)
        self.assertLessEqual(gone, exp["changelog"]["delete"])


class NormTest(unittest.TestCase):
    def test_engine_and_duckdb_values_agree(self):
        import datetime
        import decimal
        self.assertEqual(check.norm(datetime.date(1998, 1, 2)), check.norm("1998-01-02"))
        self.assertEqual(check.norm(decimal.Decimal("1.50")), check.norm(1.5))
        self.assertEqual(check.normalize(["b", "a"], [[1, 2.0], [0, 1.0]]),
                         (["a", "b"], [("1.0", "0"), ("2.0", "1")]))


if __name__ == "__main__":
    unittest.main()
