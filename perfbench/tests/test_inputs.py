"""Generator determinism per seed, and the output checks."""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


class GeneratorTest(unittest.TestCase):
    def test_corpus_is_a_function_of_its_seed(self):
        a, b = gen.corpus_tables(7), gen.corpus_tables(7)
        for name in gen.BASE_ROWS:
            self.assertTrue(a[name].equals(b[name]), name)
            self.assertEqual(a[name].num_rows, gen.BASE_ROWS[name])
        self.assertFalse(a["lineitem"].equals(gen.corpus_tables(8)["lineitem"]))

    def test_etl_inputs_are_a_function_of_the_seed(self):
        with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2, \
                tempfile.TemporaryDirectory() as d3:
            m1 = gen.write_etl_inputs(d1, 5, 4)
            m2 = gen.write_etl_inputs(d2, 5, 4)
            m3 = gen.write_etl_inputs(d3, 6, 4)
            self.assertEqual(m1, m2)
            for m in m1:
                with open(os.path.join(d1, m["file"]), "rb") as f1, \
                        open(os.path.join(d2, m["file"]), "rb") as f2:
                    self.assertEqual(f1.read(), f2.read())
            self.assertNotEqual(m1, m3)

    def test_model_counts_planted_rows(self):
        with tempfile.TemporaryDirectory() as d:
            model = gen.write_etl_inputs(d, 3, 3)
            for m in model:
                with open(os.path.join(d, m["file"])) as f:
                    lines = f.read().splitlines()
                malformed = 0
                for ln in lines:
                    try:
                        json.loads(ln)
                    except ValueError:
                        malformed += 1
                self.assertEqual(malformed, m["quarantined"])
                self.assertEqual(len(lines), m["hi"] - m["lo"])
            # every timed batch overlaps what is already committed
            for prev, cur in zip(model, model[1:]):
                self.assertLess(cur["lo"], prev["hi"])
                self.assertGreater(cur["head_rows"], prev["head_rows"])

    def test_op_order_is_a_seeded_permutation(self):
        spec = workloads.get("suite_sf0.01")
        a = workloads.op_order(spec, 1, 10)
        self.assertEqual(a, workloads.op_order(spec, 1, 10))
        self.assertNotEqual(a, workloads.op_order(spec, 2, 10))
        self.assertEqual(sorted(a), sorted(spec["ops"] * workloads.passes(spec, 10)))


class WorkloadTest(unittest.TestCase):
    def test_lists_avoid_excluded_and_each_other(self):
        lists = {"suite": set(workloads.SUITE), "scan": set(workloads.SCAN)}
        for name, qs in lists.items():
            self.assertFalse(qs & workloads.EXCLUDED, name)
            self.assertFalse(qs & set(workloads.JIT_WARMUP), name)
        self.assertFalse(set(workloads.JIT_WARMUP) & workloads.EXCLUDED)


class CheckTest(unittest.TestCase):
    def test_planted_wrong_checksum_fails_the_op(self):
        expected = {"q_a": {"rows": 3, "sum": "12"}, "q_b": {"rows": 5, "sum": "99"}}
        ops = [{"name": "q_a", "rows": 3, "sum": "12", "ms": 1.0},
               {"name": "q_b", "rows": 5, "sum": "98", "ms": 1.0},
               {"name": "q_c", "rows": 1, "sum": "1", "ms": 1.0},
               {"name": "q_a", "error": "boom", "ms": 1.0}]
        run.check_queries(ops, expected)
        self.assertEqual([bool(op.get("failed")) for op in ops], [False, True, True, True])

    def test_batch_checks(self):
        model = [{}, {"quarantined": 2, "head_rows": 10, "head_check": 77}]
        good = {"quarantined": 2, "head_rows": 10, "head_check": 77, "index_equal": True,
                "knn_rows": 30, "knn_sum": "5", "rebuilt_rows": 30, "rebuilt_sum": "5"}
        for key, bad_value in (("quarantined", 1), ("head_check", 78), ("index_equal", False),
                               ("rebuilt_sum", "6")):
            ops = [dict(good, **{key: bad_value})]
            run.check_batches(ops, model)
            self.assertTrue(ops[0].get("failed"), key)
        ops = [dict(good)]
        run.check_batches(ops, model)
        self.assertFalse(ops[0].get("failed"))


if __name__ == "__main__":
    unittest.main()
