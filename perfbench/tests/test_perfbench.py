"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests -v

The digest and corrupted-result tests build the program and start Spark,
so they take about a minute.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(run.tail(xs), (90, 90))
        self.assertEqual(sum(1 for x in xs if x > 90), 10)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 3.0] * 10
        self.assertEqual(run.tail(xs), run.tail(sorted(xs)))

    def test_percentile_floors(self):
        # 27 samples: the 17th is the one with ten after it; 17/27 = 62.9 %
        self.assertEqual(run.tail(list(range(27))), (62, 16))

    def test_too_few_samples_reports_maximum(self):
        self.assertEqual(run.tail([3, 1, 2]), (100, 3))
        self.assertEqual(run.tail(list(range(20))), (100, 19))
        # 21 samples: the median itself has ten beyond it
        self.assertEqual(run.tail(list(range(21))), (52, 10))


class SpanMath(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(run.union_s([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(run.union_s([]), 0)

    def test_self_time_subtracts_children(self):
        spans = [{"id": 0, "parent": -1, "start_s": 0.0, "end_s": 10.0},
                 {"id": 1, "parent": 0, "start_s": 1.0, "end_s": 4.0},
                 {"id": 2, "parent": 0, "start_s": 3.0, "end_s": 5.0},
                 {"id": 3, "parent": 1, "start_s": 1.0, "end_s": 2.0}]
        self.assertAlmostEqual(run.self_time(spans[0], spans), 6.0)
        self.assertAlmostEqual(run.self_time(spans[1], spans), 2.0)


class Generator(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=run.WORK)

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def test_same_seed_same_bytes(self):
        a, b, c = (os.path.join(self.tmp, n) for n in "abc")
        gen.generate(7, a)
        gen.generate(7, b)
        gen.generate(8, c)
        self.assertEqual(gen.digest_dir(a), gen.digest_dir(b))
        self.assertNotEqual(gen.digest_dir(a), gen.digest_dir(c))

    def test_foreign_keys_stay_valid(self):
        d = os.path.join(self.tmp, "fk")
        gen.generate(3, d)

        def col(t, c):
            return set(pq.read_table(os.path.join(d, "sf", t + ".parquet"),
                                     columns=[c])[c].to_pylist())
        self.assertLessEqual(col("lineitem", "l_orderkey"), col("orders", "o_orderkey"))
        self.assertLessEqual(col("orders", "o_custkey"), col("customer", "c_custkey"))
        self.assertEqual(col("documents", "doc_id"), col("embeddings", "vec_id"))
        base = pq.read_table(os.path.join(gen.BASE, "orders.parquet"))
        kept = pq.read_table(os.path.join(d, "sf", "orders.parquet"))
        self.assertLess(abs(kept.num_rows / base.num_rows - gen.KEEP), 0.05)
        # a kept order keeps all of its line items
        li = pq.read_table(os.path.join(gen.BASE, "lineitem.parquet"))
        mask = pc.is_in(li["l_orderkey"], value_set=kept["o_orderkey"])
        self.assertEqual(pc.sum(mask).as_py(),
                         pq.read_table(os.path.join(d, "sf", "lineitem.parquet")).num_rows)


class Digest(unittest.TestCase):
    def test_digest_properties(self):
        classes = build.build()
        tmp = tempfile.mkdtemp(dir=run.WORK)
        try:
            cmd = run.jvm_cmd(classes, tmp, "perfbench.SelfTest", [tmp])
            r = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp, timeout=300)
            lines = [l for l in r.stdout.splitlines() if l.startswith(("ok ", "FAIL "))]
            self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-2000:])
            self.assertGreaterEqual(len(lines), 9)
            self.assertTrue(all(l.startswith("ok ") for l in lines), lines)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


class CorruptedResult(unittest.TestCase):
    def test_corrupted_results_count_as_failed(self):
        # q86_gap_fill is in the workload and left intact: the control
        only = "mr_wordcount_combiner_rdd,q01_pricing_summary,q86_gap_fill"
        corrupt = "mr_wordcount_combiner_rdd,q01_pricing_summary"
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "mr_olap_lazy",
             "--seed", "5", "--seconds", "1", "--trace", "0",
             "--only", only, "--corrupt", corrupt],
            capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stderr[-2000:])
        res = json.loads(r.stdout.strip().splitlines()[-1])
        self.assertFalse(res["correct"])
        # warm-up plus at least one timed pass of both corrupted operations
        self.assertGreaterEqual(res["failed"], 4)
        self.assertIn("FAILED mr_wordcount_combiner_rdd", r.stdout)
        self.assertIn("FAILED q01_pricing_summary", r.stdout)
        self.assertLess(res["failed"], res["attempted"])
        self.assertNotIn("FAILED q86_gap_fill", r.stdout)

    def test_unknown_operation_is_an_error(self):
        r = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", "mr_olap_lazy",
             "--seed", "5", "--seconds", "1", "--trace", "0",
             "--only", "q01_pricing_summary,q188_asof_nearest"],
            capture_output=True, text=True, timeout=600)
        self.assertNotEqual(r.returncode, 0)
        self.assertNotIn('"correct"', r.stdout)


if __name__ == "__main__":
    unittest.main()
