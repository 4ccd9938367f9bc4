#!/usr/bin/env python3
"""Self-test of the benchmark's input generator and launcher helpers.

    python3 perfbench/selftest.py

Checks, for every workload, that the same seed gives identical inputs
and another seed gives different ones, and that the oracle CTE
materialization marks only CTEs referenced more than once. Scratch files
go under the checkout's `.perfbench/selftest/`.
"""
import os
import shutil
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import gen  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(run.STATE, "selftest")


class GeneratorTest(unittest.TestCase):
    def make(self, workload, seed, tag):
        d = os.path.join(SCRATCH, f"{workload}-{seed}-{tag}")
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        return d

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        for w in gen.WORKLOADS:
            with self.subTest(workload=w):
                a = gen.fingerprint(self.make(w, 1, "a"))
                b = gen.fingerprint(self.make(w, 1, "b"))
                c = gen.fingerprint(self.make(w, 2, "a"))
                self.assertEqual(a, b)
                self.assertNotEqual(a, c)


class OracleTest(unittest.TestCase):
    def test_only_shared_ctes_are_materialized(self):
        sql = ("WITH RECURSIVE a AS (SELECT 1 x), b AS (SELECT x FROM a), "
               "r(n) AS (SELECT 1 UNION SELECT n + 1 FROM r WHERE n < 3) "
               "SELECT * FROM a, b, a a2, r")
        got = run.materialize_shared_ctes(sql)
        self.assertEqual(got, sql.replace("a AS (", "a AS MATERIALIZED ("))


if __name__ == "__main__":
    os.makedirs(SCRATCH, exist_ok=True)
    try:
        unittest.main(verbosity=2)
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
