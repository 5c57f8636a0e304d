#!/usr/bin/env python3
"""Tests of the benchmark's own correctness checks.

    python3 perfbench/tests/test_checks.py

Builds the benchmark, runs `graft.perfbench.SelfTest` (the brute-force
region counter against a hand-computed catalog; the geo check against a
duplicated event and a dropped region; the snap check against a wrong
c_acctbal) and then checks that the operator-mix oracle passes the
outputs SelfTest wrote and rejects a perturbed one.
"""
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class ChecksTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        classes, _ = build.build()
        os.makedirs(os.path.join(run.ROOT, ".bench_run"), exist_ok=True)
        cls.work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(run.ROOT, ".bench_run"))
        os.makedirs(os.path.join(cls.work, "tmp"))
        cmd = run.jvm_command(classes, cls.work, "graft.perfbench.SelfTest", [cls.work], 0)
        env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(cls.work, "warehouse"))
        r = subprocess.run(cmd, cwd=cls.work, env=env, stdout=subprocess.PIPE,
                           stderr=subprocess.DEVNULL, text=True, timeout=600)
        cls.jvm_out, cls.jvm_rc = r.stdout, r.returncode
        cls.data = os.path.join(cls.work, "mix", "data")
        cls.verify = os.path.join(cls.work, "mix", "verify")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.work, ignore_errors=True)

    def test_jvm_checks(self):
        sys.stderr.write(self.jvm_out)
        self.assertEqual(self.jvm_rc, 0)
        self.assertIn("SELFTEST OK", self.jvm_out)
        self.assertNotIn("FAIL ", self.jvm_out)

    def test_oracle_passes_clean_outputs(self):
        self.assertTrue(oracle.check(self.data, self.verify))

    def test_oracle_rejects_a_perturbed_result(self):
        import duckdb
        bad = os.path.join(self.work, "mix", "verify-perturbed")
        shutil.copytree(self.verify, bad)
        q = os.path.join(bad, "q19_geo_assign")
        src = [f for f in os.listdir(q) if f.endswith(".parquet")][0]
        os.rename(os.path.join(q, src), os.path.join(self.work, "q19.parquet"))
        # one region's count moves by one event
        duckdb.sql(f"""COPY (SELECT * REPLACE (CASE WHEN region = 'USA0'
                              THEN n_events + 1 ELSE n_events END AS n_events)
                            FROM '{self.work}/q19.parquet')
                       TO '{q}/part-0.parquet' (FORMAT parquet)""")
        self.assertFalse(oracle.check(self.data, bad))


if __name__ == "__main__":
    unittest.main()
