#!/usr/bin/env python3
"""operator_mix correctness: compare each query's Spark output with DuckDB
running its `SparkEntry.oracleSql` entry, using the engine's own oracle
gate, `tools/oracle_check.py` (same row count, column names and rounded,
sorted value lists).

    python3 perfbench/oracle.py <dataDir> <verifyDir>

`verifyDir` holds one parquet directory per query plus `oracle_sql.json`,
as `graft.Verify` writes them; the benchmark JVM writes it after the timed
passes.
"""
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def check(data_dir, verify_dir):
    """True when every query passes; the gate's report goes to stderr."""
    tool = os.path.join(ROOT, "tools", "oracle_check.py")
    r = subprocess.run([sys.executable, tool, data_dir, verify_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    sys.stderr.write(r.stdout)
    return r.returncode == 0 and " 0 fail" in r.stdout


if __name__ == "__main__":
    sys.exit(0 if check(sys.argv[1], sys.argv[2]) else 1)
