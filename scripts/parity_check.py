"""Spot oracle-parity check for named keys (round 14): runs each key
on Spark and its DuckDB oracle at the given SF dirs via the same
comparison the test suite uses (tests/oracle_utils.compare).

Usage: python scripts/parity_check.py [--sf DIR[,DIR...]] name...
Exit 0 iff every (key, sf) pair matches.
"""

from __future__ import annotations

import argparse
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))

from oracle_utils import compare, duckdb_conn  # noqa: E402

from distributed_mapreduce_server_spark import (  # noqa: E402
    get_spark,
    registry,
    retire_persistent_rdds,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default="/root/testdata/sf0.01,/root/testdata/sf0.1")
    args = ap.parse_args()

    spark = get_spark("dmrs-parity-check")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    oracles = registry.all_oracles()
    rc = 0
    for sf_dir in args.sf.split(","):
        con = duckdb_conn(sf_dir)
        for name in args.names:
            spark.catalog.clearCache()
            retire_persistent_rdds(spark)
            sql = oracles.get(name)
            if sql is None:
                print(f"{name} @ {sf_dir}: NO ORACLE (rows-only key)")
                continue
            problems = compare(queries[name](spark, sf_dir), con, sql)
            if problems:
                rc = 1
                print(f"{name} @ {sf_dir}: FAIL {problems[:5]}")
            else:
                print(f"{name} @ {sf_dir}: ok", flush=True)
        con.close()
    return rc


if __name__ == "__main__":
    sys.exit(main())
