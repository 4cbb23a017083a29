"""Per-change oracle-parity check for the r13 optimization loop.

Runs the named keys against their DuckDB oracles with the SAME
canonical compare the round driver uses (tests/oracle_harness), at the
parquet dir SPARK_GRAFT_SF_DIR (required) names. Exits non-zero on any
mismatch.

Usage:
    SPARK_GRAFT_SF_DIR=<sf dir> python tools/check_keys_r13.py --keys k1 k2 ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers (the pandas-UDF keys) import the engine from
# the working directory, so the tool runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", nargs="+", required=True)
    args = ap.parse_args()
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    import __spark_entry__ as entry_mod
    from oracle_harness import assert_parity
    from distributed_graph_database_spark.session import get_spark

    spark = get_spark("dgdb-check-keys-r13")
    spark.sparkContext.setLogLevel("ERROR")
    Q, O = entry_mod.queries(), entry_mod.oracle_sql()
    n_fail = 0
    for key in args.keys:
        t0 = time.time()
        try:
            assert_parity(Q[key](spark, sf_dir), O[key], sf_dir, key)
            print(f"OK   {key} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as exc:
            n_fail += 1
            print(f"FAIL {key}: {exc}", flush=True)
    print(f"done: {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
