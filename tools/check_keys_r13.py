"""Per-change oracle-parity check for the r13 optimization loop.

Runs the named keys against their DuckDB oracles with the SAME
canonical compare the round driver uses (tests/oracle_harness), at one
or more SF dirs. Exits non-zero on any mismatch.

Usage:
    python tools/check_keys_r13.py --keys k1 k2 ... [--sf sf0.01 sf0.1]
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
    ap.add_argument("--sf", nargs="+", default=["sf0.01", "sf0.1"])
    args = ap.parse_args()

    import __spark_entry__ as entry_mod
    from oracle_harness import assert_parity
    from distributed_graph_database_spark.session import get_spark

    spark = get_spark("dgdb-check-keys-r13")
    spark.sparkContext.setLogLevel("ERROR")
    Q, O = entry_mod.queries(), entry_mod.oracle_sql()
    n_fail = 0
    for sf in args.sf:
        sf_dir = f"/root/testdata/{sf}"
        for key in args.keys:
            t0 = time.time()
            try:
                assert_parity(Q[key](spark, sf_dir), O[key], sf_dir, key)
                print(f"OK   {sf} {key} ({time.time() - t0:.1f}s)", flush=True)
            except Exception as exc:
                n_fail += 1
                print(f"FAIL {sf} {key}: {exc}", flush=True)
    print(f"done: {n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
