"""Isolated per-key timing for the r13 optimization loop.

Mirrors bench.py methodology exactly (same session factory, same
warm-up, same noop-sink materialization, setup items billed
separately) but runs only the named keys, repeating each --reps times
so run-to-run noise is visible. Prints one JSON line.
SPARK_GRAFT_SF_DIR (required) names the parquet dir.

Usage:
    SPARK_GRAFT_SF_DIR=<sf dir> python tools/time_keys_r13.py --keys k1 k2 ... [--reps 2]
        [--setup-items a,b,c | --all-setup]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers (the pandas-UDF keys) import the engine from
# the working directory, so the tool runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--keys", nargs="+", required=True)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--setup-items", default=None)
    ap.add_argument("--all-setup", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]

    import bench
    from distributed_graph_database_spark.session import get_spark

    spark = get_spark("dgdb-time-keys-r13")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    bench.warm_up(spark)
    only = None
    if not args.all_setup:
        only = (
            set(args.setup_items.split(","))
            if args.setup_items
            else set()
        )
    setup = bench.run_setup(spark, sf_dir, only=only)

    out: dict[str, list[float]] = {}
    for key in args.keys:
        out[key] = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(f"r13-time:{key}")
            t0 = time.perf_counter()
            bench._materialize(queries[key](spark, sf_dir))
            out[key].append(round(time.perf_counter() - t0, 4))
            spark.sparkContext.setJobDescription(None)
    print(json.dumps({"timings": out, "setup": setup, "sf_dir": sf_dir}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
