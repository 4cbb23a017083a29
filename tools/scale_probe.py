"""100×-scale dry run (VERDICT r6 item 8): time every declared key at
two scale factors (SPARK_GRAFT_SF_DIR, required, and the
gen_sf.py-produced sf1) in one session, and report the per-key scaling
exponent

    exponent = log(t_big / t_small) / log(data_ratio)

≈1 is linear, <1 sublinear (fixed overhead still dominating), >1
superlinear — the 100 TB red flag. Setup/cache fills are billed
separately per SF, mirroring bench.py's steady-state methodology.

Usage: SPARK_GRAFT_SF_DIR=<small sf dir> python tools/scale_probe.py
         [--big /tmp/dgdb_sf1] [--ratio 10] [--out SCALE_PROBE.json]
Relative paths resolve against the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers (the pandas-UDF keys) import the engine from
# the working directory, so the tool runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--big", default="/tmp/dgdb_sf1")
    ap.add_argument("--ratio", type=float, default=10.0)
    ap.add_argument("--out", default="SCALE_PROBE.json")
    ap.add_argument("--keys", nargs="*", default=None)
    ap.add_argument(
        "--setup-items",
        default=None,
        help="comma-separated setup line items to fill (default: all) — "
        "pass the artifacts your --keys consume so a key-subset probe "
        "at an expensive SF skips the other keys' ingest builds",
    )
    args = ap.parse_args()

    import bench
    from distributed_graph_database_spark.session import get_spark

    spark = get_spark("dgdb-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    keys = args.keys or list(entry_mod.queries())
    bench.warm_up(spark)

    legs = {}
    # Strip whitespace so `--setup-items "a, b"` matches line items
    # (ADVICE r11 #2); bench.run_setup validates the names and raises
    # on anything unknown (ADVICE r11 #1).
    only = (
        {s.strip() for s in args.setup_items.split(",") if s.strip()}
        if args.setup_items
        else None
    )
    small = os.environ["SPARK_GRAFT_SF_DIR"]
    for name, sf_dir in (("small", small), ("big", args.big)):
        setup = bench.run_setup(spark, sf_dir, only=only)
        timings, failures = bench.time_keys(spark, sf_dir, keys)
        legs[name] = {"sf_dir": sf_dir, "setup": setup,
                      "timings": timings, "failures": failures}
        print(f"{name} leg done: {len(timings)} keys, "
              f"{round(sum(timings.values()), 1)} s total", file=sys.stderr)

    report = {}
    for k in keys:
        t0 = legs["small"]["timings"].get(k)
        t1 = legs["big"]["timings"].get(k)
        if t0 is None or t1 is None:
            continue
        report[k] = {
            "t_small": t0,
            "t_big": t1,
            "exponent": round(
                math.log(max(t1, 1e-4) / max(t0, 1e-4)) / math.log(args.ratio), 3
            ),
        }
    out = {
        "ratio": args.ratio,
        "legs": {n: {"sf_dir": v["sf_dir"], "setup": v["setup"],
                     "failures": v["failures"]} for n, v in legs.items()},
        "keys": report,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    worst = sorted(report.items(), key=lambda kv: -kv[1]["exponent"])[:20]
    for k, v in worst:
        print(f"{k:28s} {v['t_small']:8.3f} -> {v['t_big']:8.3f}  exp {v['exponent']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
