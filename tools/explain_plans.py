"""Capture `.explain("formatted")` for named keys into plans/<round>/.

Optimization evidence: each optimized key gets a `<key>_before.txt`
(captured at the pre-change code) and a `<key>_after.txt` (at the
change), so plan claims (Exchange counts, join strategies,
PushedFilters) can be checked against the files.

Usage:
    python tools/explain_plans.py r14 before key1 key2 ...
    python tools/explain_plans.py r14 after  key1 key2 ...

Keys are built under cache.live_plans, so cache.shared-served keys
show their full plan, not a checkpoint scan. SPARK_GRAFT_SF_DIR
(required) names the parquet dir; the committed plans/ files were
captured at sf0.1.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers (the pandas-UDF keys) import the engine from
# the working directory, so the tool runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)

from distributed_graph_database_spark import cache, registry  # noqa: E402
from distributed_graph_database_spark.session import get_spark  # noqa: E402


def main() -> int:
    rnd, stage, keys = sys.argv[1], sys.argv[2], sys.argv[3:]
    assert stage in ("before", "after"), "stage must be before|after"
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    out_dir = os.path.join(REPO, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(f"dgdb-explain-{rnd}")
    spark.sparkContext.setLogLevel("ERROR")
    for key in keys:
        with cache.live_plans():
            df = registry.QUERIES[key](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{key}_{stage}.txt")
        with open(path, "w") as f:
            f.write(f"# {key} — {stage} (sf_dir={sf_dir})\n")
            f.write(buf.getvalue())
        print(f"wrote {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
