#!/usr/bin/env python3
"""Fast self-test of the benchmark itself (a few minutes on 4 cores).

    python3 perfbench/selftest.py

Runs a tiny serve request stream and a two-key batch pass at sf=0.001,
traced and untraced, and checks that

- every metric BENCHMARK.json names is printed, with its unit, and no
  other;
- a clean run reports no failure;
- an injected wrong answer (a truncated DFS leaf set, an emptied SQL
  result) is counted as failed and makes the run incorrect.
"""

from __future__ import annotations

import json
import shutil
import sys

import run

SERVE_SECONDS = 4.0
BATCH = [("graph_components", "graph_components"), ("ql_sql_q6", "relational")]


def declared(section: str) -> dict[str, str]:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[section]}


def check_names(result: dict, trace: bool) -> None:
    printed = run.report(result, trace)["metrics"]
    want = declared("per_layer" if trace else "end_to_end")
    got = {k: v["unit"] for k, v in printed.items()}
    assert got == want, f"metric names/units differ: {set(got.items()) ^ set(want.items())}"


def main() -> int:
    import_s = 0.0
    work = run.ROOT / ".perfbench_work" / "selftest"
    run.configure_env(work)
    sys.path.insert(0, str(run.ROOT))
    from distributed_graph_database_spark import registry
    from distributed_graph_database_spark.graph import traversal

    import workloads as wl

    seed = 1
    try:
        # clean runs: every name and unit, no failures
        base = run.measure("serve", seed, SERVE_SECONDS, False, work, import_s)
        check_names(base, trace=False)
        assert base["failed"] == 0, base
        wall = base["end_to_end"]["wall_s"][0]
        traced = run.measure("serve", seed, SERVE_SECONDS, True, work, import_s, wall)
        check_names(traced, trace=True)
        assert traced["failed"] == 0, traced
        assert traced["per_layer"]["traversal.bfs_levels.jobs"][0] > 0, traced
        assert traced["per_layer"]["serve.refused"][0] == 1, traced
        b = run.measure("batch", 1, 1.0, True, work, import_s, 1.0, sf=0.001, batch=BATCH)
        check_names(b, trace=True)
        assert b["failed"] == 0, b
        assert b["per_layer"]["relational.jobs"][0] > 0, b

        # injected wrong answers are counted as failed
        good_leaves = traversal.dfs_leaves_from_levels
        wl.traversal.dfs_leaves_from_levels = lambda lv, e: good_leaves(lv, e).limit(1)
        try:
            bad = run.measure("serve", seed, SERVE_SECONDS, False, work, import_s)
        finally:
            wl.traversal.dfs_leaves_from_levels = good_leaves
        assert bad["failed"] >= 1 and run.report(bad, False)["correct"] is False, bad

        good_q6 = registry.QUERIES["ql_sql_q6"]
        registry.QUERIES["ql_sql_q6"] = lambda spark, sf: good_q6(spark, sf).limit(0)
        try:
            bad = run.measure("batch", 1, 1.0, False, work, import_s, sf=0.001, batch=BATCH)
        finally:
            registry.QUERIES["ql_sql_q6"] = good_q6
        assert bad["failed"] == 1, bad
        check_names(bad, trace=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("perfbench self-test: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
