"""Global physical-plan hygiene across the whole declared surface.

Two anti-patterns are banned engine-wide (the 100 TB contract):
- `CartesianProduct` — a shuffle cartesian means some blocked/bucketed
  join degenerated to all-pairs. (BroadcastNestedLoopJoin is allowed:
  the deliberate tiny-side patterns — pinned query sets, centroid
  grids — use it by design.)
- `BatchEvalPython` / `ArrowEvalPython` — row-at-a-time or scalar
  Python UDFs in a query plan. The only sanctioned Python is the
  Arrow-batched mapInPandas kernels (`MapInPandas` nodes).

Every key is built under `cache.live_plans()`, so keys served through
`cache.shared` show their full plan, not a checkpoint scan.
"""

from __future__ import annotations

import pytest

from distributed_graph_database_spark import cache, registry

KEYS = sorted(registry.QUERIES)


@pytest.mark.parametrize("key", KEYS)
def test_no_cartesian_no_python_udf(spark, sf_oracle, key):
    with cache.live_plans():
        df = registry.QUERIES[key](spark, sf_oracle)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{key}: shuffle cartesian\n{plan}"
    assert "BatchEvalPython" not in plan, f"{key}: row Python UDF\n{plan}"
    assert "ArrowEvalPython" not in plan, f"{key}: scalar Python UDF\n{plan}"


def test_graph_modularity_community_joins_broadcast_at_bench_sf(spark):
    """VERDICT r12 #4/#5 follow-up: the modularity term build joins the
    (vertex, community) LPA table against the sym edge table twice
    (src-side, dst-side). The community table is vertex-count-sized —
    far below the broadcast threshold at bench SF — so after execution
    AQE's FINAL plan must show those joins as BroadcastHashJoins (the
    pre-r13 PLANS.md dumped initial plans, which could not prove the
    conversion). At 100 TB the same joins fall back to vertex-key
    shuffle joins; the assert pins the bench-regime shape only."""
    from distributed_graph_database_spark.graph import analytics as g_an

    df = g_an.graph_modularity(spark, "/root/testdata/sf0.1")
    df.collect()  # 1-row result; execution finalizes the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, (
        "community-side joins did not convert to broadcast:\n" + plan
    )
    assert "CartesianProduct" not in plan
