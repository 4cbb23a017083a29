"""The fixpoint kernel's contract (graph/iterate.py) on tiny in-memory
frames, and job-count ceilings for the hot iterative graph keys: those
whose loops run on it, and the Brandes keys and HITS, whose
fixed-length loops stay outside it (see iterate.py).

Job counts come from Spark's status tracker, per job group — the same
attribution perfbench/tracing.py uses, so a kernel that moved its jobs
out of the caller's group would also fake a lower traced count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_graph_database_spark import cache, registry
from distributed_graph_database_spark.graph.iterate import fixpoint

from .conftest import clear_job_group, group_jobs


def _all_job_ids(spark) -> set[int]:
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    js = sc._jsc.sc().statusStore().jobsList(None)
    return {js.apply(i).jobId() for i in range(js.size())}


def _halving(spark, **kw):
    """x ← x // 2 on three rows: 7 rounds to the all-zero fixed point.
    The probe collects (one job, no shuffle) and records what it saw;
    step records the probe value it was handed."""
    seen, handed = [], []

    def probe(s: DataFrame):
        seen.append(tuple(sorted(r.x for r in s.collect())))
        return seen[-1]

    def step(s: DataFrame, p):
        handed.append(p)
        return s.select(F.shiftright("x", 1).alias("x"))

    state0 = spark.createDataFrame([(37,), (5,), (12,)], "x bigint")
    states, last = fixpoint(state0, step, probe, lambda p, prev: p == prev, **kw)
    return states, last, seen, handed


def test_round_costs_one_job_and_step_sees_previous_probe(spark):
    (states, last, seen, handed), jobs = group_jobs(
        spark, lambda: _halving(spark, max_rounds=20, name="halving")
    )
    assert last == (0, 0, 0) and seen[-2] == seen[-1]
    assert len(states) == len(seen) == 8
    # state0's checkpoint + probe, then one job per round: the probe is
    # the action that materializes the round's lazy checkpoint.
    assert len(jobs) == len(states)
    assert handed == seen[:-1]
    for s in states:
        plan = s._jdf.queryExecution().logical().getClass().getSimpleName()
        assert plan == "LogicalRDD", plan


def test_named_loop_raises_and_bounded_loop_returns_at_bound(spark):
    with pytest.raises(RuntimeError, match="halving did not converge in 2 rounds"):
        _halving(spark, max_rounds=2, name="halving")
    states, last, seen, _ = _halving(spark, max_rounds=2)
    assert len(states) == 3 and last == seen[-1] == (1, 3, 9)


def test_known_probe0_skips_state0_checkpoint_and_probe(spark):
    state0 = spark.createDataFrame([(4,)], "x bigint").localCheckpoint(eager=True)

    (states, last), jobs = group_jobs(
        spark,
        lambda: fixpoint(
            state0,
            lambda s, p: s.select(F.shiftright("x", 1).alias("x")),
            lambda s: s.collect()[0].x,
            lambda p, prev: p == 0,
            max_rounds=10,
            probe0=4,
        ),
    )
    assert states[0] is state0 and last == 0
    assert len(states) == 4  # 4 → 2 → 1 → 0
    assert len(jobs) == len(states) - 1


def test_kernel_jobs_stay_in_the_callers_job_group(spark):
    sc = spark.sparkContext
    before = _all_job_ids(spark)
    sc.setJobGroup("caller-span", "caller-span")
    try:
        states, *_ = _halving(spark, max_rounds=20, name="halving")
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-span"
        assert sc.getLocalProperty("spark.job.description") == "caller-span"
    finally:
        clear_job_group(sc)
    new = _all_job_ids(spark) - before
    grouped = set(sc.statusTracker().getJobIdsForGroup("caller-span"))
    assert len(new) == len(states)
    assert new <= grouped


# Steady-state jobs per call at sf0.01 on 4 cores (graph_diameter: a
# call whose two BFS sweeps both run fresh). graph_components keeps the
# highest count seen over three sessions before its loop moved onto the
# kernel; k-core, k-truss and SCC take the lower counts the kernel
# brought (29, 30 and 42 jobs before); graph_diameter takes the count
# after BFS's root became a local frame and its start check a bounded
# prefix read that a `dst` hit also satisfies (44, then 38 before). The three
# Brandes keys take the counts of the one seeded kernel (61, 74 and 33
# jobs before); reading the shared symmetric edge table instead of
# checkpointing their own edges saved each one more job (50, 52 and 32
# measured), kept as slack. graph_hits takes the count of its one lazy
# power iteration (64 jobs before). AQE re-plans as stages finish, so a
# call on a busy host can run a job or two more (k-truss read 29 once
# under load); the test takes the lower of two calls. A loop edit that
# adds a job per round raises both.
JOB_CEILINGS = {
    "graph_betweenness": 51,
    "graph_betweenness_multi": 53,
    "graph_closeness": 33,
    "graph_components": 15,
    "graph_diameter": 37,
    "graph_hits": 15,
    "graph_kcore": 24,
    "graph_ktruss": 27,
    "graph_scc": 38,
}


def _fresh_bfs_sweeps(sf_dir: str) -> None:
    for k in [k for k in cache._MEMO if k[1] == sf_dir and (
            k[2] == "bfs_levels" or k[2].startswith("diameter_sweep2_"))]:
        del cache._MEMO[k]


@pytest.mark.parametrize("key", sorted(JOB_CEILINGS))
def test_fixpoint_key_job_ceiling(spark, sf_oracle, key):
    run = registry.QUERIES[key]
    run(spark, sf_oracle).collect()  # fills the shared inputs
    counts = []
    for _ in range(2):
        if key == "graph_diameter":
            _fresh_bfs_sweeps(sf_oracle)
        _, jobs = group_jobs(spark, lambda: run(spark, sf_oracle).collect())
        counts.append(len(jobs))
    assert min(counts) <= JOB_CEILINGS[key], (key, counts)
