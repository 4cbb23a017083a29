"""The contracts of graph/iterate.py's two loop operators on tiny
in-memory frames, the invariants of the kernels built on `propagate`
(PageRank, PPR, PPR-multi, HITS, SSSP, label propagation), and
job-count ceilings for the hot iterative graph keys: those whose loops
run on either operator, and the Brandes keys, whose fixed-length loops
stay outside both (see iterate.py).

Job counts come from Spark's status tracker, per job group — the same
attribution perfbench/tracing.py uses, so a kernel that moved its jobs
out of the caller's group would also fake a lower traced count.
"""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from distributed_graph_database_spark import cache, registry
from distributed_graph_database_spark.graph import analytics, traversal
from distributed_graph_database_spark.graph.iterate import fixpoint, propagate

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


def _rows(df: DataFrame) -> list[tuple]:
    return sorted(map(tuple, df.collect()))


def test_propagate_sums_takes_minima_and_groups_per_seed(spark):
    """On the path 1 - 2 - 3 - 4 (both directions, hop weights 5, 1, 2):
    a sum reaches only the neighbours of state rows; `keep` adds each
    state row's own value to its vertex's messages; `by` aggregates
    per seed, never across seeds."""
    edges = spark.createDataFrame(
        [(1, 2, 5), (2, 1, 5), (2, 3, 1), (3, 2, 1), (3, 4, 2), (4, 3, 2)],
        "src bigint, dst bigint, w bigint",
    )

    x = spark.createDataFrame([(1, 1), (2, 10), (4, 1000)], "v bigint, x bigint")
    got = propagate(edges, x, F.col("x"), F.sum)
    assert got.columns == ["v", "m"]
    assert _rows(got) == [(1, 10), (2, 1), (3, 1010)]

    dist = spark.createDataFrame([(1, 0), (2, 9), (3, 100)], "v bigint, d bigint")
    hop = F.col("d") + F.col("w")
    assert _rows(propagate(edges, dist, hop, F.min)) == [
        (1, 14), (2, 5), (3, 10), (4, 102)
    ]
    assert _rows(propagate(edges, dist, hop, F.min, keep=F.col("d"))) == [
        (1, 0), (2, 5), (3, 10), (4, 102)
    ]

    r = spark.createDataFrame(
        [(1, 1, 1), (4, 4, 1), (4, 3, 2)], "s bigint, v bigint, r bigint"
    )
    got = propagate(edges, r, F.col("r") * F.col("w"), F.sum, by=["s"])
    assert got.columns == ["s", "v", "m"]
    assert _rows(got) == [(1, 2, 5), (4, 2, 2), (4, 3, 2), (4, 4, 4)]


def _sym(spark, pairs):
    e = spark.createDataFrame(pairs, "src bigint, dst bigint")
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def test_lpa_clique_converges_to_one_community(spark):
    """On a clique every vertex sees all labels tied → min-label
    tie-break collapses the whole clique to its minimum vid in one
    round; the single-community invariance vs graph_components."""
    verts = [10, 11, 12, 13]
    clique = _sym(
        spark, [(a, b) for a in verts for b in verts if a < b]
    )
    got = {
        r.vid: r.community
        for r in analytics.label_propagation(clique).collect()
    }
    assert got == {v: 10 for v in verts}


def test_lpa_disjoint_cliques_stay_separate(spark):
    """Two disconnected cliques: labels must never cross — communities
    refine components, and each community is its component's min vid
    here."""
    a = [(x, y) for x in (1, 2, 3) for y in (1, 2, 3) if x < y]
    b = [(x, y) for x in (7, 8, 9) for y in (7, 8, 9) if x < y]
    got = {
        r.vid: r.community
        for r in analytics.label_propagation(_sym(spark, a + b)).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_communities_refine_components(spark, sf_oracle):
    """On the real co-purchase graph: every LPA community lies inside
    exactly one connected component (a label can only spread along
    edges), and LPA is at least as fine as components."""
    e = analytics._copurchase_edges(spark, sf_oracle).select("p1", "p2")
    sym = e.union(
        e.select(F.col("p2").alias("p1"), F.col("p1").alias("p2"))
    ).select(F.col("p1").alias("src"), F.col("p2").alias("dst"))
    comp = {
        r.vid: r.comp
        for r in traversal.connected_components(spark, sym).collect()
    }
    comm_rows = analytics.graph_communities(spark, sf_oracle).collect()
    assert set(comp) == {r.vid for r in comm_rows}
    comps_of_comm: dict = {}
    for r in comm_rows:
        comps_of_comm.setdefault(r.community, set()).add(comp[r.vid])
    for community, comps in comps_of_comm.items():
        assert len(comps) == 1, (
            f"community {community} spans components {comps}"
        )
    assert len(comps_of_comm) >= len(set(comp.values()))


def test_ppr_mass_conservation_and_seed_locality(spark, sf_oracle):
    """Random-walk-with-restart invariants: total mass ≈ 1 (the
    symmetrized graph has no dangling vertices, so nothing leaks)
    and the seed — the minimum vertex id, where all restart mass
    lands — holds the maximum stationary mass."""
    from distributed_graph_database_spark.graph import analytics

    rows = analytics.graph_ppr(spark, sf_oracle).collect()
    tot = sum(r.ppr for r in rows)
    assert abs(tot - 1.0) < 1e-3
    mx = max(rows, key=lambda r: r.ppr)
    seed = min(r.vid for r in rows)
    assert mx.vid == seed


def test_hits_mass_and_symmetric_convergence(spark, sf_oracle):
    """L1 normalization conserves unit mass on both vectors; on a
    SYMMETRIZED graph hub and authority are one power iteration one
    step apart (the normalized walk counts A⁸·1 and A⁷·1 after 4
    rounds), so they agree to within the convergence gap (well under
    1e-3 per vertex here) and share their argmax vertex."""
    from distributed_graph_database_spark.graph import analytics

    rows = analytics.graph_hits(spark, sf_oracle).collect()
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.authority for r in rows) - 1.0) < 1e-3
    assert max(abs(r.hub - r.authority) for r in rows) < 1e-3
    assert max(rows, key=lambda r: r.hub).vid == max(
        rows, key=lambda r: r.authority
    ).vid


def test_copurchase_kernels_ignore_shuffle_partitioning(spark, sf_smoke):
    """The six `propagate` kernels give the same rows with 1 and with 7
    shuffle partitions, the shared edge artifacts and the LPA labels
    rebuilt under each: HITS's walk counts are exact integers, SSSP
    takes minima, LPA's `mode` breaks a tie to the smallest label
    however its partial counts are split, and PageRank's and PPR's
    float sums round to 6 dp."""

    def drop_edge_artifacts():
        for k in [k for k in cache._MEMO if k[1] == sf_smoke and k[2] in (
                "graph_copurchase", "graph_sym", "lpa_communities")]:
            del cache._MEMO[k]

    keys = (
        analytics.graph_hits, analytics.graph_pagerank, analytics.graph_ppr,
        analytics.graph_ppr_multi, analytics.graph_sssp,
        analytics.graph_communities,
    )
    conf = "spark.sql.shuffle.partitions"
    before = spark.conf.get(conf)
    rows = {}
    try:
        for n in (1, 7):
            spark.conf.set(conf, str(n))
            drop_edge_artifacts()
            rows[n] = [sorted(map(tuple, f(spark, sf_smoke).collect())) for f in keys]
    finally:
        spark.conf.set(conf, before)
        drop_edge_artifacts()
    assert all(rows[1]) and rows[1] == rows[7]


def test_ppr_multi_restricted_to_one_seed_equals_single_source(spark, sf_smoke):
    """The sparse PPR kernel run for one seed must reproduce
    graph_ppr_multi's rows for that seed (the seed set ordered by vertex
    id starts at the min-id vertex — the single-source kernel's seed
    convention). Seeds never meet; only the order of the float sums may
    differ, so the rounded values agree to 1e-6."""
    from distributed_graph_database_spark.graph import analytics as g

    one = g._ppr_sparse(spark, sf_smoke, 1).collect()
    seed = one[0].seed
    got = {r.vid: r.ppr for r in one}
    want = {
        r.vid: r.ppr
        for r in g.graph_ppr_multi(spark, sf_smoke).collect()
        if r.seed == seed
    }
    assert {r.seed for r in one} == {seed}
    assert got.keys() == want.keys()
    for vid, ppr in got.items():
        assert abs(ppr - want[vid]) <= 1e-6 + 1e-12


def test_ppr_multi_mass_conservation_per_seed(spark, sf_smoke):
    """Every seed's walk conserves unit mass: the symmetrized
    co-purchase graph has no dangling vertices, so per round the total
    is (1−d)·1 + d·1 = 1 exactly — each seed's ppr column must sum to
    1 within rounding tolerance, over exactly |V| rows per seed."""
    from collections import defaultdict

    from distributed_graph_database_spark.graph import analytics as g

    rows = g.graph_ppr_multi(spark, sf_smoke).collect()
    per_seed = defaultdict(list)
    for r in rows:
        per_seed[r.seed].append(r.ppr)
    assert 1 <= len(per_seed) <= g.PPR_SEEDS
    sizes = {len(v) for v in per_seed.values()}
    assert len(sizes) == 1  # every seed enumerates the same vertex set
    for seed, vals in per_seed.items():
        assert abs(sum(vals) - 1.0) < 1e-4, (seed, sum(vals))


def test_pagerank_mass_conservation(spark, sf_oracle):
    """With every vertex having outdeg >= 1 on the symmetrized graph,
    total rank mass stays 1 through every round (teleport + damped
    redistribution); row count = vertex count of the support graph."""
    from distributed_graph_database_spark.graph import analytics

    pr = analytics.graph_pagerank(spark, sf_oracle)
    total = pr.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-3  # 6-dp per-vertex rounding residue
    e = analytics.graph_copurchase(spark, sf_oracle)
    n_verts = (
        e.select(F.col("p1").alias("v"))
        .union(e.select(F.col("p2").alias("v")))
        .distinct()
        .count()
    )
    assert pr.count() == n_verts


def test_sssp_source_zero_and_positive_distances(spark, sf_oracle):
    from distributed_graph_database_spark.graph import analytics

    d = {r.vid: r.dist for r in analytics.graph_sssp(spark, sf_oracle).collect()}
    src = min(
        r.p1
        for r in analytics.graph_copurchase(spark, sf_oracle)
        .select("p1")
        .collect()
    )
    assert d[src] == 0.0
    assert all(v > 0 for k, v in d.items() if k != src)
    # every reached vertex got there through >=1 edge of weight <= 1/2
    # per hop within the horizon, so distances are bounded
    assert max(d.values()) <= analytics.SSSP_ROUNDS * 0.5 + 1e-9


# Steady-state jobs per call at sf0.01 on 4 cores (graph_diameter: a
# call whose two BFS sweeps both run fresh; graph_communities: a call
# that rebuilds its memoized LPA labels). graph_components keeps the
# highest count seen over three sessions before its loop moved onto the
# kernel; k-core, k-truss and SCC take the lower counts the kernel
# brought (29, 30 and 42 jobs before); graph_diameter takes the count
# after BFS's root became a local frame and its start check a bounded
# prefix read that a `dst` hit also satisfies (44, then 38 before). The three
# Brandes keys take the counts of the one seeded kernel (61, 74 and 33
# jobs before); reading the shared symmetric edge table instead of
# checkpointing their own edges saved each one more job (50, 52 and 32
# measured), kept as slack. graph_hits takes the count of its one lazy
# power iteration (64 jobs before). PageRank, PPR, PPR-multi and SSSP
# take the counts their loops kept when they moved onto `propagate`;
# graph_communities the count of LPA's `mode` vote (13 jobs with the
# per-round count and arg-max window). AQE re-plans as stages finish,
# so a call on a busy host can run a job or two more (k-truss read 29
# once under load); the test takes the lower of two calls. A loop edit
# that adds a job per round raises both.
JOB_CEILINGS = {
    "graph_betweenness": 51,
    "graph_betweenness_multi": 53,
    "graph_closeness": 33,
    "graph_communities": 9,
    "graph_components": 15,
    "graph_diameter": 37,
    "graph_hits": 15,
    "graph_kcore": 24,
    "graph_ktruss": 27,
    "graph_pagerank": 16,
    "graph_ppr": 16,
    "graph_ppr_multi": 16,
    "graph_scc": 38,
    "graph_sssp": 10,
}

# The memoized results a counted call must rebuild, by memo name.
_REBUILT = {
    "graph_communities": lambda name: name == "lpa_communities",
    "graph_diameter": lambda name: (
        name == "bfs_levels" or name.startswith("diameter_sweep2_")),
}


@pytest.mark.parametrize("key", sorted(JOB_CEILINGS))
def test_fixpoint_key_job_ceiling(spark, sf_oracle, key):
    run = registry.QUERIES[key]
    run(spark, sf_oracle).collect()  # fills the shared inputs
    rebuilt = _REBUILT.get(key, lambda name: False)
    counts = []
    for _ in range(2):
        for k in [k for k in cache._MEMO if k[1] == sf_oracle and rebuilt(k[2])]:
            del cache._MEMO[k]
        _, jobs = group_jobs(spark, lambda: run(spark, sf_oracle).collect())
        counts.append(len(jobs))
    assert min(counts) <= JOB_CEILINGS[key], (key, counts)
