"""Graph analytics derived from the relational tables — the operators
a graph engine grows once traversal works: bipartite projection and
triangle counting. The reference's graphs are tiny matrix files
(SURVEY.md §1); these keys exercise the same edge-table machinery on
the TPC-H-ish side of the testdata, where the graph is implied by
foreign keys (parts co-occurring in an order).

Scale notes (the point of each shape):
- `graph_copurchase` projects the lineitem (order, part) bipartite
  graph onto parts. The quadratic term is per-order basket size —
  bounded by the schema (TPC-H orders have ≤ 7 lineitems); at corpus
  scale the standard guard is a basket-size cap, the exact analogue
  of dedup_ngram's stop-shingle df cap.
- `graph_triangles` counts triangles with DEGREE-ORIENTED edges
  (each undirected edge directed from its (degree, id)-smaller
  endpoint): wedge work is Σ out-deg² where out-degree is bounded by
  ~√m after orientation — O(m^1.5) total, the classic
  compact-forward bound — instead of Σ deg² on raw adjacency, which
  dies on hub vertices. Both sides (Spark and the DuckDB oracle)
  compute the identical orientation, so the count is exact-checked.
"""

from __future__ import annotations

import math
import operator
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import shared
from ..catalog import table
from . import traversal
from .iterate import fixpoint, propagate

# Support threshold: a pair must co-occur in at least this many orders
# to become an edge. Co-occurrence of 1 is sampling noise in a basket
# graph (measured: the raw sf0.1 projection has 1.2M noise edges vs
# 3.6k support-2 edges) and the cut is what keeps the projected graph
# O(#true affinities) rather than O(Σ basket²) at corpus scale — the
# market-basket analogue of dedup_ngram's stop-shingle df cap.
COPURCHASE_MIN_ORDERS = 2

# Basket-size cap: orders with more than this many distinct parts are
# excluded from the projection BEFORE the pair join. The quadratic term
# of a basket projection is per-order basket², so one adversarial
# mega-basket (a crawler cart, a batch import) is Θ(basket²) pair rows
# through the shuffle; the cap bounds it at CAP² ≈ 4k rows per order.
# TPC-H baskets are ≤ 7 lineitems, so on the testdata the cap filters
# nothing — output invariance is pinned by
# tests/test_scale_guards.py. Mirrored in the DuckDB oracle so the
# declared semantics INCLUDE the cap (VERDICT r4 item 7: enforce the
# documented guard, don't prose it).
COPURCHASE_MAX_BASKET = 64


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry (cache.shared): the projected (p1 < p2) edge table
    feeds graph_copurchase, the symmetric graph (`_sym_edges`) and the
    triangle family (triangles, jaccard, clustering_coef, k-truss)."""
    return shared(
        spark, sf_dir, "graph_copurchase", lambda: _copurchase_impl(spark, sf_dir)
    )


def _sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The symmetric co-purchase graph, one cache.shared artifact
    ("graph_sym") → (src, dst, n_orders, outdeg): both directions of
    every co-purchase edge with its order count and src's degree. THE
    single definition every co-purchase kernel reads (PageRank, PPR,
    HITS, SSSP, label propagation, modularity, Brandes, k-core,
    assortativity, link prediction, walks), checkpointed once per
    (session, sf) — the GraphX edge table every algorithm joins
    against. Every vertex is both a src and a dst, with outdeg ≥ 1."""

    def build() -> DataFrame:
        e = _copurchase_edges(spark, sf_dir)
        sym = e.select(
            F.col("p1").alias("src"), F.col("p2").alias("dst"), "n_orders"
        ).unionAll(
            e.select(F.col("p2").alias("src"), F.col("p1").alias("dst"), "n_orders")
        )
        deg = sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
        return sym.join(deg, "src")

    return shared(spark, sf_dir, "graph_sym", build)


def _min_id_seeds(sym: DataFrame, k: int) -> DataFrame:
    """The k smallest vertex ids as (s,) — the deterministic seed set
    of the seeded kernels (PPR, SSSP, betweenness, closeness)."""
    return (
        sym.select("src").distinct().orderBy("src").limit(k)
        .select(F.col("src").alias("s"))
    )


def _copurchase_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs (p1 < p2) co-occurring in ≥ COPURCHASE_MIN_ORDERS
    orders, with the co-occurrence count: (p1, p2, n_orders).

    The basket-size window is partitioned by l_orderkey — the same key
    the self-join shuffles on — so the guard rides the one existing
    exchange instead of adding a second shuffle."""
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    basket = Window.partitionBy("l_orderkey")
    li = li.withColumn("basket_n", F.count(F.lit(1)).over(basket)).filter(
        F.col("basket_n") <= COPURCHASE_MAX_BASKET
    ).drop("basket_n")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= COPURCHASE_MIN_ORDERS)
    )


def graph_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _copurchase_edges(spark, sf_dir)


# The co-purchase graph as DuckDB CTEs — li0 → li (basket cap) → e
# (p1 < p2 with n_orders ≥ COPURCHASE_MIN_ORDERS) — the one oracle
# definition every co-purchase oracle below starts from. MATERIALIZED
# because DuckDB may otherwise inline a CTE per reference and re-run
# the lineitem self-join per use: the 21 graph oracles at sf0.1 took
# 109 s with inlined copies and take 12 s materialized (4-core host).
_COPURCHASE_CTE = f"""
WITH li0 AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
li AS MATERIALIZED (
  SELECT l_orderkey, l_partkey FROM (
    SELECT *, COUNT(*) OVER (PARTITION BY l_orderkey) AS basket_n FROM li0
  ) WHERE basket_n <= {COPURCHASE_MAX_BASKET}
),
e AS MATERIALIZED (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_orders
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {COPURCHASE_MIN_ORDERS}
)"""

ORACLE_GRAPH_COPURCHASE = f"""{_COPURCHASE_CTE}
SELECT p1, p2, n_orders FROM e
"""


def _degrees(e: DataFrame) -> DataFrame:
    """(v, d) over the undirected (p1 < p2) edge table."""
    return (
        e.select(F.col("p1").alias("v"))
        .unionAll(e.select(F.col("p2").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )


def _sym_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, d): the degrees graph_sym already holds as outdeg."""
    return _sym_edges(spark, sf_dir).groupBy(F.col("src").alias("v")).agg(
        F.max("outdeg").alias("d")
    )


def _oriented_edges(e: DataFrame) -> DataFrame:
    """Degree-oriented edges (a, b): each undirected edge pointed from
    its (degree, id)-smaller endpoint — the compact-forward orientation
    that bounds wedge enumeration at O(m^1.5) regardless of hubs."""
    deg = _degrees(e)
    da = deg.select(F.col("v").alias("p1"), F.col("d").alias("d1"))
    db = deg.select(F.col("v").alias("p2"), F.col("d").alias("d2"))
    with_deg = e.join(da, "p1").join(db, "p2")
    fwd = (F.col("d1") < F.col("d2")) | (
        (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
    )
    return with_deg.select(
        F.when(fwd, F.col("p1")).otherwise(F.col("p2")).alias("a"),
        F.when(fwd, F.col("p2")).otherwise(F.col("p1")).alias("b"),
    )


def _closed_triangles(o: DataFrame) -> DataFrame:
    """(a, b, c) closed triangles from an oriented edge table: wedges
    joined on the middle vertex, closed by an equi-join on the (a, c)
    edge — three hash joins, no hub neighborhood ever materialized.
    Each undirected triangle appears exactly once."""
    o1 = o.select("a", "b")
    o2 = o.select(F.col("a").alias("b"), F.col("b").alias("c"))
    o3 = o.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    return (
        o1.join(o2, "b")
        .join(o3, (F.col("a") == F.col("ta")) & (F.col("c") == F.col("tc")))
        .select("a", "b", "c")
    )


def _tri_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-cached closed-triangle table (cache.shared): three
    declared keys are views over it (triangles = count, jaccard =
    per-edge membership, clustering_coef = per-vertex membership), so
    the O(m^1.5) enumeration runs once per (session, sf) — at 100 TB
    this is the materialized triangle table every motif query reads.
    The oriented edge table it enumerates over is shared too, so under
    cache.live_plans the whole copurchase → orientation → enumeration
    chain stays in the plan."""
    return shared(
        spark,
        sf_dir,
        "graph_tri",
        lambda: _closed_triangles(
            shared(
                spark,
                sf_dir,
                "graph_oriented",
                lambda: _oriented_edges(
                    _copurchase_edges(spark, sf_dir).select("p1", "p2")
                ),
            )
        ),
    )


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle count of the co-purchase graph → one row
    (n_triangles), counted off the shared closed-triangle table."""
    return _tri_cached(spark, sf_dir).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


ORACLE_GRAPH_TRIANGLES = f"""
{_COPURCHASE_CTE},
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT p1 AS v FROM e UNION ALL SELECT p2 AS v FROM e)
  GROUP BY v
),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.p1 < e.p2)
              THEN e.p1 ELSE e.p2 END AS a,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.p1 < e.p2)
              THEN e.p2 ELSE e.p1 END AS b
  FROM e JOIN deg da ON e.p1 = da.v JOIN deg db ON e.p2 = db.v
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM o o1
JOIN o o2 ON o1.b = o2.a
WHERE EXISTS (SELECT 1 FROM o o3 WHERE o3.a = o1.a AND o3.b = o2.b)
"""


PR_ROUNDS = 5      # fixed round count: deterministic, oracle-unrollable
PR_DAMPING = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the (symmetrized) co-purchase graph, PR_ROUNDS
    fixed power iterations → (vid, round(rank, 6)).

    The engine's flagship *iterative analytics* operator beyond
    traversal: same driver-loop shape as bfs_levels/components — per
    round one `propagate` sum over the shared symmetric edge table
    (`_sym_edges`), lazy rank state. The round count is FIXED (not
    convergence-driven) on purpose: both engines run exactly
    PR_ROUNDS supersteps, so the DuckDB oracle can unroll them as
    generated CTEs and hash-check the float ranks (rounded 6 dp —
    cross-engine sum-order ulp drift over 5 rounds is ~1e-14).

    Scale: rank state is one double per vertex, partitioned like the
    edge table's src so each round's join reuses the partitioning; at
    100 TB the edge table is the bucketed canonical one and this loop
    is GraphX's Pregel superstep expressed in DataFrame algebra.
    """
    # The rounds stay lazy: with a fixed small round count the whole
    # iteration is one linear plan, and a per-round materialization
    # would quintuple the stage overhead (measured 11.6s → ~4s at
    # sf0.1). Unbounded-round loops (BFS, components) checkpoint per
    # round because their lineage is unbounded; a fixed-superstep
    # kernel's isn't.
    sym = _sym_edges(spark, sf_dir)
    vs = sym.select(F.col("src").alias("v")).distinct()
    verts = vs.crossJoin(F.broadcast(vs.agg(F.count(F.lit(1)).alias("n"))))
    ranks = verts.select("v", (F.lit(1.0) / F.col("n")).alias("r"))
    for _ in range(PR_ROUNDS):
        contrib = propagate(sym, ranks, F.col("r") / F.col("outdeg"), F.sum)
        ranks = verts.join(contrib, "v", "left").select(
            "v",
            (
                (1.0 - PR_DAMPING) / F.col("n")
                + PR_DAMPING * F.coalesce("m", F.lit(0.0))
            ).alias("r"),
        )
    return ranks.select(F.col("v").alias("vid"), F.round("r", 6).alias("rank"))


def _oracle_pagerank() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
n AS (SELECT COUNT(*) AS n FROM deg),
r0 AS (SELECT src AS v, 1.0 / n.n AS r FROM deg CROSS JOIN n)"""
    rounds = []
    for k in range(1, PR_ROUNDS + 1):
        prev = f"r{k - 1}"
        rounds.append(f""",
c{k} AS (
  SELECT sym.dst AS v, SUM({prev}.r / deg.outdeg) AS contrib
  FROM sym JOIN {prev} ON sym.src = {prev}.v
           JOIN deg ON sym.src = deg.src
  GROUP BY sym.dst
),
r{k} AS (
  SELECT deg.src AS v,
         (1.0 - {PR_DAMPING}) / n.n
           + {PR_DAMPING} * COALESCE(c{k}.contrib, 0.0) AS r
  FROM deg CROSS JOIN n LEFT JOIN c{k} ON deg.src = c{k}.v
)""")
    return (
        base
        + "".join(rounds)
        + f"\nSELECT v AS vid, ROUND(r, 6) AS rank FROM r{PR_ROUNDS}"
    )


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSONALIZED PageRank from the minimum-id vertex (the sssp seed
    convention), PR_ROUNDS fixed power iterations → (vid,
    round(ppr, 6)): random walk with restart — all teleport mass
    returns to the SOURCE instead of spreading uniformly, so the
    stationary mass ranks vertices by proximity-weighted connectivity
    to the seed. The similarity/recommendation primitive (related
    products, seed-expansion community detection) the reference's
    per-graph BFS could only approximate by hop count.

    Same kernel as graph_pagerank — per round one `propagate` sum over
    the shared degree-annotated edges (`_sym_edges`), lazy bounded
    lineage — differing only in the restart vector: the
    (1-d) mass lands on the indicator [v = source] rather than 1/n.
    Since r11 this is literally the k=1 case of the batched sparse
    kernel (_ppr_sparse below): PPR's restart vector is SPARSE (unlike
    pagerank's dense 1/n), so the rank state only ever carries rows
    with mass and the per-round dense (seed × vertex) join is gone."""
    return _ppr_sparse(spark, sf_dir, 1).select("vid", F.col("ppr"))


PPR_SEEDS = 8  # batched restart-set size (the BETW_SEEDS convention)


def graph_ppr_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-seed personalized PageRank → (seed, vid, ppr):
    the PPR_SEEDS minimum-id vertices each run their own restart walk,
    all in ONE plan with a seed column — the layout graph_ppr's
    docstring promises ("at 100 TB many seeds run as one plan") and
    the form a recommender actually executes: related-items for a
    BATCH of query products, not one.

    Kernel (r11 SPARSE rank state — the measured A/B win): rank mass
    lives only on rows that HAVE mass. PPR's restart vector is an
    indicator on the seed, so unlike pagerank there is no dense term:
    per round one `propagate` sum grouped by (seed, dst), and
    the d·contrib rows simply UNION the (1-d) seed rows — the next
    round's sum absorbs both. The dense K·|V| (seed × vertex)
    left-join the r10 kernel ran EVERY round (to materialize zeros
    nobody consumes — a zero-mass row contributes exactly 0.0 to the
    next contrib sum) now runs ONCE at the end to densify the
    declared output. Measured (same-session interleaved medians of 3,
    exact 6-dp parity both SFs): 2.91→2.61 s sf0.1, 6.56→5.17 s sf1.
    At 100 TB the saving is structural: per-round state is
    O(reached), not O(K·V). Lazy bounded lineage (fixed PR_ROUNDS
    supersteps — the pagerank and HITS discipline). Output stays
    K·|V| rows — the full per-seed mass vector (zero beyond the
    PR_ROUNDS-hop horizon)."""
    return _ppr_sparse(spark, sf_dir, PPR_SEEDS).select("seed", "vid", F.col("ppr"))


def _ppr_sparse(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Shared sparse-state PPR kernel → (seed, vid, ppr) for the k
    minimum-id seeds; graph_ppr is the k=1 caller. Mass rows:
    state₀ = {(s, s, 1.0)}; per round state' = d·(edge-propagated
    contrib) ∪ (1-d)·seed-indicator; densified once at the end."""
    sym = _sym_edges(spark, sf_dir)
    seeds = _min_id_seeds(sym, k)
    verts = (
        sym.select(F.col("src").alias("v")).distinct()
        .crossJoin(F.broadcast(seeds))
        .localCheckpoint(eager=False)
    )
    state = seeds.select(
        "s", F.col("s").alias("v"), F.lit(1.0).alias("r")
    ).localCheckpoint(eager=False)
    # derived from the CHECKPOINTED state, not the raw seeds subplan:
    # restart is unioned into every round, so deriving it from seeds
    # would embed the distinct + sort-limit subtree PR_ROUNDS
    # times in the final lazy plan (r11 review finding)
    restart = state.select(
        "s", "v", F.lit(1.0 - PR_DAMPING).alias("r")
    )
    for _ in range(PR_ROUNDS):
        contrib = propagate(
            sym, state, F.col("r") / F.col("outdeg"), F.sum, by=["s"]
        ).select("s", "v", (F.lit(PR_DAMPING) * F.col("m")).alias("r"))
        state = contrib.unionByName(restart)
    mass = state.groupBy("s", "v").agg(F.sum("r").alias("r"))
    return (
        verts.join(
            mass.select(
                F.col("s").alias("ms"), F.col("v").alias("mv"), "r"
            ),
            (F.col("v") == F.col("mv")) & (F.col("s") == F.col("ms")),
            "left",
        )
        .select(
            F.col("s").alias("seed"),
            F.col("v").alias("vid"),
            F.round(F.coalesce("r", F.lit(0.0)), 6).alias("ppr"),
        )
    )


def _oracle_ppr_multi() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
sv AS (SELECT src AS s FROM deg ORDER BY src LIMIT {PPR_SEEDS}),
b AS (
  SELECT sv.s, deg.src AS v,
         CASE WHEN deg.src = sv.s THEN 1.0 ELSE 0.0 END AS ind
  FROM deg CROSS JOIN sv
),
r0 AS (SELECT s, v, ind AS r FROM b)"""
    rounds = []
    for k in range(1, PR_ROUNDS + 1):
        prev = f"r{k - 1}"
        rounds.append(f""",
c{k} AS (
  SELECT {prev}.s, sym.dst AS v, SUM({prev}.r / deg.outdeg) AS contrib
  FROM sym JOIN {prev} ON sym.src = {prev}.v
           JOIN deg ON sym.src = deg.src
  GROUP BY {prev}.s, sym.dst
),
r{k} AS (
  SELECT b.s, b.v,
         (1.0 - {PR_DAMPING}) * b.ind
           + {PR_DAMPING} * COALESCE(c{k}.contrib, 0.0) AS r
  FROM b LEFT JOIN c{k} ON b.s = c{k}.s AND b.v = c{k}.v
)""")
    return (
        base
        + "".join(rounds)
        + f"\nSELECT s AS seed, v AS vid, ROUND(r, 6) AS ppr FROM r{PR_ROUNDS}"
    )


HITS_ROUNDS = 4  # fixed mutual-reinforcement iterations (oracle-unrollable)


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities, HITS_ROUNDS fixed mutual-
    reinforcement iterations with L1 normalization →
    (vid, round(hub, 6), round(authority, 6)). The third classic
    eigenvector centrality next to pagerank (global stationary walk)
    and PPR (seeded walk): authority mass flows FROM hubs over edges,
    hub mass from authorities back — on the symmetrized co-purchase
    graph the two converge toward the dominant eigenvector of A², and
    their divergence from pagerank is exactly the degree-vs-walk
    distinction an analyst wants surfaced.

    One power iteration: on a symmetric graph A = Aᵀ, so from the
    uniform start a_k ∝ A^(2k−1)·1 and h_k ∝ A^(2k)·1, and since L1
    normalization of a non-negative vector is scale-invariant it runs
    once, at the end. The kernel is a lazy chain of walk counts
    v_{j+1} = groupBy(dst).sum over sym ⋈ v_j (one `propagate` sum)
    from v₁ = outdeg, and
    authority = v₇/Σv₇, hub = v₈/Σv₈ (HITS_ROUNDS = 4). The counts
    are exact bigints — no summation-order noise, no dependence on
    partitioning — so the only float op is that final division. They
    stay far below 2⁶³ (largest on the testdata: Σv₈ = 4.1e13 at
    sf0.001, max degree 51), and an overflow would raise under ANSI
    mode rather than wrap. Each vector feeds only the next step, and
    v₇/v₈ their normalization, so the lineage is a linear chain like
    pagerank's. The DuckDB oracle keeps the per-half-step
    normalization, an independent check of the algebra."""
    sym = _sym_edges(spark, sf_dir)
    # v₂ needs no join: each sym row carries its src's v₁ = outdeg.
    walks = [sym.groupBy(F.col("dst").alias("v")).agg(F.sum("outdeg").alias("m"))]
    for _ in range(2 * HITS_ROUNDS - 2):
        walks.append(propagate(sym, walks[-1], F.col("m"), F.sum))

    def l1(x: DataFrame, name: str) -> DataFrame:
        t = x.agg(F.sum("m").alias("t"))
        return x.crossJoin(F.broadcast(t)).select(
            "v", F.round(F.col("m") / F.col("t"), 6).alias(name)
        )

    return l1(walks[-1], "hub").join(l1(walks[-2], "authority"), "v").select(
        F.col("v").alias("vid"), "hub", "authority"
    )


def _oracle_hits() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
verts AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym),
n AS (SELECT COUNT(*) AS n FROM verts),
h0 AS (SELECT v, 1.0 / n.n AS h FROM verts CROSS JOIN n)"""
    rounds = []
    for k in range(1, HITS_ROUNDS + 1):
        prev = f"h{k - 1}"
        rounds.append(f""",
ar{k} AS MATERIALIZED (
  SELECT sym.dst AS v, SUM({prev}.h) AS a_raw
  FROM sym JOIN {prev} ON sym.src = {prev}.v GROUP BY sym.dst
),
a{k} AS MATERIALIZED (
  SELECT verts.v,
         COALESCE(ar{k}.a_raw, 0.0)
           / (SELECT SUM(a_raw) FROM ar{k}) AS a
  FROM verts LEFT JOIN ar{k} ON verts.v = ar{k}.v
),
hr{k} AS MATERIALIZED (
  SELECT sym.src AS v, SUM(a{k}.a) AS h_raw
  FROM sym JOIN a{k} ON sym.dst = a{k}.v GROUP BY sym.src
),
h{k} AS MATERIALIZED (
  SELECT verts.v,
         COALESCE(hr{k}.h_raw, 0.0)
           / (SELECT SUM(h_raw) FROM hr{k}) AS h
  FROM verts LEFT JOIN hr{k} ON verts.v = hr{k}.v
)""")
    last = HITS_ROUNDS
    return (
        base
        + "".join(rounds)
        + f"""
SELECT h{last}.v AS vid, ROUND(h{last}.h, 6) AS hub,
       ROUND(a{last}.a, 6) AS authority
FROM h{last} JOIN a{last} ON h{last}.v = a{last}.v"""
    )


BETW_H = 4  # bounded BFS horizon for the dependency pass (the
            # SSSP_ROUNDS convention: fixed ⇒ oracle-unrollable)
BETW_SEEDS = 8  # seed-set size for the batched approximation


def _brandes_levels(sym: DataFrame, seeds: DataFrame) -> list[DataFrame]:
    """Brandes' forward pass for every seed (s,) at once → BETW_H + 1
    per-level (s, v, sigma) frames: level h holds the vertices first
    reached from s in h hops, σ their shortest-path counts (exact
    bigint). One frontier join + σ-sum per level, a left-anti join
    against the visited union, an eager checkpoint. The visited set is
    a union of checkpointed levels, so it needs no checkpoint of its
    own. No `iterate.fixpoint` here: the level count is the fixed
    horizon, and its count probe would cost a job per level."""
    lv = [
        seeds.select(
            "s", F.col("s").alias("v"), F.lit(1).cast("bigint").alias("sigma")
        ).localCheckpoint(eager=True)
    ]
    visited = lv[0].select("s", "v")
    for _ in range(BETW_H):
        lv.append(
            sym.join(lv[-1], sym.src == F.col("v"))
            .groupBy("s", "dst")
            .agg(F.sum("sigma").alias("sigma"))
            .select("s", F.col("dst").alias("v"), "sigma")
            .join(visited, ["s", "v"], "left_anti")
            .localCheckpoint(eager=True)
        )
        visited = visited.unionByName(lv[-1].select("s", "v"))
    return lv


def _brandes(sym: DataFrame, seeds: DataFrame) -> list[DataFrame]:
    """Brandes' dependency accumulation for every seed (s,) at once →
    per-level (s, v, sigma, delta) frames, level 0 first, with
    δ(v) = Σ_{w∈succ(v)} σ(v)/σ(w) · (1 + δ(w)) over the next level.
    Per level one chain, level ⟕ sym ⟕ next level's δ frame (which
    carries σ(w)), grouped by (s, v, σ): a vertex with no successor
    sums nothing and gets 0. Seeds never meet, so K seeds ride one
    plan and a seed's rows equal its one-seed run.

    Every δ level is checkpointed eagerly: it has two consumers (the
    level above and the caller's union), and skipping alternate
    checkpoints measured 69 → 81 jobs (AB_BRANDES_R11.json)."""
    lv = _brandes_levels(sym, seeds)
    deltas = [lv[-1].withColumn("delta", F.lit(0.0))]
    for level in lv[-2::-1]:
        succ = deltas[-1].select(
            F.col("s").alias("ss"),
            F.col("v").alias("w"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        deltas.append(
            level.join(sym, level.v == sym.src, "left")
            .join(
                succ, (F.col("dst") == F.col("w")) & (F.col("s") == F.col("ss")), "left"
            )
            .groupBy("s", "v", "sigma")
            .agg(
                F.coalesce(
                    F.sum(
                        F.col("sigma") / F.col("w_sigma")
                        * (F.lit(1.0) + F.col("w_delta"))
                    ),
                    F.lit(0.0),
                ).alias("delta")
            )
            .localCheckpoint(eager=True)
        )
    return deltas[::-1]


def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source Brandes from the minimum-id seed over a BETW_H-hop
    horizon → (vid, level, sigma, delta): the `_brandes` kernel with one
    seed, the inner loop of betweenness centrality. Full betweenness is
    the SUM of this pass over a seed set (`graph_betweenness_multi`).
    σ stays exact bigint; δ is the only float (round 6)."""
    sym = _sym_edges(spark, sf_dir)
    deltas = _brandes(sym, _min_id_seeds(sym, 1))
    return reduce(DataFrame.unionByName, [
        d.select(
            F.col("v").alias("vid"),
            F.lit(level).cast("int").alias("level"),
            "sigma",
            F.round("delta", 6).alias("delta"),
        )
        for level, d in enumerate(deltas)
    ])


def graph_betweenness_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched multi-seed Brandes: the `_brandes` kernel for the
    BETW_SEEDS minimum-id seeds as ONE plan, δ summed across seeds →
    (vid, n_seeds, betweenness) with betweenness = Σ_s δ_s(v) over
    v ≠ s and n_seeds = how many seeds' BETW_H-hop horizons reached v.
    The standard sampled approximation of betweenness centrality
    (Brandes–Pich: scale by |V|/|seeds| for the unbiased estimate).
    K seeds cost one job of ~K× rows per level instead of K
    driver-sequenced runs: at small K each round's shuffle launch
    overhead, not its rows, dominates."""
    sym = _sym_edges(spark, sf_dir)
    deltas = _brandes(sym, _min_id_seeds(sym, BETW_SEEDS))
    return (
        reduce(DataFrame.unionByName, deltas)
        .filter(F.col("v") != F.col("s"))
        .groupBy(F.col("v").alias("vid"))
        .agg(
            F.count(F.lit(1)).alias("n_seeds"),
            F.round(F.sum("delta"), 6).alias("betweenness"),
        )
    )


def _oracle_betweenness_multi() -> str:
    """Seed-batched unroll: the single-source oracle's CTE chain with
    a seed column threaded through every frontier/visited/σ/δ stage."""
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
sv AS (SELECT src AS s FROM (
         SELECT DISTINCT src FROM sym ORDER BY src LIMIT {BETW_SEEDS})),
l0 AS MATERIALIZED (
  SELECT s, s AS v, CAST(1 AS BIGINT) AS sigma FROM sv
),
vis0 AS MATERIALIZED (SELECT s, v FROM l0)"""
    parts = []
    for k in range(1, BETW_H + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (
  SELECT t.s, t.v, t.sigma FROM (
    SELECT l{k - 1}.s AS s, sym.dst AS v,
           CAST(SUM(l{k - 1}.sigma) AS BIGINT) AS sigma
    FROM sym JOIN l{k - 1} ON sym.src = l{k - 1}.v
    GROUP BY l{k - 1}.s, sym.dst
  ) t LEFT JOIN vis{k - 1} vx ON vx.s = t.s AND vx.v = t.v
  WHERE vx.v IS NULL
),
vis{k} AS MATERIALIZED (
  SELECT s, v FROM vis{k - 1} UNION ALL SELECT s, v FROM l{k}
)""")
    parts.append(f""",
d{BETW_H} AS MATERIALIZED (
  SELECT s, v, sigma, 0.0 AS delta FROM l{BETW_H})""")
    for level in range(BETW_H - 1, -1, -1):
        nxt = level + 1
        parts.append(f""",
c{level} AS MATERIALIZED (
  SELECT l.s, l.v,
         SUM(l.sigma / CAST(d.sigma AS DOUBLE) * (1.0 + d.delta)) AS dep
  FROM l{level} l
  JOIN sym ON l.v = sym.src
  JOIN d{nxt} d ON d.s = l.s AND d.v = sym.dst
  GROUP BY l.s, l.v
),
d{level} AS MATERIALIZED (
  SELECT l.s, l.v, l.sigma, COALESCE(c.dep, 0.0) AS delta
  FROM l{level} l LEFT JOIN c{level} c ON c.s = l.s AND c.v = l.v
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT s, v, delta FROM d{lvl}" for lvl in range(BETW_H + 1)
    )
    return (
        base
        + "".join(parts)
        + f""",
alld AS ({unions})
SELECT CAST(v AS BIGINT) AS vid,
       CAST(COUNT(*) AS BIGINT) AS n_seeds,
       ROUND(SUM(delta), 6) AS betweenness
FROM alld WHERE v <> s GROUP BY v"""
    )


# Exact-harmonic scale: lcm(1..BETW_H), so Σ cnt_h/h has the integer
# numerator Σ cnt_h·(LCM/h) — the float harmonic is ONE division of
# that exact bigint, identical on both engines, instead of a
# summation-order-dependent float fold.
CLOSE_LCM = math.lcm(*range(1, BETW_H + 1))


def graph_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon closeness centrality for the BETW_SEEDS
    minimum-id seeds → (vid, n_reached, sum_dist, harmonic_num,
    closeness, harmonic): per seed, the BETW_H-hop reachable count,
    total shortest-path distance, truncated closeness
    n_reached/sum_dist (the within-reachable-set form; multiply by
    n_reached/(N−1) for the Wasserman–Faust variant — both factors
    are in the output), and harmonic centrality Σ 1/d(v,·), the form
    that stays meaningful on disconnected graphs. Each row is that
    seed's own EXACT truncated centrality — nothing is sampled.

    Shape: per-seed row counts of `_brandes_levels`' forward levels
    (a level's rows are the vertices first reached at that distance).
    Exactness: sum_dist = Σ cnt_h·h and harmonic_num = Σ cnt_h·(LCM/h)
    are exact bigints (LCM = lcm(1..BETW_H) makes every per-level
    weight integral); the two float columns are each ONE division of
    exact integers, so round(6) never sees summation-order noise."""
    sym = _sym_edges(spark, sf_dir)
    levels = _brandes_levels(sym, _min_id_seeds(sym, BETW_SEEDS))
    counts = reduce(DataFrame.unionByName, [
        levels[h].groupBy("s").agg(F.count(F.lit(1)).alias("cnt")).select(
            "s",
            "cnt",
            F.lit(h).cast("bigint").alias("level"),
            # LCM/h is a Python-int literal per level, so the harmonic
            # numerator never divides at runtime.
            (F.col("cnt") * F.lit(CLOSE_LCM // h)).alias("hnum"),
        )
        for h in range(1, BETW_H + 1)
    ])
    agg = counts.groupBy(F.col("s").alias("vid")).agg(
        F.sum("cnt").cast("bigint").alias("n_reached"),
        F.sum(F.col("cnt") * F.col("level")).cast("bigint").alias("sum_dist"),
        F.sum("hnum").cast("bigint").alias("harmonic_num"),
    )
    return agg.select(
        "vid",
        "n_reached",
        "sum_dist",
        "harmonic_num",
        F.round(
            F.col("n_reached").cast("double") / F.col("sum_dist"), 6
        ).alias("closeness"),
        F.round(
            F.col("harmonic_num").cast("double") / F.lit(CLOSE_LCM), 6
        ).alias("harmonic"),
    )


def _oracle_closeness() -> str:
    """Seed-batched BFS unroll (the betweenness-multi frontier chain
    without σ/δ), folded to per-level counts then the exact-integer
    closeness algebra."""
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
sv AS (SELECT src AS s FROM (
         SELECT DISTINCT src FROM sym ORDER BY src LIMIT {BETW_SEEDS})),
f0 AS MATERIALIZED (SELECT s, s AS v FROM sv),
vis0 AS MATERIALIZED (SELECT s, v FROM f0)"""
    parts = []
    for k in range(1, BETW_H + 1):
        parts.append(f""",
f{k} AS MATERIALIZED (
  SELECT t.s, t.v FROM (
    SELECT DISTINCT f.s AS s, sym.dst AS v
    FROM sym JOIN f{k - 1} f ON sym.src = f.v
  ) t LEFT JOIN vis{k - 1} vx ON vx.s = t.s AND vx.v = t.v
  WHERE vx.v IS NULL
),
vis{k} AS MATERIALIZED (
  SELECT s, v FROM vis{k - 1} UNION ALL SELECT s, v FROM f{k}
)""")
    unions = "\nUNION ALL ".join(
        f"SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,"
        f" CAST({k} AS BIGINT) AS level,"
        f" CAST(COUNT(*) * {CLOSE_LCM // k} AS BIGINT) AS hnum"
        f" FROM f{k} GROUP BY s"
        for k in range(1, BETW_H + 1)
    )
    return (
        base
        + "".join(parts)
        + f""",
counts AS ({unions})
SELECT CAST(s AS BIGINT) AS vid,
       CAST(SUM(cnt) AS BIGINT) AS n_reached,
       CAST(SUM(cnt * level) AS BIGINT) AS sum_dist,
       CAST(SUM(hnum) AS BIGINT) AS harmonic_num,
       ROUND(CAST(SUM(cnt) AS DOUBLE) / SUM(cnt * level), 6) AS closeness,
       ROUND(CAST(SUM(hnum) AS DOUBLE) / {CLOSE_LCM}, 6) AS harmonic
FROM counts GROUP BY s"""
    )


def _oracle_betweenness() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
sv AS (SELECT MIN(src) AS s FROM sym),
l0 AS MATERIALIZED (
  SELECT s AS v, CAST(1 AS BIGINT) AS sigma FROM sv
),
vis0 AS MATERIALIZED (SELECT v FROM l0)"""
    parts = []
    for k in range(1, BETW_H + 1):
        parts.append(f""",
l{k} AS MATERIALIZED (
  SELECT sym.dst AS v, CAST(SUM(l{k - 1}.sigma) AS BIGINT) AS sigma
  FROM sym JOIN l{k - 1} ON sym.src = l{k - 1}.v
  WHERE sym.dst NOT IN (SELECT v FROM vis{k - 1})
  GROUP BY sym.dst
),
vis{k} AS MATERIALIZED (
  SELECT v FROM vis{k - 1} UNION ALL SELECT v FROM l{k}
)""")
    parts.append(f""",
d{BETW_H} AS MATERIALIZED (SELECT v, sigma, 0.0 AS delta FROM l{BETW_H})""")
    for level in range(BETW_H - 1, -1, -1):
        nxt = level + 1
        parts.append(f""",
c{level} AS MATERIALIZED (
  SELECT l{level}.v,
         SUM(l{level}.sigma / CAST(d{nxt}.sigma AS DOUBLE)
             * (1.0 + d{nxt}.delta)) AS dep
  FROM l{level}
  JOIN sym ON l{level}.v = sym.src
  JOIN d{nxt} ON sym.dst = d{nxt}.v
  GROUP BY l{level}.v
),
d{level} AS MATERIALIZED (
  SELECT l{level}.v, l{level}.sigma, COALESCE(c{level}.dep, 0.0) AS delta
  FROM l{level} LEFT JOIN c{level} ON l{level}.v = c{level}.v
)""")
    selects = [
        f"SELECT v AS vid, CAST({lvl} AS INT) AS level, sigma,"
        f" ROUND(delta, 6) AS delta FROM d{lvl}"
        for lvl in range(BETW_H + 1)
    ]
    return base + "".join(parts) + "\n" + "\nUNION ALL ".join(selects)


def _oracle_ppr() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
deg AS (SELECT src, COUNT(*) AS outdeg FROM sym GROUP BY src),
sv AS (SELECT MIN(src) AS s FROM deg),
r0 AS (
  SELECT src AS v, CASE WHEN src = sv.s THEN 1.0 ELSE 0.0 END AS r
  FROM deg CROSS JOIN sv
)"""
    rounds = []
    for k in range(1, PR_ROUNDS + 1):
        prev = f"r{k - 1}"
        rounds.append(f""",
c{k} AS (
  SELECT sym.dst AS v, SUM({prev}.r / deg.outdeg) AS contrib
  FROM sym JOIN {prev} ON sym.src = {prev}.v
           JOIN deg ON sym.src = deg.src
  GROUP BY sym.dst
),
r{k} AS (
  SELECT deg.src AS v,
         (1.0 - {PR_DAMPING})
           * (CASE WHEN deg.src = sv.s THEN 1.0 ELSE 0.0 END)
           + {PR_DAMPING} * COALESCE(c{k}.contrib, 0.0) AS r
  FROM deg CROSS JOIN sv LEFT JOIN c{k} ON deg.src = c{k}.v
)""")
    return (
        base
        + "".join(rounds)
        + f"\nSELECT v AS vid, ROUND(r, 6) AS ppr FROM r{PR_ROUNDS}"
    )


SSSP_ROUNDS = 5  # ≤5-hop horizon: fixed rounds ⇒ oracle-unrollable


def graph_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths on the co-purchase graph
    (weight = 1/n_orders — strong affinity ⇒ short edge), SSSP_ROUNDS
    Bellman-Ford relaxations from the minimum vertex id →
    (vid, round(dist, 6)) for vertices within the hop horizon.

    The weighted complement to bfs_levels' hop counting: per round one
    self-inclusive `propagate` min, lazy like graph_pagerank
    (fixed rounds ⇒ bounded lineage, one job). Distances are exact
    across engines even before rounding — both sides accumulate each
    path left-to-right through the identical recurrence — rounding
    just removes min-tie ambiguity at the 6-dp boundary.

    At 100 TB: this IS the Pregel SSSP kernel on DataFrames; the
    round count becomes a convergence loop with per-round checkpoints
    (the bfs_levels shape) once the horizon is unbounded.
    """
    sym = _sym_edges(spark, sf_dir)
    dist = _min_id_seeds(sym, 1).select(
        F.col("s").alias("v"), F.lit(0.0).alias("dist")
    )
    hop = F.col("dist") + F.lit(1.0) / F.col("n_orders")
    for _ in range(SSSP_ROUNDS):
        dist = propagate(sym, dist, hop, F.min, keep=F.col("dist")).select(
            "v", F.col("m").alias("dist")
        )
    return dist.select(F.col("v").alias("vid"), F.round("dist", 6).alias("dist"))


def _oracle_sssp() -> str:
    # AS MATERIALIZED on every CTE referenced more than once: DuckDB
    # may otherwise INLINE a CTE per reference, re-running the whole
    # co-purchase derivation at every unrolled round (measured 3.6s vs
    # 0.1s at sf0.01 — and exponential risk as rounds grow).
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst, 1.0 / n_orders AS w FROM e
        UNION ALL SELECT p2, p1, 1.0 / n_orders FROM e),
d0 AS MATERIALIZED (SELECT MIN(src) AS v, 0.0 AS dist FROM sym)"""
    rounds = []
    for k in range(1, SSSP_ROUNDS + 1):
        prev = f"d{k - 1}"
        rounds.append(f""",
d{k} AS MATERIALIZED (
  SELECT v, MIN(dist) AS dist FROM (
    SELECT v, dist FROM {prev}
    UNION ALL
    SELECT sym.dst AS v, {prev}.dist + sym.w AS dist
    FROM sym JOIN {prev} ON sym.src = {prev}.v
  ) GROUP BY v
)""")
    return (
        base
        + "".join(rounds)
        + f"\nSELECT v AS vid, ROUND(dist, 6) AS dist FROM d{SSSP_ROUNDS}"
    )


KCORE_K = 2
KCORE_MAX_ROUNDS = 50        # safety bound on the Spark peel loop
KCORE_ORACLE_ROUNDS = 6      # oracle peel depth (idempotent past
                             # convergence; sf0.01 converges in 3)


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k = KCORE_K) of the co-purchase graph:
    iteratively peel every vertex whose degree within the surviving
    subgraph is < k until fixpoint → (vid, core_degree) for the
    surviving core. The standard graph-cleaning primitive (spam/noise
    vertices peel away; the dense core is what downstream analytics
    run on).

    Scale shape: each round is one groupBy-degree + semi-joins over
    the CURRENT survivor set — every round removes ALL sub-k vertices
    at once, so the round count is the peel DEPTH of the graph (small
    in practice; bounded by degeneracy ordering length), not the
    vertex count. Rounds run on `iterate.fixpoint`, which raises if
    KCORE_MAX_ROUNDS is hit without convergence rather than silently
    returning an unpeeled set (the components lesson, ADVICE r2)."""
    def peel(sub: DataFrame, _) -> DataFrame:
        survivors = (
            sub.groupBy("src")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select(F.col("src").alias("v"))
        )
        # The survivor set is vertex-sized (≤ what one round's groupBy
        # already produced) — broadcast it into BOTH semi-joins so the
        # surviving edge set is filtered map-side instead of being
        # shuffled twice per round; with peel-depth many rounds the
        # per-round exchange count dominated wall-clock (40s → ~10s at
        # sf0.01 on 8 threads). At 100 TB the survivor list of a dense
        # core is still ≪ the edge set; if it ever outgrew broadcast,
        # the fallback is exactly the shuffled semi-join this replaces.
        return sub.join(
            F.broadcast(survivors.withColumnRenamed("v", "src")),
            "src",
            "left_semi",
        ).join(
            F.broadcast(survivors.withColumnRenamed("v", "dst")),
            "dst",
            "left_semi",
        )

    # The loop state is the SURVIVING SUBGRAPH itself, physically
    # re-materialized each round — peeling removes edges, so every
    # later round scans only what survived (monotonically shrinking
    # I/O), instead of re-filtering the full edge set against a
    # survivor list every round. Edge-count fixpoint ⟺ vertex
    # fixpoint: if no edge was removed, degrees are unchanged, so the
    # next survivor set is identical.
    states, _ = fixpoint(
        _sym_edges(spark, sf_dir).select("src", "dst"),
        peel,
        DataFrame.count,
        operator.eq,
        max_rounds=KCORE_MAX_ROUNDS,
        name="k-core",
    )
    return (
        states[-1]
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .select(F.col("src").alias("vid"), "core_degree")
    )


def _oracle_kcore() -> str:
    # AS MATERIALIZED everywhere a CTE is referenced twice per round:
    # without it DuckDB inlines sym (and through it the whole
    # co-purchase self-join) into BOTH join legs of every unrolled
    # round — measured 32s vs 0.1s at sf0.01, growing with round count.
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e UNION ALL SELECT p2, p1 FROM e),
alive0 AS MATERIALIZED (SELECT DISTINCT src AS v FROM sym)"""
    rounds = []
    for i in range(1, KCORE_ORACLE_ROUNDS + 1):
        prev = f"alive{i - 1}"
        rounds.append(f""",
alive{i} AS MATERIALIZED (
  SELECT s.src AS v FROM sym s
  JOIN {prev} a ON a.v = s.src
  JOIN {prev} b ON b.v = s.dst
  GROUP BY s.src HAVING COUNT(*) >= {KCORE_K}
)""")
    last = f"alive{KCORE_ORACLE_ROUNDS}"
    return (
        base
        + "".join(rounds)
        + f"""
SELECT s.src AS vid, COUNT(*) AS core_degree
FROM sym s
JOIN {last} a ON a.v = s.src
JOIN {last} b ON b.v = s.dst
GROUP BY s.src"""
    )


def graph_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge neighborhood Jaccard over the co-purchase graph →
    (p1, p2, common, jaccard): |N(a)∩N(b)| / |N(a)∪N(b)| for every
    edge — the classic link-strength / link-prediction primitive
    (edges whose endpoints share most of their neighborhoods are
    intra-community; near-zero Jaccard flags bridges).

    Scale shape: the common-neighbor count of an edge's endpoints IS
    the number of triangles through that edge, so the count reuses
    graph_triangles' compact-forward enumeration — degree-oriented
    edges bound wedge work at O(m^1.5) regardless of hubs — then one
    explode of each closed triangle into its three edges + a groupBy.
    Never the naive adjacency-list self-join, whose Σ deg(mid)² term
    dies on hub vertices. |N(a)∪N(b)| = d(a)+d(b)−common (a and b are
    each in the union via the edge itself)."""
    tri = _tri_cached(spark, sf_dir)
    e = _copurchase_edges(spark, sf_dir).select("p1", "p2")
    deg = _sym_degrees(spark, sf_dir)
    da = deg.select(F.col("v").alias("p1"), F.col("d").alias("d1"))
    db = deg.select(F.col("v").alias("p2"), F.col("d").alias("d2"))
    # each closed triangle (a,b,c) contributes one common neighbor to
    # each of its three edges, emitted in canonical (min, max) form
    tri_edges = (
        tri.select(F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y"))
        .unionAll(tri.select(F.least("b", "c"), F.greatest("b", "c")))
        .unionAll(tri.select(F.least("a", "c"), F.greatest("a", "c")))
    )
    common = tri_edges.groupBy("x", "y").agg(
        F.count(F.lit(1)).alias("common")
    )
    return (
        e.join(
            common,
            (F.col("p1") == F.col("x")) & (F.col("p2") == F.col("y")),
            "left",
        )
        .withColumn("common", F.coalesce("common", F.lit(0)))
        .join(da, "p1")
        .join(db, "p2")
        .select(
            "p1",
            "p2",
            "common",
            F.round(
                F.col("common")
                / (F.col("d1") + F.col("d2") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
    )


ORACLE_GRAPH_JACCARD = f"""
{_COPURCHASE_CTE},
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT p1 AS v FROM e UNION ALL SELECT p2 AS v FROM e)
  GROUP BY v
),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.p1 < e.p2)
              THEN e.p1 ELSE e.p2 END AS a,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.p1 < e.p2)
              THEN e.p2 ELSE e.p1 END AS b
  FROM e JOIN deg da ON e.p1 = da.v JOIN deg db ON e.p2 = db.v
),
tri AS (
  SELECT o1.a AS a, o1.b AS b, o2.b AS c
  FROM o o1
  JOIN o o2 ON o1.b = o2.a
  JOIN o o3 ON o3.a = o1.a AND o3.b = o2.b
),
tri_edges AS (
  SELECT LEAST(a, b) AS x, GREATEST(a, b) AS y FROM tri
  UNION ALL SELECT LEAST(b, c), GREATEST(b, c) FROM tri
  UNION ALL SELECT LEAST(a, c), GREATEST(a, c) FROM tri
),
common AS (SELECT x, y, COUNT(*) AS common FROM tri_edges GROUP BY x, y)
SELECT e.p1, e.p2,
       CAST(COALESCE(c.common, 0) AS BIGINT) AS common,
       ROUND(CAST(COALESCE(c.common, 0) AS DOUBLE)
               / (da.d + db.d - COALESCE(c.common, 0)), 6) AS jaccard
FROM e
LEFT JOIN common c ON e.p1 = c.x AND e.p2 = c.y
JOIN deg da ON e.p1 = da.v
JOIN deg db ON e.p2 = db.v
"""


def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph → one row
    (n_endpoints, assortativity): the Pearson correlation of endpoint
    degrees over every directed edge — THE one-number topology summary
    (hub-to-hub vs hub-to-leaf wiring) that decides whether degree-based
    partitioning will skew.

    Cross-engine exactness: ql_corr's recipe — the five moment sums run
    in exact decimal(38,0) (degrees are small ints, edges bounded, so
    intermediates are exact), the only float ops are the final
    conversions both engines apply to identical integers. Cost: the
    shared symmetric edge table already carries src's degree, dst's is
    one count window partitioned by dst, then one global aggregate; no
    shuffle carries anything wider than (dst, degree) int pairs."""
    # On a symmetric graph dst's degree is its row count as a dst.
    xy = _sym_edges(spark, sf_dir).select(
        F.col("outdeg").cast("decimal(38,0)").alias("x"),
        F.count(F.lit(1)).over(Window.partitionBy("dst"))
        .cast("decimal(38,0)").alias("y"),
    )
    agg = xy.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    varx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vary = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    # Degree-regular graph ⇒ both variances 0 ⇒ correlation undefined:
    # emit NULL (nullif on the denominator, mirrored in the oracle)
    # rather than engine-dependent NaN/Inf division behavior (ADVICE
    # r5). decimal(38,0) moment sums are exact up to |E|·max_deg² <
    # 10^38 — far beyond any realistic graph; past it Spark nulls on
    # overflow rather than silently wrapping.
    den = F.nullif(F.sqrt(varx) * F.sqrt(vary), F.lit(0.0))
    return agg.select(
        F.col("n").cast("bigint").alias("n_endpoints"),
        F.round(num / den, 6).alias("assortativity"),
    )


ORACLE_GRAPH_ASSORTATIVITY = f"""
{_COPURCHASE_CTE},
sym AS (SELECT p1 AS src, p2 AS dst FROM e UNION ALL SELECT p2, p1 FROM e),
deg AS (SELECT src AS v, CAST(COUNT(*) AS HUGEINT) AS d FROM sym GROUP BY src),
xy AS (
  SELECT da.d AS x, db.d AS y
  FROM sym JOIN deg da ON sym.src = da.v JOIN deg db ON sym.dst = db.v
),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x*x) AS sxx, SUM(y*y) AS syy, SUM(x*y) AS sxy
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_endpoints,
       ROUND(CAST(n*sxy - sx*sy AS DOUBLE)
               / NULLIF(SQRT(CAST(n*sxx - sx*sx AS DOUBLE))
                        * SQRT(CAST(n*syy - sy*sy AS DOUBLE)), 0), 6)
         AS assortativity
FROM m
"""


def graph_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per vertex of the co-purchase
    graph → (vid, degree, n_tri, clustering): 2·tri(v)/(d(v)·(d(v)−1)),
    0 for degree-1 vertices. The per-vertex refinement of
    graph_triangles' single global count — the transitivity profile
    that separates locally-dense vertices (clustering→1, community
    cores) from connectors (clustering→0, the structural holes) that
    degree alone can't distinguish.

    Scale shape: per-vertex triangle counts come from the SAME
    degree-oriented compact-forward enumeration as graph_triangles
    (wedge work bounded O(m^1.5) regardless of hubs); each closed
    triangle explodes into its three member vertices and a groupBy
    counts — never a per-vertex neighborhood self-join. Exact across
    engines: t and d are integers, and 2t/(d(d−1)) is one identical
    double op on identical integers before the 6dp round."""
    tri = _tri_cached(spark, sf_dir)
    deg = _sym_degrees(spark, sf_dir)
    tri_verts = (
        tri.select(F.col("a").alias("v"))
        .unionAll(tri.select(F.col("b").alias("v")))
        .unionAll(tri.select(F.col("c").alias("v")))
    )
    tcount = tri_verts.groupBy("v").agg(F.count(F.lit(1)).alias("t"))
    t = F.coalesce("t", F.lit(0))
    return (
        deg.join(tcount, "v", "left")
        .select(
            F.col("v").alias("vid"),
            F.col("d").cast("bigint").alias("degree"),
            t.cast("bigint").alias("n_tri"),
            F.when(
                F.col("d") >= 2,
                F.round(
                    F.lit(2.0) * t / (F.col("d") * (F.col("d") - 1)), 6
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )


ORACLE_GRAPH_CLUSTERING_COEF = f"""
{_COPURCHASE_CTE},
deg AS (
  SELECT v, COUNT(*) AS d
  FROM (SELECT p1 AS v FROM e UNION ALL SELECT p2 AS v FROM e)
  GROUP BY v
),
o AS (
  SELECT CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.p1 < e.p2)
              THEN e.p1 ELSE e.p2 END AS a,
         CASE WHEN (da.d < db.d) OR (da.d = db.d AND e.p1 < e.p2)
              THEN e.p2 ELSE e.p1 END AS b
  FROM e JOIN deg da ON e.p1 = da.v JOIN deg db ON e.p2 = db.v
),
tri AS (
  SELECT o1.a AS a, o1.b AS b, o2.b AS c
  FROM o o1
  JOIN o o2 ON o1.b = o2.a
  JOIN o o3 ON o3.a = o1.a AND o3.b = o2.b
),
tv AS (
  SELECT a AS v FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
),
tc AS (SELECT v, COUNT(*) AS t FROM tv GROUP BY v)
SELECT deg.v AS vid,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(COALESCE(tc.t, 0) AS BIGINT) AS n_tri,
       CASE WHEN deg.d >= 2
            THEN ROUND(2.0 * COALESCE(tc.t, 0) / (deg.d * (deg.d - 1)), 6)
            ELSE 0.0 END AS clustering
FROM deg LEFT JOIN tc ON deg.v = tc.v
"""


LINKPRED_MAX_DEG = 32  # hub guard: wedges only through mids this small
LINKPRED_TOPK = 50


def graph_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor link prediction over the co-purchase graph →
    the LINKPRED_TOPK strongest NON-edges (p1, p2, common_neighbors):
    pairs that share many neighbors but are not yet connected — the
    classic recommendation/completion primitive ("parts bought with
    the same things are substitutes/complements").

    Scale shape + the enforced guard: wedges enumerate through MID
    vertices only, and mids are capped at degree ≤ LINKPRED_MAX_DEG —
    so wedge volume is Σ_{deg(mid)≤cap} deg(mid)² ≤ cap·2m, LINEAR in
    edges instead of the Σ deg² that dies on hubs. Dropping hub mids
    is also the standard quality move (a hub vertex connects
    everything to everything and carries ~zero predictive signal —
    the same reasoning as Adamic-Adar's 1/log(deg) downweight, taken
    to its cap limit); the cap is a row filter on the degree each
    symmetric edge carries. Candidate pairs then anti-join the existing
    edge set; the global top-K is a TakeOrderedAndProject with
    (common DESC, p1, p2) — deterministic, never a full sort."""
    sym = _sym_edges(spark, sf_dir)
    legs = sym.filter(F.col("outdeg") <= LINKPRED_MAX_DEG).select(
        F.col("src").alias("mid"), "dst"
    )
    a, b = legs.alias("a"), legs.alias("b")
    wedges = a.join(
        b,
        (F.col("a.mid") == F.col("b.mid")) & (F.col("a.dst") < F.col("b.dst")),
    ).select(F.col("a.dst").alias("wa"), F.col("b.dst").alias("wc"))
    cand = wedges.groupBy("wa", "wc").agg(
        F.count(F.lit(1)).alias("common_neighbors")
    )
    nonedges = cand.join(
        sym,
        (F.col("wa") == F.col("src")) & (F.col("wc") == F.col("dst")),
        "left_anti",
    )
    return (
        nonedges.select(
            F.col("wa").alias("p1"),
            F.col("wc").alias("p2"),
            "common_neighbors",
        )
        .orderBy(F.col("common_neighbors").desc(), "p1", "p2")
        .limit(LINKPRED_TOPK)
    )


ORACLE_GRAPH_LINK_PREDICT = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e
                     UNION ALL SELECT p2, p1 FROM e),
deg AS (SELECT src AS v, COUNT(*) AS d FROM sym GROUP BY src),
mids AS (SELECT v FROM deg WHERE d <= {LINKPRED_MAX_DEG}),
legs AS MATERIALIZED (
  SELECT src AS mid, dst FROM sym WHERE src IN (SELECT v FROM mids)
),
cand AS (
  SELECT a.dst AS wa, b.dst AS wc, COUNT(*) AS common_neighbors
  FROM legs a JOIN legs b ON a.mid = b.mid AND a.dst < b.dst
  GROUP BY 1, 2
)
SELECT wa AS p1, wc AS p2, common_neighbors
FROM cand LEFT JOIN e ON cand.wa = e.p1 AND cand.wc = e.p2
WHERE e.p1 IS NULL
ORDER BY common_neighbors DESC, wa, wc
LIMIT {LINKPRED_TOPK}
"""


LPA_ROUNDS = 4  # fixed synchronous supersteps ⇒ oracle-unrollable


def graph_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the co-purchase graph
    (VERDICT r5 item 4) → (vid, community): LPA_ROUNDS synchronous
    supersteps where every vertex adopts the most frequent label among
    its neighbors plus itself, ties to the smallest label. The
    modularity-flavored complement to graph_components: components
    answer "what is reachable", LPA answers "what clusters densely" —
    a label only spreads while it keeps winning local majorities, so
    dense neighborhoods keep their minimum vid as a shared label while
    bridges stop it. (Reference lineage: the undirected graphs of
    dfs_bfs.h carry no vertex metadata at all; community labels are
    the first derived vertex attribute a user of that model asks for
    once the graph outgrows eyeballing.)

    Determinism (the reason this has an EXACT oracle, unlike classic
    randomized LPA): synchronous updates, a fixed round count, the
    self-inclusive vote (which also damps the 2-coloring oscillation
    sync LPA is known for on bipartite-ish regions), and the
    (count DESC, label ASC) tie-break make every round a pure function
    of the last — DuckDB unrolls the same supersteps as generated CTEs
    (the graph_pagerank recipe).

    Scale: per round one self-inclusive `propagate` of the sym edge
    table against the (v, lbl) state whose one aggregate, the
    deterministic `mode`, is that arg-max; state is two longs per
    vertex. Fixed rounds ⇒ lazy bounded lineage, like pagerank."""
    return shared(
        spark,
        sf_dir,
        "lpa_communities",
        lambda: label_propagation(_sym_edges(spark, sf_dir)),
    )


def label_propagation(sym: DataFrame) -> DataFrame:
    """LPA_ROUNDS supersteps over any symmetric (src, dst) edge table →
    (vid, community), each the `mode` of a vertex's own and neighbors'
    labels. Exposed so invariance tests can run it on fixture graphs
    (cliques, disjoint unions) independent of the co-purchase graph."""
    labels = (
        sym.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("lbl"))
    )
    # The self-vote (`keep`) damps sync-LPA oscillation.
    for _ in range(LPA_ROUNDS):
        labels = propagate(
            sym, labels, F.col("lbl"), lambda m: F.mode(m, True), keep=F.col("lbl")
        ).select("v", F.col("m").alias("lbl"))
    return labels.select(
        F.col("v").alias("vid"), F.col("lbl").alias("community")
    )


def _build_oracle_lpa_base() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e
        UNION ALL SELECT p2 AS src, p1 AS dst FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT src AS v, src AS lbl FROM sym)"""
    rounds = []
    # AS MATERIALIZED on the round CTEs: l{k-1} is referenced twice per
    # round (vote join + self-vote union), so inlining would re-expand
    # the whole chain 2^rounds times (the kcore oracle lesson).
    for k in range(1, LPA_ROUNDS + 1):
        prev = f"l{k - 1}"
        rounds.append(f""",
v{k} AS (
  SELECT sym.dst AS v, {prev}.lbl
  FROM sym JOIN {prev} ON sym.src = {prev}.v
  UNION ALL SELECT v, lbl FROM {prev}
),
l{k} AS MATERIALIZED (
  SELECT v, lbl FROM (
    SELECT v, lbl,
           ROW_NUMBER() OVER (PARTITION BY v
                              ORDER BY COUNT(*) DESC, lbl) AS rn
    FROM v{k} GROUP BY v, lbl) WHERE rn = 1
)""")
    return base + "".join(rounds)


# The WITH chain shared by the communities and modularity oracles
# (ends after l{LPA_ROUNDS}; callers append their own CTEs/SELECT).
_ORACLE_LPA_CTE = _build_oracle_lpa_base()


def _oracle_communities() -> str:
    return (
        _ORACLE_LPA_CTE
        + f"\nSELECT v AS vid, lbl AS community FROM l{LPA_ROUNDS}"
    )


def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA partition -> one row
    (n_communities, n_vertices, m_edges, modularity): Q = sum_c
    [intra_c/m - (deg_c/2m)^2], the partition-quality audit for
    graph_communities — the same discipline that hash-checks recall
    for every ANN key: the clustering's QUALITY METRIC is itself a
    declared, oracle-checked deliverable, not a claim.

    Exactness: every term is integer until the single final division —
    Q = sum_c (2m*intra2_c - deg_c^2) / (2m)^2 with intra2_c the
    within-community directed-pair count and 2m the symmetric row
    count — so both engines divide identical integers once and round
    to 6dp. No per-community float accumulation order to diverge.

    Scale: consumes the session-shared LPA result (built once, the
    dedup_ngram owner/composite rule) + the shared sym edge table;
    two label joins partition on the vertex key, one groupBy yields
    the term table (one row per community), and the two 1-row totals
    ride broadcast cross joins. Nothing here exceeds the LPA pass already
    paid."""
    comm = graph_communities(spark, sf_dir)
    sym = _sym_edges(spark, sf_dir)
    # One pass over the labelled edges: a community's degree sum is its
    # members' row count as src, intra2 the rows whose dst shares it.
    terms = (
        sym.join(comm.select(F.col("vid").alias("src"), "community"), "src")
        .join(
            comm.select(F.col("vid").alias("dst"), F.col("community").alias("c_dst")),
            "dst",
        )
        .groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("deg_c"),
            F.count(F.when(F.col("community") == F.col("c_dst"), 1)).alias("intra2"),
        )
    )
    m2 = sym.agg(F.count(F.lit(1)).alias("m2"))
    nv = comm.agg(F.count(F.lit(1)).alias("n_vertices"))
    return (
        terms.crossJoin(F.broadcast(m2))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.first("m2").alias("m2"),
            F.sum(
                F.col("m2") * F.col("intra2") - F.col("deg_c") * F.col("deg_c")
            ).cast("bigint").alias("num"),
        )
        .crossJoin(F.broadcast(nv))
        .select(
            "n_communities",
            "n_vertices",
            (F.col("m2") / 2).cast("bigint").alias("m_edges"),
            F.round(
                F.col("num") / (F.col("m2") * F.col("m2")).cast("double"), 6
            ).alias("modularity"),
        )
    )


def _oracle_modularity() -> str:
    return (
        _ORACLE_LPA_CTE
        + f""",
comm AS MATERIALIZED (SELECT v AS vid, lbl AS community FROM l{LPA_ROUNDS}),
deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY src),
degc AS (
  SELECT c.community, CAST(SUM(g.d) AS BIGINT) AS deg_c
  FROM deg g JOIN comm c ON c.vid = g.src GROUP BY 1
),
intra AS (
  SELECT ca.community, COUNT(*) AS intra2
  FROM sym s
  JOIN comm ca ON ca.vid = s.src
  JOIN comm cb ON cb.vid = s.dst AND cb.community = ca.community
  GROUP BY 1
),
m2t AS (SELECT COUNT(*) AS m2 FROM sym),
nvt AS (SELECT COUNT(*) AS n_vertices FROM comm),
terms AS (
  SELECT d.community, COALESCE(i.intra2, 0) AS intra2, d.deg_c
  FROM degc d LEFT JOIN intra i ON i.community = d.community
)
SELECT COUNT(*) AS n_communities,
       (SELECT n_vertices FROM nvt) AS n_vertices,
       CAST((SELECT m2 FROM m2t) / 2 AS BIGINT) AS m_edges,
       ROUND(CAST(SUM((SELECT m2 FROM m2t) * intra2 - deg_c * deg_c) AS BIGINT)
             / CAST((SELECT m2 FROM m2t) * (SELECT m2 FROM m2t) AS DOUBLE),
             6) AS modularity
FROM terms"""
    )

# --- k-truss ----------------------------------------------------------------

TRUSS_K = 3             # edge survives iff in ≥ K-2 triangles of the survivor graph
TRUSS_MAX_ROUNDS = 50   # safety bound on the Spark peel loop
TRUSS_ORACLE_ROUNDS = 5  # oracle peel depth (idempotent past convergence)


def graph_ktruss(
    spark: SparkSession, sf_dir: str, max_rounds: int = TRUSS_MAX_ROUNDS
) -> DataFrame:
    """k-truss decomposition (k = TRUSS_K) of the co-purchase graph:
    iteratively drop every edge supported by fewer than k-2 triangles
    OF THE SURVIVING SUBGRAPH until fixpoint → (p1, p2, support) for
    the surviving edges. The EDGE-strength sibling of graph_kcore's
    vertex peel — trusses are the standard community-core definition
    one notch stronger than cores (every truss edge sits in a
    triangle; noise bridges peel away even when both endpoints are
    high-degree).

    Scale shape: per-round support comes from the shared degree-
    ORIENTED triangle enumeration (wedge work O(m^1.5) regardless of
    hubs — the graph_triangles kernel re-run on the shrinking
    subgraph), each triangle crediting its three canonical edges via
    one explode + groupBy; the state is the physically re-
    materialized survivor edge set (the graph_kcore discipline), so
    round cost shrinks monotonically, and the round count is the
    truss peel depth, not the edge count. Raises rather than
    returning an unconverged set."""

    def peel(e: DataFrame, _) -> DataFrame:
        tri = _closed_triangles(_oriented_edges(e))
        pairs = reduce(DataFrame.unionAll, [
            tri.select(F.least(x, y).alias("p1"), F.greatest(x, y).alias("p2"))
            for x, y in (("a", "b"), ("b", "c"), ("a", "c"))
        ])
        supp = pairs.groupBy("p1", "p2").agg(F.count(F.lit(1)).alias("support"))
        # The survivor state KEEPS the support column (r13): the last
        # round's checkpoint already holds exactly the rows to return,
        # so the final triangle enumeration never runs twice. The extra
        # column rides the next round's orientation joins untouched.
        return supp.filter(F.col("support") >= TRUSS_K - 2)

    states, _ = fixpoint(
        _copurchase_edges(spark, sf_dir).select("p1", "p2"),
        peel,
        DataFrame.count,
        operator.eq,
        max_rounds=max_rounds,
        name="k-truss",
    )
    return states[-1].select("p1", "p2", "support")


def _oracle_ktruss() -> str:
    # Independent formulation on purpose: per-round support via the
    # plain symmetric common-neighbor join (no orientation), unrolled
    # TRUSS_ORACLE_ROUNDS deep — idempotent once converged, and the
    # last round's support is computed over the (by then fixed) final
    # edge set, which is exactly what the Spark loop emits.
    base = f"""
{_COPURCHASE_CTE},
e0 AS MATERIALIZED (SELECT p1, p2 FROM e),
sym0 AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e0
                      UNION ALL SELECT p2, p1 FROM e0)"""
    rounds = []
    for i in range(1, TRUSS_ORACLE_ROUNDS + 1):
        p = i - 1
        rounds.append(f""",
s{i} AS MATERIALIZED (
  SELECT e.p1, e.p2, COUNT(*) AS c
  FROM e{p} e
  JOIN sym{p} a ON a.src = e.p1
  JOIN sym{p} b ON b.src = e.p2 AND b.dst = a.dst
  GROUP BY e.p1, e.p2
  HAVING COUNT(*) >= {TRUSS_K - 2}
),
e{i} AS MATERIALIZED (SELECT p1, p2 FROM s{i}),
sym{i} AS MATERIALIZED (SELECT p1 AS src, p2 AS dst FROM e{i}
                        UNION ALL SELECT p2, p1 FROM e{i})""")
    last = TRUSS_ORACLE_ROUNDS
    # Convergence guard (ADVICE r6): the unrolled depth is only valid
    # if the peel reached fixpoint by the second-to-last round (the
    # last round then idempotently recomputes support over the fixed
    # edge set). If data ever needs a deeper peel, fail LOUDLY with
    # this message instead of hash-mismatching for a non-bug reason.
    guard = (
        f"\nWHERE (SELECT CASE WHEN (SELECT COUNT(*) FROM e{last - 1})"
        f" = (SELECT COUNT(*) FROM e{last}) THEN TRUE"
        f" ELSE error('ktruss oracle unconverged at {last} rounds:"
        f" raise TRUSS_ORACLE_ROUNDS') END)"
    )
    return (
        base
        + "".join(rounds)
        + f"\nSELECT p1, p2, c AS support FROM s{last}"
        + guard
    )


# --- deterministic random walks -------------------------------------------

WALK_LEN = 4  # steps per walk (one walk per vertex)


def graph_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic pseudo-random walk of WALK_LEN steps from
    EVERY vertex of the co-purchase graph → (start_vid, walk) with the
    walk serialized 'v0>v1>…>vL' — the sampling primitive under
    node2vec/DeepWalk-style graph embeddings and under Monte-Carlo
    graph estimators.

    Next-hop choice is argmin of md5(cur ∥ step ∥ neighbor) — a
    hash-seeded uniform choice that is REPRODUCIBLE, so (a) task
    retries and re-runs sample identical walks (the corpus_sample
    rand()-ban, applied to graphs), and (b) the DuckDB oracle can
    replay every walk exactly (unrolled per-step argmin CTE). Each
    step is one equi-join of the walk frontier against the edge table
    plus a per-walk struct-min — |V| walks advance together, the
    Pregel discipline; nothing is sequential per-walk."""
    sym = _sym_edges(spark, sf_dir)
    state = (
        sym.select(F.col("src").alias("start"))
        .distinct()
        .select(
            "start",
            F.col("start").alias("cur"),
            F.col("start").cast("string").alias("walk"),
        )
    )
    for step in range(WALK_LEN):
        h = F.md5(
            F.concat(
                F.col("cur").cast("string"),
                F.lit(f"_{step}_"),
                F.col("dst").cast("string"),
            )
        )
        cand = state.join(sym, state.cur == sym.src).select(
            "start", "walk", h.alias("h"), "dst"
        )
        state = (
            cand.groupBy("start", "walk")
            .agg(F.min(F.struct("h", "dst")).alias("m"))
            .select(
                "start",
                F.col("m.dst").alias("cur"),
                F.concat(
                    F.col("walk"), F.lit(">"), F.col("m.dst").cast("string")
                ).alias("walk"),
            )
        )
    return state.select(F.col("start").alias("start_vid"), "walk")


def _oracle_walks() -> str:
    base = f"""
{_COPURCHASE_CTE},
sym AS MATERIALIZED (SELECT p1, p2 FROM e
        UNION ALL SELECT p2 AS p1, p1 AS p2 FROM e),
s0 AS (SELECT DISTINCT p1 AS start, p1 AS cur, CAST(p1 AS VARCHAR) AS walk
       FROM sym)"""
    steps = []
    for k in range(WALK_LEN):
        prev = f"s{k}"
        steps.append(f""",
s{k + 1} AS (
  SELECT start, cur, walk FROM (
    SELECT s.start, y.p2 AS cur,
           s.walk || '>' || CAST(y.p2 AS VARCHAR) AS walk,
           ROW_NUMBER() OVER (
             PARTITION BY s.start
             ORDER BY md5(CAST(s.cur AS VARCHAR) || '_{k}_'
                            || CAST(y.p2 AS VARCHAR)), y.p2) AS rn
    FROM {prev} s JOIN sym y ON y.p1 = s.cur) t
  WHERE rn = 1
)""")
    return (
        base
        + "".join(steps)
        + f"\nSELECT start AS start_vid, walk FROM s{WALK_LEN}"
    )


# --- minimum spanning forest (Borůvka) ------------------------------------

# Nation-level trade-affinity graph: nodes = nations, undirected edge
# (a < b) weighted by total traded cents between a customer of one
# nation and a supplier of the other. The MAXIMUM spanning tree of
# this graph is the trade backbone; we compute it as the minimum
# spanning forest under the total order (w_cents DESC, a, b) — strict,
# so THE spanning forest is unique and exactly hash-checkable.
TRADE_EDGES_SQL = """
SELECT LEAST(c.c_nationkey, s.s_nationkey) AS a,
       GREATEST(c.c_nationkey, s.s_nationkey) AS b,
       CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT)) AS BIGINT) AS w_cents
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE c.c_nationkey <> s.s_nationkey
GROUP BY LEAST(c.c_nationkey, s.s_nationkey), GREATEST(c.c_nationkey, s.s_nationkey)
"""

# Oracle: the minimax/bottleneck characterization — under a strict
# total edge order, edge e=(u,v) is in the spanning forest iff NO
# u→v path exists whose maximum edge rank is smaller than e's rank
# (cycle property), i.e. rank(e) equals the minimax path rank of its
# endpoints. A recursive CTE computes the (src, dst) → min-over-paths
# (max-rank-on-path) fixpoint; deliberately a completely different
# algorithm than Spark's Borůvka, so parity checks MST semantics.
_ORACLE_GRAPH_MST = f"""
WITH RECURSIVE e AS MATERIALIZED (
  SELECT a, b, w_cents,
         ROW_NUMBER() OVER (ORDER BY w_cents DESC, a, b) AS rnk
  FROM ({TRADE_EDGES_SQL}) t
),
sym AS MATERIALIZED (
  SELECT a AS src, b AS dst, rnk FROM e
  UNION ALL
  SELECT b AS src, a AS dst, rnk FROM e
),
walk(src, dst, mr) AS (
  SELECT src, dst, rnk FROM sym
  UNION
  SELECT w.src, s.dst, GREATEST(w.mr, s.rnk)
  FROM walk w JOIN sym s ON s.src = w.dst
),
minimax AS (SELECT src, dst, MIN(mr) AS mm FROM walk GROUP BY src, dst)
SELECT CAST(e.a AS BIGINT) AS a, CAST(e.b AS BIGINT) AS b, e.w_cents
FROM e JOIN minimax m ON m.src = e.a AND m.dst = e.b
WHERE e.rnk = m.mm
"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nation trade graph (TRADE_EDGES_SQL in DataFrame algebra):
    supplier broadcasts (tiny dim), lineitem⋈orders is the only real
    shuffle, and the per-pair aggregate is map-side combined — ≤ n²/2
    output rows for n nations regardless of fact size."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    j = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
    )
    return (
        j.select(
            F.least("c_nationkey", "s_nationkey").cast("bigint").alias("a"),
            F.greatest("c_nationkey", "s_nationkey").cast("bigint").alias("b"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("a", "b")
        .agg(F.sum("cents").alias("w_cents"))
    )


def minimum_spanning_forest(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Distributed Borůvka over (a < b, distinct, w_cents) edges →
    the unique spanning forest under total order (w_cents DESC, a, b).

    Each round: every component picks its best incident cross-
    component edge — ONE groupBy-min of a struct, no global sort, no
    sequential union-find (Kruskal's bottleneck) — then components
    merge by relabeling through the existing large-star/small-star
    connected-components kernel over the MERGE GRAPH on component ids
    (this round's chosen edges as (comp, other-comp) pairs), NOT the
    whole accumulated forest (r13; previously each round re-ran CC
    from scratch over every edge chosen so far). Labels are provably
    identical round by round: comp ids are the min vertex of their
    component (induction from comp₀ = identity), so min-label CC over
    the comp-id merge graph yields min(comp ids merged) = min vertex
    of the merged component — exactly what forest-CC returned — while
    the CC kernel's input shrinks from O(V) accumulated edges to
    ≤ #components rows that HALVE per round, and its star iteration
    depth tracks the merge chains of one round, not the forest's
    accumulated diameter. The component count at least halves per
    round ⇒ O(log V) rounds; the per-round state checkpoint is the
    per-component choice table (one eager job serving the probe, the
    forest accumulation, the merge graph, and the relabel); the new
    comp labels are re-checkpointed per round so the e⋈comp join
    never drags a cross-round lineage chain. This is the textbook
    MST-at-scale algorithm (Borůvka is the parallel one; Kruskal's
    sorted sequential scan and Prim's single frontier don't
    distribute).

    The struct min makes the per-component argmin deterministic
    (strict total order ⇒ unique forest ⇒ hash-exact oracle — the
    trailing other-comp field never arbitrates: (negw, a, b) already
    identifies the edge uniquely within a component's candidates),
    and the driver-side loop probe is ONE distinct-count per round
    (serving both the emptiness check and the component counter),
    never a collect of data rows. The
    single-component early exit is result-identical by construction:
    one component ⇒ no cross-component edge ⇒ the next round's chosen
    set is empty ⇒ the loop would break without touching the forest —
    the exit just skips that full-edge-set no-op join. Within-round
    duplicate choices (both endpoints of an edge picking it) are
    deduplicated ONCE at the end instead of per round (cross-round
    duplicates stay impossible: a chosen edge's endpoints share a
    component forever after)."""
    e = edges.select(
        "a", "b", "w_cents", (-F.col("w_cents")).alias("negw")
    ).localCheckpoint(eager=True)
    verts = (
        e.select(F.col("a").alias("v"))
        .union(e.select("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Driver-side component COUNTER (r13): every deduped chosen edge
    # merges exactly two components (the chosen set on the component
    # graph is acyclic under the strict (negw, a, b) total order — the
    # classic Borůvka argument: a chosen cycle would need structs to
    # strictly decrease all the way around), so n_comps is exact
    # arithmetic, not a per-round distinct-count job over comp.
    n_comps = verts.count()
    comp = verts.select("v", F.col("v").alias("comp"))
    forest: DataFrame | None = None
    for _ in range(40):  # ≥ log2(any realistic vertex count)
        j = (
            e.join(comp.select(F.col("v").alias("a"), F.col("comp").alias("ca")), "a")
            .join(comp.select(F.col("v").alias("b"), F.col("comp").alias("cb")), "b")
            .filter(F.col("ca") != F.col("cb"))
        )
        cand = j.select(
            F.col("ca").alias("c"), "negw", "a", "b", F.col("cb").alias("oc")
        ).union(
            j.select(
                F.col("cb").alias("c"), "negw", "a", "b", F.col("ca").alias("oc")
            )
        )
        per_c = (
            cand.groupBy("c")
            .agg(F.min(F.struct("negw", "a", "b", "oc")).alias("m"))
            .select(
                "c",
                F.col("m.negw").alias("negw"),
                F.col("m.a").alias("a"),
                F.col("m.b").alias("b"),
                F.col("m.oc").alias("oc"),
            )
            .localCheckpoint(eager=True)
        )
        # One count action per round serves BOTH loop probes: 0 new
        # edges ⇒ done, and n_comps arithmetic ⇒ single component ⇒
        # the next round's full-edge-set join is a guaranteed no-op.
        n_new = per_c.select("negw", "a", "b").distinct().count()
        if n_new == 0:
            break
        chosen = per_c.select("negw", "a", "b")
        forest = chosen if forest is None else forest.union(chosen)
        n_comps -= n_new
        if n_comps <= 1:
            break
        # Merge graph on comp ids: every merging component appears as
        # src via its own choice row, so the CC kernel's vertex set
        # (built from src) covers all participants. stars_per_check=2
        # here ONLY: the r11 A/B that pinned 1 ran corpus-scale edge
        # sets where the extra star pair doubles real shuffle volume;
        # the merge graph is ≤ #components rows, the convergence
        # checkpoint+fingerprint ACTIONS dominate, and halving them
        # measured 3.5 → 2.5 s on graph_mst at sf0.1 (results
        # identical for any value — kernel property test).
        labels = traversal.connected_components(
            spark,
            per_c.select(F.col("c").alias("src"), F.col("oc").alias("dst")),
            stars_per_check=2,
        )
        comp = (
            comp.join(
                labels.select(
                    F.col("vid").alias("comp"), F.col("comp").alias("nc")
                ),
                "comp",
                "left",
            )
            .select("v", F.coalesce("nc", F.col("comp")).alias("comp"))
            .localCheckpoint(eager=True)
        )
    if forest is None:
        return e.select("a", "b", "w_cents").limit(0)
    return forest.distinct().select("a", "b", (-F.col("negw")).alias("w_cents"))


def graph_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-weight spanning tree of the nation trade graph via
    distributed Borůvka → (a, b, w_cents): the backbone-extraction
    analytics op over the reference's undirected-graph model
    (secondary_server.c:119-153 stores the adjacency; backbone/forest
    queries are the natural next question). Unique under the strict
    (w_cents DESC, a, b) order ⇒ exact oracle via the independent
    minimax-rank (cycle property) recursive-CTE formulation."""
    return minimum_spanning_forest(spark, _trade_edges(spark, sf_dir))


SCC_TOP_OUT = 3            # directed edges kept per source nation
SCC_CLOSURE_DOUBLINGS = 5  # 2^5 = 32 ≥ any path length on ≤ 25 nations


def _scc_directed_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIRECTED trade digraph: customer-nation → supplier-nation
    money flow, thinned to each nation's SCC_TOP_OUT largest outbound
    partners (w DESC, dst tiebreak) — the top-partners thinning that
    makes condensation structure non-trivial (the full digraph is
    near-complete) and is scale-invariant: uniform volume growth
    leaves the per-source ranking unchanged."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    s = table(spark, sf_dir, "supplier")
    agg = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").cast("bigint").alias("src"),
            F.col("s_nationkey").cast("bigint").alias("dst"),
            F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("cents").alias("w_cents"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("w_cents"), "dst")
    return (
        agg.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SCC_TOP_OUT)
        .select("src", "dst")
    )


_SCC_EDGES_SQL = f"""
SELECT src, dst FROM (
  SELECT src, dst,
         ROW_NUMBER() OVER (PARTITION BY src
                            ORDER BY w_cents DESC, dst) AS rn
  FROM (
    SELECT CAST(c.c_nationkey AS BIGINT) AS src,
           CAST(s.s_nationkey AS BIGINT) AS dst,
           CAST(SUM(CAST(ROUND(l.l_extendedprice * (1 - l.l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS w_cents
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    WHERE c.c_nationkey <> s.s_nationkey
    GROUP BY c.c_nationkey, s.s_nationkey)
) WHERE rn <= {SCC_TOP_OUT}
"""


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly connected components of the directed trade digraph →
    (vid, scc_id, scc_size): which nations form mutually-reachable
    trade blocs under top-SCC_TOP_OUT money flow — the directed
    sibling of graph_components (the reference stores undirected
    graphs only; SCC is the canonical operator a graph engine adds
    when edges gain direction). scc_id is the component's smallest
    member (the min-label convention graph_components uses).

    Contract-then-iterate at 100 TB: the fact-scale work is exactly
    one lineitem⋈orders shuffle producing the ≤ n² nation-pair
    aggregate (the _trade_edges shape, map-side combined); everything
    after runs on the ≤ n·SCC_TOP_OUT-edge contracted digraph. The
    closure uses SCC_CLOSURE_DOUBLINGS path-doubling rounds (reach ←
    reach ∪ reach∘reach, identity seeded) — data-INDEPENDENT depth
    covering any path on ≤ 2^rounds vertices, each round a self-join
    + distinct on a ≤ n²-row table (one `iterate.fixpoint` round).
    Mutual reachability is one self-join; everything is integer ⇒
    exact oracle (recursive-CTE closure — a different algorithm, so
    parity checks SCC semantics, the _ORACLE_GRAPH_MST pattern). A
    billion-vertex SCC run swaps the contracted substrate for the edge
    table itself and bounds doubling rounds at log₂(diameter) — same
    loop, same per-round shape."""
    edges = _scc_directed_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("v")))
        .distinct()
    )

    def double(reach: DataFrame, _) -> DataFrame:
        hop = (
            reach.alias("l")
            .join(reach.alias("r"), F.col("l.b") == F.col("r.a"))
            .select(F.col("l.a").alias("a"), F.col("r.b").alias("b"))
        )
        return reach.unionByName(hop).distinct()

    # Early exit on convergence (r13): reach is monotone non-shrinking
    # under doubling, so an unchanged row count means the closure is
    # already transitive and the remaining rounds are identity maps —
    # skipping them cannot change the result (the contracted closure
    # typically converges in 2-3 of the 5 worst-case rounds).
    states, _ = fixpoint(
        nodes.select(F.col("v").alias("a"), F.col("v").alias("b"))
        .unionByName(edges.select(F.col("src").alias("a"), F.col("dst").alias("b")))
        .distinct(),
        double,
        DataFrame.count,
        operator.eq,
        max_rounds=SCC_CLOSURE_DOUBLINGS,
    )
    fwd = states[-1]
    bwd = fwd.select(F.col("b").alias("a"), F.col("a").alias("b"))
    mutual = fwd.intersect(bwd)
    comp = mutual.groupBy("a").agg(F.min("b").alias("scc_id"))
    sizes = comp.groupBy("scc_id").agg(F.count(F.lit(1)).alias("scc_size"))
    return (
        comp.join(F.broadcast(sizes), "scc_id")
        .select(F.col("a").alias("vid"), "scc_id", "scc_size")
    )


_ORACLE_GRAPH_SCC = f"""
WITH RECURSIVE e AS MATERIALIZED ({_SCC_EDGES_SQL}),
nodes AS (SELECT DISTINCT src AS v FROM e
          UNION SELECT DISTINCT dst AS v FROM e),
walk(a, b) AS (
  SELECT v, v FROM nodes
  UNION
  SELECT w.a, e.dst FROM walk w JOIN e ON e.src = w.b
),
mutual AS (
  SELECT f.a, f.b FROM walk f JOIN walk r ON r.a = f.b AND r.b = f.a
),
comp AS (SELECT a, MIN(b) AS scc_id FROM mutual GROUP BY a),
sizes AS (SELECT scc_id, COUNT(*) AS scc_size FROM comp GROUP BY scc_id)
SELECT c.a AS vid, c.scc_id, s.scc_size
FROM comp c JOIN sizes s USING (scc_id)
"""


QUERIES = {
    "graph_copurchase": graph_copurchase,
    "graph_triangles": graph_triangles,
    "graph_pagerank": graph_pagerank,
    "graph_ppr": graph_ppr,
    "graph_ppr_multi": graph_ppr_multi,
    "graph_hits": graph_hits,
    "graph_betweenness": graph_betweenness,
    "graph_betweenness_multi": graph_betweenness_multi,
    "graph_closeness": graph_closeness,
    "graph_sssp": graph_sssp,
    "graph_kcore": graph_kcore,
    "graph_jaccard": graph_jaccard,
    "graph_assortativity": graph_assortativity,
    "graph_communities": graph_communities,
    "graph_modularity": graph_modularity,
    "graph_clustering_coef": graph_clustering_coef,
    "graph_link_predict": graph_link_predict,
    "graph_mst": graph_mst,
    "graph_walks": graph_walks,
    "graph_ktruss": graph_ktruss,
    "graph_scc": graph_scc,
}

ORACLE_SQL = {
    "graph_copurchase": ORACLE_GRAPH_COPURCHASE,
    "graph_triangles": ORACLE_GRAPH_TRIANGLES,
    "graph_pagerank": _oracle_pagerank(),
    "graph_ppr": _oracle_ppr(),
    "graph_ppr_multi": _oracle_ppr_multi(),
    "graph_hits": _oracle_hits(),
    "graph_betweenness": _oracle_betweenness(),
    "graph_betweenness_multi": _oracle_betweenness_multi(),
    "graph_closeness": _oracle_closeness(),
    "graph_sssp": _oracle_sssp(),
    "graph_kcore": _oracle_kcore(),
    "graph_jaccard": ORACLE_GRAPH_JACCARD,
    "graph_assortativity": ORACLE_GRAPH_ASSORTATIVITY,
    "graph_communities": _oracle_communities(),
    "graph_modularity": _oracle_modularity(),
    "graph_clustering_coef": ORACLE_GRAPH_CLUSTERING_COEF,
    "graph_link_predict": ORACLE_GRAPH_LINK_PREDICT,
    "graph_mst": _ORACLE_GRAPH_MST,
    "graph_walks": _oracle_walks(),
    "graph_ktruss": _oracle_ktruss(),
    "graph_scc": _ORACLE_GRAPH_SCC,
}
