"""Iterative graph traversal — the engine's one genuinely custom operator.

Reference semantics being re-expressed (SURVEY.md §2.1):
- R5 BFS (dfs_bfs.h:111-172): level-order traversal; levels serial,
  within-level unordered (thread-race order). Spark restatement:
  level(v) = min hops from start; canonical order (level, vid).
- R4 DFS (dfs_bfs.h:42-90): output = terminal vertices of the
  traversal tree (vertices that had no unvisited neighbor when
  reached). Deterministic refinement (SURVEY.md §7.3): traversal tree
  = BFS tree with parent(v) = min-vid neighbor at level(v)-1; leaves
  = reachable vertices with no child in that tree. Equals the
  reference's path-terminal set on forests (its guaranteed input
  class, Assignment 2.pdf p.4).
- R6 visited-set dedup (dfs_bfs.h:48,100-105) becomes per-round
  left_anti set algebra, not a mutable bitmap.
- R7 frontier queue (dfs_bfs.h:102-104,126-135): the per-round join
  result IS the next frontier.

Physical shape at scale (SURVEY.md §4.4): each BFS round is one
`frontier ⋈ edges` stage — the reference's per-level thread barrier
(dfs_bfs.h:143-160) maps to Spark's per-round shuffle/stage boundary.
The frontier is broadcast while small (no shuffle of the big edge
side at all). Edges are cached once so 100 TB of parquet isn't
re-scanned per round.

Both loops here (BFS levels, connected components) run on
`iterate.fixpoint`, which owns the checkpoint/probe discipline of
every convergence loop: a lazy `localCheckpoint` per round, the
convergence probe as the one action that materializes it, the round
bound and the non-convergence error.

Reference-sized reads run on the driver. A graph of the reference's
size (≤ 30 vertices, Assignment 2.pdf p.2, so ≤ 900 symmetric rows)
costs the distributed kernel 40-70 jobs per request, all of it per-job
overhead. So every `bfs_levels` call first reads a bounded prefix of
its edge frame in one task (`coalesce(1).limit(LOCAL_READ_MAX_EDGES +
1)`, which stops at that many rows). A graph that fits is traversed in
Python and returned as a driver-held local frame, which remembers the
edge frame and rows it came from; the formatters see `isLocal()` and
format in Python too, and DFS leaves over that same edge frame reuse
those rows, so a read is one Spark job and its leaves come from the
same snapshot as its levels. Anything larger runs the distributed
kernel, with the prefix serving its start-vertex check. The prefix is
read from the frame the caller hands over. A read of one graph from a
reference-sized matrix directory (`sources.matrix`, filtered on
`graph_id`) is a local frame parsed on the driver, so that one job
scans no file; from a larger catalog it scans only that graph's file.
"""

from __future__ import annotations

import weakref
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame
from .iterate import fixpoint

# Broadcast the frontier while its estimated serialized size is below
# this many bytes; beyond it, fall back to a shuffle join (AQE may
# still convert at runtime). Gate on BYTES, not rows (VERDICT r6 item
# 5: the old 5M-row gate allowed ~40-80 MB broadcasts, well past
# Spark's 8 MB autoBroadcast comfort zone and a per-executor OOM risk
# at cluster fan-out). At 100 TB a frontier can be billions of rows —
# never unconditionally broadcast.
BROADCAST_FRONTIER_MAX_BYTES = 32 * 1024 * 1024
# Estimated wire size of one frontier COLUMN cell (fixed-width slot in
# Spark's UnsafeRow) plus per-row framing; the per-row estimate is
# derived from the frontier's actual schema width so a wider frontier
# can't silently slip under the byte gate (ADVICE r7: the old flat
# 16-byte constant assumed a single-bigint frontier).
FRONTIER_CELL_BYTES = 8
FRONTIER_ROW_OVERHEAD_BYTES = 8


def _frontier_probe(frontier: DataFrame, frontier_rows: int) -> DataFrame:
    """Broadcast the frontier only while its estimated bytes fit the
    gate; otherwise return it untouched for a shuffle join."""
    row_bytes = (
        FRONTIER_ROW_OVERHEAD_BYTES
        + FRONTIER_CELL_BYTES * len(frontier.schema)
    )
    if frontier_rows * row_bytes <= BROADCAST_FRONTIER_MAX_BYTES:
        return F.broadcast(frontier)
    return frontier

# Shared round bound: the Spark loop and the DuckDB recursive-CTE
# oracle both derive from this one constant (oracles.py interpolates
# it), so neither side can silently under-explore deep graphs.
MAX_LEVELS_DEFAULT = 100

# Bounded formatter cap for bfs_order (see bfs_order docstring).
BFS_ORDER_MAX_VERTICES = 100_000

START_NOT_PRESENT_MSG = "Starting vertex not present in graph"

# Largest edge frame (symmetric rows) that BFS/DFS traverse on the
# driver. At least 30² = 900, the most rows a reference graph can have;
# below the smallest derived graph (sf0.001, 3,000 rows), so the
# declared graph keys keep their distributed plans.
LOCAL_READ_MAX_EDGES = 1024

# Local levels frame → (the edge frame it was traversed from, the edge
# rows read from it). Weak keys: an entry lives as long as its levels.
_LOCAL_READS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def bfs_levels(
    spark: SparkSession,
    edges_sym: DataFrame,
    start: int,
    max_levels: int = MAX_LEVELS_DEFAULT,
    cache_edges: bool = True,
    validate: bool = False,
) -> DataFrame:
    """Minimum-hop level per reachable vertex → (vid bigint, level int).

    `edges_sym` must be symmetric: every (a, b) row has its (b, a) row
    (every caller passes a symmetrized frame).

    Every call first reads at most LOCAL_READ_MAX_EDGES + 1 rows of
    `edges_sym` in one task (`_edge_prefix`). If the whole frame fits,
    the levels come from a Python BFS over those rows with the same
    `max_levels` bound, returned as a local frame (`local_frame`): one
    Spark job per call. The read therefore assumes the frame can be
    scanned by a single task up to that limit. The local frame keeps
    the rows for `dfs_leaves_from_levels` over the same `edges_sym`.

    Otherwise one `fixpoint` round runs per level; the state is the
    level's new frontier and the probe its row count. The cumulative
    visited set is the *union of per-round checkpointed frames* rather
    than re-materialized every round — re-checkpointing the cumulative
    set is O(V·D) copy work at scale (the round-1 shape), whereas the
    frame union only ever checkpoints each vertex once. The anti-join
    probe sees a union of ≤ diameter tiny checkpointed plans, which
    Catalyst collapses fine for any realistic diameter.

    validate=True enforces the reference's R10 bounds check
    (secondary_server.c:187-188): unknown start ⇒ ValueError with the
    reference's message. "Known" means some edge row has it as `src`.
    By symmetry any prefix row that holds the start, as `src` or `dst`,
    proves that, and only a large graph whose prefix never names the
    start pays a probe of the whole frame.
    """
    prefix = _edge_prefix(edges_sym)
    in_prefix = any(start in edge for edge in prefix)
    if len(prefix) <= LOCAL_READ_MAX_EDGES:
        if validate and not in_prefix:
            raise ValueError(START_NOT_PRESENT_MSG)
        levels = _local_bfs(prefix, start, max_levels)
        lv = local_frame(spark, list(levels.items()), "vid bigint, level int")
        _LOCAL_READS[lv] = (edges_sym, prefix)
        return lv
    if validate and not in_prefix and not _start_in_graph(edges_sym, start):
        raise ValueError(START_NOT_PRESENT_MSG)

    if cache_edges:
        edges_sym = edges_sym.persist()
    try:
        # Already materialized, with its known one-row probe: a lazy
        # checkpoint plus a count would cost two jobs here.
        root = local_frame(spark, [(start, 0)], "vid bigint, level int")
        seen: list[DataFrame] = []  # the frames expanded so far

        def expand(frontier: DataFrame, frontier_rows: int) -> DataFrame:
            seen.append(frontier)
            probe = _frontier_probe(frontier.select("vid"), frontier_rows)
            return (
                probe.join(edges_sym, probe.vid == edges_sym.src)
                .select(F.col("dst").alias("vid"))
                .distinct()
                .join(reduce(DataFrame.unionByName, seen), "vid", "left_anti")
                .withColumn("level", F.lit(len(seen)).cast("int"))
            )

        frames, frontier_rows = fixpoint(
            root, expand, DataFrame.count, lambda rows, _: rows == 0,
            max_rounds=max_levels, probe0=1,
        )
        if frontier_rows == 0:
            frames.pop()
        return reduce(DataFrame.unionByName, frames)
    finally:
        if cache_edges:
            edges_sym.unpersist()


def _edge_prefix(edges_sym: DataFrame) -> list[tuple[int, int]]:
    """The first LOCAL_READ_MAX_EDGES + 1 (src, dst) rows: one task that
    stops once it has them (`limit(n).collect()` alone runs up to three
    jobs, scanning more partitions each time)."""
    rows = (
        edges_sym.select("src", "dst")
        .coalesce(1)
        .limit(LOCAL_READ_MAX_EDGES + 1)
        .collect()
    )
    return [(r.src, r.dst) for r in rows]


def _local_bfs(
    edges: list[tuple[int, int]], start: int, max_levels: int
) -> dict[int, int]:
    """The distributed kernel's levels, in Python: directed rows
    src → dst, at most `max_levels` expansions."""
    adj: dict[int, set[int]] = {}
    for src, dst in edges:
        adj.setdefault(src, set()).add(dst)
    levels = {start: 0}
    frontier = {start}
    for level in range(1, max_levels + 1):
        frontier = {d for v in frontier for d in adj.get(v, ()) if d not in levels}
        if not frontier:
            break
        levels.update(dict.fromkeys(frontier, level))
    return levels


def _start_in_graph(edges_sym: DataFrame, start: int) -> bool:
    return not edges_sym.filter(F.col("src") == F.lit(start)).isEmpty()


def reachable_vertices(
    spark: SparkSession, edges_sym: DataFrame, start: int, **kw
) -> DataFrame:
    """Transitive closure from start (R4/R5 common core) → (vid)."""
    return bfs_levels(spark, edges_sym, start, **kw).select("vid")


def bfs_order(spark: SparkSession, edges_sym: DataFrame, start: int, **kw) -> DataFrame:
    """R5+R9: traversal output as one space-separated string, canonical
    order (level, vid). The reference's formatter (secondary_server.c:
    223-226) corrupted 2-digit ids — ours is correct for any id
    (SURVEY.md §4.3).

    Explicitly BOUNDED presentation op: the aggregate runs over the
    first BFS_ORDER_MAX_VERTICES rows in (level, vid) order, taken via
    orderBy+limit (TakeOrderedAndProject: per-partition heaps, driver
    merges ≤ cap rows — no single-task global collect of an unbounded
    set, which was the round-1 scale hazard). The oracle applies the
    identical LIMIT, so results match at every sf.
    """
    return bfs_order_from_levels(bfs_levels(spark, edges_sym, start, **kw))


def bfs_order_from_levels(levels: DataFrame) -> DataFrame:
    """bfs_order over precomputed (vid, level) rows — the formatter
    half of bfs_order, reusable when levels are already materialized.
    Local levels (a driver-side BFS) are formatted in Python into a
    local frame, with no Spark job."""
    if levels.isLocal():
        ordered = sorted((r.level, r.vid) for r in levels.collect())
        order = " ".join(str(vid) for _, vid in ordered[:BFS_ORDER_MAX_VERTICES])
        return local_frame(levels.sparkSession, [(order,)], "bfs_order string")
    lv = levels.orderBy("level", "vid").limit(BFS_ORDER_MAX_VERTICES)
    return lv.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("level", "vid"))),
                lambda s: s.vid.cast("string"),
            ),
            " ",
        ).alias("bfs_order")
    )


def dfs_leaves(spark: SparkSession, edges_sym: DataFrame, start: int, **kw) -> DataFrame:
    """R4 terminal-vertex set (dfs_bfs.h:71-77 `!tidx` test): reachable
    vertices that parent no one in the deterministic traversal tree.
    A start with no neighbors is its own terminal (FIXTURES.md G6).
    """
    return dfs_leaves_from_levels(
        bfs_levels(spark, edges_sym, start, **kw), edges_sym
    )


def dfs_leaves_from_levels(lv: DataFrame, edges_sym: DataFrame) -> DataFrame:
    # Deterministic traversal tree (vid, level, parent): parent(v) is
    # the min-vid neighbor of v at level(v)-1; the start has none.
    if lv.isLocal():
        # The rows bfs_levels traversed, if it traversed this very
        # frame; any other edge frame is read afresh.
        read = _LOCAL_READS.get(lv)
        edges = read[1] if read and read[0] is edges_sym else _edge_prefix(edges_sym)
        if len(edges) <= LOCAL_READ_MAX_EDGES:
            return _local_leaves(lv, edges)
    child = lv.alias("c")
    parent = lv.alias("p")
    e = edges_sym.alias("e")
    children = (
        child.join(e, F.col("c.vid") == F.col("e.dst"))
        .join(
            parent,
            (F.col("e.src") == F.col("p.vid"))
            & (F.col("p.level") == F.col("c.level") - F.lit(1)),
        )
        .groupBy(F.col("c.vid").alias("vid"), F.col("c.level").alias("level"))
        .agg(F.min(F.col("e.src")).alias("parent"))
    )
    root = lv.filter(F.col("level") == 0).select(
        "vid", "level", F.lit(None).cast("bigint").alias("parent")
    )
    tree = root.unionByName(children)
    parents = tree.filter(F.col("parent").isNotNull()).select(
        F.col("parent").alias("vid")
    )
    return tree.select("vid").join(parents, "vid", "left_anti").select("vid")


def _local_leaves(lv: DataFrame, edges: list[tuple[int, int]]) -> DataFrame:
    """dfs_leaves_from_levels over local levels and the edge rows, in
    Python: the same tree (a vertex off level 0 with no parent row is
    not in it) and the same childless vertices."""
    rows = lv.collect()
    level = {r.vid: r.level for r in rows}
    parent: dict[int, int] = {}
    for src, dst in edges:
        if dst in level and level.get(src) == level[dst] - 1:
            parent[dst] = min(parent.get(dst, src), src)
    tree = [r.vid for r in rows if r.level == 0 or r.vid in parent]
    parents = set(parent.values())
    leaves = sorted(vid for vid in tree if vid not in parents)
    return local_frame(lv.sparkSession, [(vid,) for vid in leaves], "vid bigint")


def connected_components(
    spark: SparkSession,
    edges_sym: DataFrame,
    max_rounds: int = MAX_LEVELS_DEFAULT,
    stars_per_check: int = 1,
) -> DataFrame:
    """Connected components → (vid bigint, comp bigint) with comp =
    min vid of the component. See connected_components_with_rounds."""
    return connected_components_with_rounds(
        spark, edges_sym, max_rounds, stars_per_check
    )[0]


def _large_star(edge_pairs: DataFrame) -> DataFrame:
    """Kiveris et al. large-star: for every vertex u, point each
    strictly-larger neighbor at m(u) = min(Γ(u) ∪ {u}). Input/output
    edges canonical (u > v). Output may carry duplicates — the caller's
    small-star aggregates/dedups them."""
    sym = edge_pairs.union(
        edge_pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    # v > u ≥ m, so outputs stay canonical and are never self-loops.
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edge_pairs: DataFrame) -> DataFrame:
    """Kiveris et al. small-star: for every vertex u, point u and all
    its (smaller, by canonical form) neighbors at m(u) = min(Γ(u) ∪
    {u}). Input canonical (u > v) ⇒ m = min neighbor; output canonical
    and deduplicated (it is the new iteration state)."""
    mins = edge_pairs.groupBy("u").agg(F.min("v").alias("m"))
    return (
        edge_pairs.join(mins, "u")
        .select(F.col("v").alias("x"), "m")
        .union(mins.select(F.col("u").alias("x"), "m"))
        .filter(F.col("x") != F.col("m"))
        .select(F.col("x").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def connected_components_with_rounds(
    spark: SparkSession,
    edges_sym: DataFrame,
    max_rounds: int = MAX_LEVELS_DEFAULT,
    stars_per_check: int = 1,
) -> tuple[DataFrame, int]:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) → ((vid, comp) labels, rounds used).

    Each round rewires edges toward per-neighborhood minima while
    provably preserving connectivity; the fixed point is a star per
    component centered at its minimum vertex, reached in O(log d)
    rounds — vs O(diameter) for hash-min label propagation (the
    round-2 implementation this replaces: a 100×-deeper graph cost
    100× more *rounds*, each a full-edge-set shuffle). Star centers
    then label their spokes directly; vertices with no non-loop edges
    are their own component.

    Convergence = the canonical edge state reproducing itself, checked
    by its (count, BIT_XOR xxhash64(u,v)) fingerprint, the round's
    `fixpoint` probe. Exhausting max_rounds without a fixed point
    raises (the recursive-CTE oracle always computes the full closure,
    so returning unconverged labels would be a silent parity
    divergence — ADVICE r2).

    `stars_per_check` (r11, the checkpoint-granularity discipline):
    how many large+small star pairs run between checkpoint+fingerprint
    actions. Results are IDENTICAL for any value — a fixed point is
    invariant under extra star applications (property-tested). The
    r11 measured A/B (VERDICT r10 #5, all five CC clients, sf0.1 AND
    sf1, same-session medians): 2 LOSES everywhere — wall time
    1.3–2.3× worse and job count HIGHER (e.g. mm_audio_clusters 60→72
    jobs, 7.1→10.5 s sf0.1; graph_components 8.5→17.2 s sf1), because
    AQE splits the deeper unchecked plan into MORE stage-jobs and the
    possibly-wasted extra pair doubles the shuffled volume per check.
    Default 1 is the measured optimum; the knob stays as the committed
    record of the experiment (BASELINE.md r11 disposition row).
    """
    verts = (
        edges_sym.select(F.col("src").alias("vid"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def stars(state: DataFrame, _) -> DataFrame:
        for _ in range(stars_per_check):
            state = _small_star(_large_star(state))
        return state

    states, _ = fixpoint(
        edges_sym.filter(F.col("src") != F.col("dst"))
        .select(
            F.greatest("src", "dst").alias("u"),
            F.least("src", "dst").alias("v"),
        )
        .distinct(),
        stars,
        lambda s: s.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))).first(),
        lambda fp, prev: fp[0] == 0 or fp == prev,
        max_rounds=max_rounds,
        name="connected_components",
    )
    state = states[-1]
    labels = (
        verts.join(
            state.select(F.col("u").alias("vid"), F.col("v").alias("comp")),
            "vid",
            "left",
        )
        .select("vid", F.coalesce("comp", "vid").alias("comp"))
    )
    return labels, len(states) - 1


def neighbors_1hop(edges_sym: DataFrame, start: int) -> DataFrame:
    """Single expansion step (the adjacency row a traversal scans,
    dfs_bfs.h:57,99) → (vid)."""
    return (
        edges_sym.filter(F.col("src") == F.lit(start))
        .select(F.col("dst").alias("vid"))
        .distinct()
    )


def vertex_degree(edges_sym: DataFrame) -> DataFrame:
    """Degree per vertex = adjacency-row sum → (vid, degree).

    Self-loops count once (symmetrize() emits a loop once — it skips
    the reverse copy for src==dst — matching the reference's matrix
    row-sum, which sees one diagonal 1). Isolated vertices have no
    edge row and therefore no output row; callers needing degree-0
    rows left-join against a vertices frame with coalesce(degree, 0).
    """
    return edges_sym.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("degree")
    )


def graph_stats(
    graph_ids: DataFrame, vertices: DataFrame, edges: DataFrame
) -> DataFrame:
    """Catalog view over all graphs (reference: ≤20 matrix files;
    n = file line 1) → (graph_id, n_vertices, n_edges). The graph-id
    catalog is the base so empty graphs (G4, n=0) get a zero row and
    isolated vids (G6) count via `vertices`.
    """
    v = vertices.groupBy("graph_id").agg(
        F.countDistinct("vid").alias("n_vertices")
    )
    e = edges.groupBy("graph_id").agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        graph_ids.join(v, "graph_id", "left")
        .join(e, "graph_id", "left")
        .select(
            "graph_id",
            F.coalesce(F.col("n_vertices"), F.lit(0)).cast("bigint").alias("n_vertices"),
            F.coalesce(F.col("n_edges"), F.lit(0)).cast("bigint").alias("n_edges"),
        )
    )


def validate_start(vertices_one_graph: DataFrame, start: int) -> bool:
    """R10 bounds check (secondary_server.c:187-188): start must be a
    vertex of the graph, else "Starting vertex not present in graph".
    """
    return not vertices_one_graph.filter(F.col("vid") == F.lit(start)).isEmpty()
