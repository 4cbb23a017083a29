"""Declared query surface (SURVEY.md §2.2) — the driver contract.

Each entry maps a query key to a callable ``(spark, sf_dir) -> DataFrame``;
``oracles.ORACLE_SQL`` holds the DuckDB twin of every hash-checkable
key. Column names/types are aligned between the two on purpose — the
driver sorts columns by name and hashes values.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import fixtures, ops, oracles, relational
from .cache import memo, shared
from .session import local_frame
from .pipeline import clean as pl_clean
from .pipeline import dedup as pl_dedup
from .pipeline import events as pl_events
from .pipeline import multimodal as pl_mm
from .pipeline import similarity as pl_sim
from .pipeline import text as pl_text
from .sources import formats, matrix
from .graph import analytics as g_analytics
from .graph import derive, traversal
from .streaming import events_stream as streaming

QueryFn = Callable[[SparkSession, str], DataFrame]


# Canonical derived-graph context: the symmetrized edge table and start
# vertex are derived once per (session, sf_dir) and the edges persisted,
# so consecutive graph queries (and the bench loop) don't re-scan and
# re-distinct orders each call (VERDICT r1: registry.py re-derivation).
# At 100 TB this is the materialized+bucketed canonical edge table;
# here it's a lazy in-memory persist.
def _graph_ctx(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    return memo(
        spark,
        sf_dir,
        "graph_ctx",
        lambda: (
            derive.derived_edges_sym(spark, sf_dir).persist(),
            derive.default_start(spark, sf_dir),
        ),
    )


# BFS levels are a deterministic derived view of (edges, start); four
# declared keys (levels/order/leaves/reachable) consume them, so the
# iterative loop runs once per (session, sf_dir) and its checkpointed
# result is shared.
def _bfs_levels_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build() -> DataFrame:
        edges, start = _graph_ctx(spark, sf_dir)
        # validate=True: the reference's R10 bounds check runs at every
        # query entry (client.c:36-49 semantics) — an absent start vertex
        # raises the reference's error instead of silently returning
        # {(start, 0)}.
        return traversal.bfs_levels(
            spark, edges, start, cache_edges=False, validate=True
        )

    return shared(spark, sf_dir, "bfs_levels", build)


def q_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bfs_levels_cached(spark, sf_dir)


def q_bfs_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return traversal.bfs_order_from_levels(_bfs_levels_cached(spark, sf_dir))


def q_dfs_leaves(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = _graph_ctx(spark, sf_dir)
    return traversal.dfs_leaves_from_levels(
        _bfs_levels_cached(spark, sf_dir), edges
    )


def q_reachable_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _bfs_levels_cached(spark, sf_dir).select("vid")


def q_neighbors_1hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, start = _graph_ctx(spark, sf_dir)
    return traversal.neighbors_1hop(edges, start)


def q_vertex_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = _graph_ctx(spark, sf_dir)
    return traversal.vertex_degree(edges)


def q_vertex_degree_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution — the first thing any graph analyst plots,
    and the skew report that decides salting/partitioning strategy at
    scale: (degree, n_vertices)."""
    edges, _ = _graph_ctx(spark, sf_dir)
    from pyspark.sql import functions as F

    return (
        traversal.vertex_degree(edges)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def q_graph_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound → one row (sweep_start,
    diameter_lb, n_reached): BFS from the canonical start finds the
    farthest vertex (max level, max vid tiebreak), a second BFS from
    there yields the eccentricity of that periphery vertex — the
    classic 2-sweep estimate, exact on trees and within a small factor
    on general graphs. The component-size/latency summary a graph
    service reports before anyone runs an O(V·E) exact diameter.

    Cost: BOTH sweeps ride the session-shared checkpoint discipline —
    the first via the BFS cache, the second via cache.shared keyed on
    the sweep-start vertex (VERDICT r6 item 7: it used to re-run its
    O(diameter) rounds on every call). The 1-row collect for the
    sweep-start vertex is the same sanctioned class as
    derive.default_start."""
    from pyspark.sql import functions as F

    edges, _ = _graph_ctx(spark, sf_dir)
    lv = _bfs_levels_cached(spark, sf_dir)
    far = lv.orderBy(F.col("level").desc(), F.col("vid").desc()).limit(1).collect()
    far_vid = int(far[0].vid)
    lv2 = shared(
        spark,
        sf_dir,
        f"diameter_sweep2_{far_vid}",
        lambda: traversal.bfs_levels(spark, edges, far_vid, cache_edges=False),
    )
    return lv2.agg(
        F.max("level").cast("int").alias("diameter_lb"),
        F.count(F.lit(1)).alias("n_reached"),
    ).select(
        F.lit(far_vid).cast("bigint").alias("sweep_start"),
        "diameter_lb",
        "n_reached",
    )


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = _graph_ctx(spark, sf_dir)
    return traversal.connected_components(spark, edges)


def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    graph_ids = local_frame(
        spark, [(g,) for g in fixtures.existing_graph_ids()], "graph_id string"
    )
    return traversal.graph_stats(
        graph_ids, fixtures.fixture_vertices_df(spark), fixtures.fixture_edges_df(spark)
    )


_CORE_GRAPH: dict[str, QueryFn] = {
    "bfs_levels": q_bfs_levels,
    "bfs_order": q_bfs_order,
    "dfs_leaves": q_dfs_leaves,
    "reachable_vertices": q_reachable_vertices,
    "neighbors_1hop": q_neighbors_1hop,
    "vertex_degree": q_vertex_degree,
    "vertex_degree_hist": q_vertex_degree_hist,
    "graph_components": q_graph_components,
    "graph_diameter": q_graph_diameter,
    "graph_stats": q_graph_stats,
}


def _interleave(families: list[dict[str, QueryFn]]) -> dict[str, QueryFn]:
    """Round-robin merge of the family dicts. The round driver records
    correctness for a prefix of this dict in iteration order (r4: only
    the first 50 keys made CORRECTNESS_r04.json, leaving whole families
    invisible); interleaving guarantees any prefix of ≥len(families)
    keys samples every component (VERDICT r4 item 4)."""
    out: dict[str, QueryFn] = {}
    iters = [iter(d.items()) for d in families]
    while iters:
        alive = []
        for it in iters:
            entry = next(it, None)
            if entry is not None:
                key, fn = entry
                # A cross-family key collision would silently shadow a
                # query (dict overwrite) — fail loudly instead (ADVICE r5).
                assert key not in out, f"duplicate registry key: {key!r}"
                out[key] = fn
                alive.append(it)
        iters = alive
    return out


def _driver_last_seen() -> dict[str, int]:
    """Map each query key to the LAST round whose committed driver
    artifact (CORRECTNESS_r{N}.json, repo root) recorded a row for it.

    The round driver records correctness for only a ~50-key prefix of
    QUERIES in iteration order; keys past the window are verified by
    the committed sweep + pytest twins but never get a driver-signed
    row. This map drives the rotation below so driver coverage
    ACCUMULATES across rounds instead of re-measuring the same prefix
    (VERDICT r5 item 1). Missing/unreadable artifacts degrade to "never
    seen" — the rotation then just preserves declaration order."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            continue
        rnd = int(m.group(1))
        for key, row in data.items():
            if not isinstance(row, dict):
                continue
            # A row only counts as "seen" if it was a VERIFIED check —
            # a WHITELIST, so any error marker a future driver might
            # write (crash, timeout, mismatch) resurfaces the key
            # instead of counting as coverage: err-free rows count;
            # an `err: no_oracle` row counts only while the key is
            # still declared rows-only (absent from
            # oracles.ORACLE_SQL). When a key graduates from rows-only
            # to an exact oracle (r8: store_stats_approx,
            # text_bpe_train), its old no-oracle rows stop counting,
            # so the rotation resurfaces it for a driver-signed hash
            # row instead of treating the weaker check as coverage.
            err = row.get("err")
            verified = (
                err is None and row.get("hash_match") is not False
            ) or (err == "no_oracle" and key not in oracles.ORACLE_SQL)
            if not verified:
                continue
            out[key] = max(out.get(key, -1), rnd)
    return out


_LAST_SEEN = _driver_last_seen()


def _rotate_for_driver(family: dict[str, QueryFn]) -> dict[str, QueryFn]:
    """Order a family least-recently-driver-verified first (never-seen
    keys lead; ties keep declaration order — Python sort is stable).
    Composed with the round-robin interleave this is a committed,
    self-updating rotation: each round's new CORRECTNESS artifact
    pushes the keys it just verified to the back of their family, so
    the next round's 50-key window samples the stalest keys."""
    items = sorted(family.items(), key=lambda kv: _LAST_SEEN.get(kv[0], -1))
    return dict(items)


# Component families, in interleave order (also the contract surface
# tests/test_registry_rotation.py checks the LRU rotation against).
_FAMILIES: tuple[dict[str, QueryFn], ...] = (
    _CORE_GRAPH,
    relational.QUERIES,
    ops.QUERIES,
    matrix.QUERIES,
    formats.QUERIES,
    pl_text.QUERIES,
    pl_clean.QUERIES,
    pl_dedup.QUERIES,
    pl_sim.QUERIES,
    pl_events.QUERIES,
    pl_mm.QUERIES,
    g_analytics.QUERIES,
    streaming.QUERIES,
)

def _global_lru(queries: dict[str, QueryFn]) -> dict[str, QueryFn]:
    """Stable global sort by driver-last-seen round so the ~50-key
    driver window is filled with the globally stalest keys. The
    per-family rotate + interleave alone is NOT enough when the stale
    keys concentrate in one family (r6: 28 of 55 never-driver-seen
    keys were relational — TPC-H q2–q22 — but the interleave grants
    each family only 1 slot per 13-key cycle, so only 27/55 fit the
    window; VERDICT r6 item 1). The sort is stable, so equal-rank keys
    keep their interleaved order — family diversity within each rank
    class survives."""
    return dict(
        sorted(queries.items(), key=lambda kv: _LAST_SEEN.get(kv[0], -1))
    )


QUERIES: dict[str, QueryFn] = _global_lru(
    _interleave([_rotate_for_driver(f) for f in _FAMILIES])
)
