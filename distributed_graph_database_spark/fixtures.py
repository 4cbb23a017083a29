"""Fixture graphs and ops-log, shared between Spark and oracle SQL.

G1–G6 are the reference's six golden input graphs (adjacency-matrix
text files /root/reference/G1.txt–G6.txt, decoded to edge lists in
FIXTURES.md). The ops-log fixture exercises the reference's router /
validation / seq-ordered-write semantics (load_balancer.c:78-99,
client.c:36-49, primary_server.c:62-107).

One Python literal is the single source of truth; both the Spark
DataFrame and the DuckDB `VALUES` SQL are generated from it, so the
driver's differential check compares identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .session import local_frame

# graph_id -> (n_vertices, undirected edges stored once with src <= dst;
# src == dst is a self-loop, stored once)
FIXTURE_GRAPHS: dict[str, tuple[int, list[tuple[int, int]]]] = {
    "G1": (4, [(1, 2), (1, 4), (2, 3)]),          # 4-node tree, depth 2
    "G2": (2, [(1, 2)]),                           # minimal K2
    "G3": (3, [(1, 2), (1, 3)]),                   # star / fan-out
    "G4": (0, []),                                 # empty graph (n=0)
    "G5": (5, [(1, 2), (1, 3), (1, 4), (3, 5)]),   # tree, mixed leaf depths
    "G6": (2, []),                                 # two isolated vertices
    # Ours (not in the reference set): self-loop at 1 + pendant edge +
    # isolated vertex 3 — spec allows loops (Assignment 2.pdf p.2);
    # pins the single-count loop semantics of symmetrize/vertex_degree.
    "G8": (3, [(1, 1), (1, 2)]),
}

# The subset shipped by the reference as G*.txt files.
REFERENCE_GRAPH_IDS = ("G1", "G2", "G3", "G4", "G5", "G6")

# (seq, op, graph_id) — op: 1 add, 2 modify, 3 dfs, 4 bfs.
# Routing contract: ops 1,2 -> primary; ops 3,4 -> secondary by seq
# parity (odd->secondary_1, even->secondary_2). Validation: op must be
# 1..4; op 1 requires the graph NOT exist yet; ops 2-4 require it to
# exist. "Exists" = in FIXTURE_GRAPHS or created by an earlier
# (lower-seq) op-1 in this log.
OPS_LOG: list[tuple[int, int, str]] = [
    (1, 1, "G7"),
    (2, 3, "G1"),
    (3, 4, "G1"),
    (4, 2, "G7"),
    (5, 3, "G7"),
    (6, 5, "G1"),   # rejected: op out of range
    (7, 1, "G1"),   # rejected: already exists
    (8, 3, "G9"),   # rejected: does not exist
    (9, 2, "G1"),   # valid modify of a PRE-EXISTING fixture graph
    (10, 4, "G7"),  # valid read; even seq -> secondary_2
    (11, 2, "G7"),  # second modify of G7 (third snapshot version)
    (12, 2, "G9"),  # rejected: does not exist
]

# seq -> (n_vertices, full replacement edge set) for every VALID write
# in OPS_LOG. Reference semantics (primary_server.c:111-152): both add
# (op 1) and modify (op 2) receive the ENTIRE new adjacency matrix
# over shared memory and rewrite the graph file wholesale — a write's
# payload IS the complete next state, so each one is an immutable
# snapshot version, not a delta.
WRITE_PAYLOADS: dict[int, tuple[int, list[tuple[int, int]]]] = {
    1: (3, [(1, 2), (2, 3)]),
    4: (4, [(1, 2), (1, 3), (3, 4)]),
    9: (4, [(1, 2), (1, 4), (2, 3), (2, 4)]),
    11: (4, [(1, 4), (3, 4)]),
}


def valid_ops() -> list[tuple[int, int, str]]:
    """Pure-Python closed form of the R10 validity verdict over
    OPS_LOG — the same rule ops._annotated_log expresses in DataFrame
    algebra (tests/test_ops.py pins the two implementations equal).
    Needed driver-side by ops_concurrent_full, whose request list is
    a fixture constant, never data-derived."""
    pre = set(FIXTURE_GRAPHS)
    created: dict[str, int] = {}
    for seq, op, gid in sorted(OPS_LOG):
        if op == 1 and gid not in pre and gid not in created:
            created[gid] = seq
    out = []
    for seq, op, gid in sorted(OPS_LOG):
        exists_before = gid in pre or created.get(gid, seq) < seq
        if not 1 <= op <= 4:
            continue
        if op == 1 and exists_before:
            continue
        if op > 1 and not exists_before:
            continue
        out.append((seq, op, gid))
    return out


# Edge/node-granular modify deltas (the spec's FULL op-2 semantics:
# Assignment 2.pdf p.3 allows node and edge add+delete; the reference
# shortcuts op 2 to a whole-file rewrite, primary_server.c:111-112 —
# VERDICT r8 missing #2). (seq, graph_id, kind, action, a, b): edge
# rows carry canonical (a=src <= b=dst); vertex rows carry a=vid, b=0
# (unused). The set deliberately exercises every merge edge case:
# delete-then-re-add (last-writer-wins presence), add-then-delete
# (absence), no-op delete of an absent edge, no-op add of a present
# edge, vertex delete cascading incident edges, vertex add left
# isolated, and a self-loop delete.
GRAPH_DELTAS: list[tuple[int, str, str, str, int, int]] = [
    (1, "G5", "edge", "del", 1, 3),    # drop a tree edge (orphans 5 via 3)
    (2, "G5", "edge", "add", 2, 5),    # re-attach 5 elsewhere
    (3, "G5", "vertex", "add", 6, 0),  # brand-new vertex
    (4, "G5", "edge", "add", 5, 6),    # edge into the new vertex
    (5, "G5", "vertex", "del", 4, 0),  # cascade: (1,4) must vanish
    (6, "G1", "edge", "del", 2, 3),
    (7, "G1", "edge", "add", 2, 3),    # last-writer-wins → present
    (8, "G1", "edge", "del", 1, 4),
    (9, "G1", "edge", "add", 3, 4),    # new edge on existing vertices
    (10, "G8", "edge", "del", 1, 1),   # self-loop delete
    (11, "G8", "edge", "del", 2, 3),   # no-op delete (absent edge)
    (12, "G8", "edge", "add", 1, 2),   # no-op add (present edge)
    (13, "G3", "vertex", "add", 4, 0),
    (14, "G3", "edge", "add", 3, 4),
    (15, "G3", "edge", "del", 3, 4),   # add-then-delete → vertex 4 isolated
    # vertex delete-then-RE-ADD: the cascade at seq 16 kills (1,2) and
    # the re-add does NOT restore it — last-writer-wins on the vertex
    # alone would wrongly keep the edge (r9 review finding).
    (16, "G2", "vertex", "del", 2, 0),
    (17, "G2", "vertex", "add", 2, 0),
    # ...and the edge DOES come back when explicitly re-added after the
    # cascade (presence seq 20 > the endpoint's delete seq 18).
    (18, "G1", "vertex", "del", 3, 0),
    (19, "G1", "vertex", "add", 3, 0),
    (20, "G1", "edge", "add", 2, 3),
]


def graph_deltas_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        GRAPH_DELTAS,
        "seq bigint, graph_id string, kind string, action string, "
        "a bigint, b bigint",
    )


def graph_deltas_values_sql() -> str:
    return _values(GRAPH_DELTAS)


def fixture_vertices_rows() -> list[tuple[str, int]]:
    return [
        (gid, vid)
        for gid, (n, _) in sorted(FIXTURE_GRAPHS.items())
        for vid in range(1, n + 1)
    ]


def fixture_edges_rows() -> list[tuple[str, int, int]]:
    return [
        (gid, s, d)
        for gid, (_, edges) in sorted(FIXTURE_GRAPHS.items())
        for (s, d) in edges
    ]


def fixture_vertices_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, fixture_vertices_rows(), "graph_id string, vid bigint")


def fixture_edges_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, fixture_edges_rows(), "graph_id string, src bigint, dst bigint"
    )


def ops_log_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, OPS_LOG, "seq bigint, op int, graph_id string")


def existing_graph_ids() -> list[str]:
    return sorted(FIXTURE_GRAPHS)


# --- SQL literal generation (DuckDB side of the differential check) ---

def _values(rows: list[tuple]) -> str:
    if not rows:
        # an empty VALUES body is invalid SQL — fail loudly, callers
        # must handle the empty-relation case themselves
        raise ValueError("cannot render empty VALUES list")

    def lit(v) -> str:
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        return str(v)

    return ", ".join("(" + ", ".join(lit(v) for v in row) + ")" for row in rows)


def fixture_vertices_values_sql() -> str:
    """`(VALUES ...) AS fixture_vertices(graph_id, vid)` body."""
    return _values(fixture_vertices_rows())


def fixture_edges_values_sql() -> str:
    return _values(fixture_edges_rows())


def ops_log_values_sql() -> str:
    return _values(OPS_LOG)


def write_payload_rows() -> list[tuple[int, int, int]]:
    """(seq, src, dst) — one row per edge of each write payload.

    Empty payloads are rejected loudly: the snapshot store's output
    contract is one row per edge, so a zero-edge state would be
    invisible there. The reference's empty graphs (G4/G6) are legal as
    FIXTURES; a log write clearing a graph to empty would need a
    presence-row encoding first — fail here until someone adds it."""
    for seq, (_, edges) in WRITE_PAYLOADS.items():
        if not edges:
            # ValueError, not assert: must survive `python -O`
            # (ADVICE r7).
            raise ValueError(
                f"WRITE_PAYLOADS[{seq}] is empty — unrepresentable"
            )
    return [
        (seq, s, d)
        for seq, (_, edges) in sorted(WRITE_PAYLOADS.items())
        for (s, d) in edges
    ]


def write_payloads_df(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, write_payload_rows(), "seq bigint, src bigint, dst bigint"
    )


def write_payloads_values_sql() -> str:
    return _values(write_payload_rows())


def existing_graphs_values_sql() -> str:
    return _values([(g,) for g in existing_graph_ids()])
