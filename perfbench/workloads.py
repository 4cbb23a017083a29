"""The two workloads. Each drives the engine only through its public
functions and returns one ``Op`` per timed operation; answers are kept
for the correctness gate, which runs after the timed region.

- ``serve``: one closed-loop client sends the reference's own traffic
  (BFS/DFS reads, whole-matrix writes, out-of-range reads) against a
  directory of adjacency-matrix files, one fixed script of requests.
- ``batch``: one pass over a fixed key list from
  ``__spark_entry__.queries()``; each key is one operation, its result
  collected to the driver.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

import __spark_entry__ as entry
from distributed_graph_database_spark.graph import derive, traversal
from distributed_graph_database_spark.sources import matrix

from datagen import Request, ServeScript

# The batch pass: one analyst session over the derived customer-order
# graph and the relational tables. Graph keys are their own spans; the
# relational and streaming keys share one span per layer.
GRAPH_KEYS = [
    "graph_components", "graph_hits", "graph_diameter", "ml_kmeans_train",
]
SQL_KEYS = ["ql_sql_q1", "ql_sql_q3", "ql_sql_q5", "ql_sql_q9"]
STREAM_KEYS = ["stream_tumbling", "stream_interval_join"]
BATCH = (
    [(k, k) for k in GRAPH_KEYS]
    + [(k, "relational") for k in SQL_KEYS]
    + [(k, "streaming") for k in STREAM_KEYS]
)
SERVE_SPANS = ["matrix.write", "traversal.bfs_levels", "traversal.format"]


@dataclass
class Op:
    name: str  # key, or serve request kind
    seconds: float
    answer: object = None
    error: str | None = None
    req: Request | None = None
    catalog_bytes: int = 0


def run_batch(spark, tracer, keys: list[tuple[str, str]], data_dir: str) -> list[Op]:
    queries = entry.queries()
    ops = []
    for key, span in keys:
        t0 = time.perf_counter()
        try:
            with tracer.span(span, key):
                pdf = queries[key](spark, data_dir).toPandas()
            ops.append(Op(key, time.perf_counter() - t0, answer=pdf))
        except Exception as e:  # a failed key is counted, the pass goes on
            ops.append(Op(key, time.perf_counter() - t0, error=f"{type(e).__name__}: {e}"))
    return ops


def write_matrix(catalog_dir: str, gid: str, n: int, edges) -> None:
    """Whole-file add/modify, atomically swapped in (readers never see
    a half-written matrix; the temp name does not match *.txt)."""
    path = os.path.join(catalog_dir, f"{gid}.txt")
    tmp = os.path.join(catalog_dir, f".{gid}.tmp")
    with open(tmp, "w") as f:
        f.write(matrix.matrix_text(n, list(edges)))
    os.replace(tmp, path)


def stage_catalog(catalog_dir: str, script: ServeScript) -> None:
    os.makedirs(catalog_dir, exist_ok=True)
    for gid, (n, edges) in script.initial.items():
        write_matrix(catalog_dir, gid, n, edges)


def _catalog_bytes(catalog_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(catalog_dir, f))
        for f in os.listdir(catalog_dir) if f.endswith(".txt")
    )


def serve_read(spark, tracer, catalog_dir: str, req: Request):
    """parse_matrix_dir -> symmetrize -> bfs_levels(validate) -> format."""
    edges = (
        matrix.parse_matrix_dir(spark, catalog_dir)
        .filter(F.col("graph_id") == req.gid)
        .select("src", "dst")
    )
    sym = derive.symmetrize(edges)
    with tracer.span("traversal.bfs_levels", f"traversal.bfs_levels#{req.seq}"):
        lv = traversal.bfs_levels(spark, sym, req.start, cache_edges=False, validate=True)
    with tracer.span("traversal.format", f"traversal.format#{req.seq}"):
        if req.kind == "dfs":
            rows = traversal.dfs_leaves_from_levels(lv, sym).collect()
            return sorted(int(r.vid) for r in rows)
        return traversal.bfs_order_from_levels(lv).collect()[0][0]


def run_serve(spark, tracer, catalog_dir: str, script: ServeScript) -> list[Op]:
    ops = []
    catalog_bytes = _catalog_bytes(catalog_dir)
    for req in script.requests:
        t0 = time.perf_counter()
        op = Op(req.kind, 0.0, req=req, catalog_bytes=catalog_bytes)
        try:
            if req.kind == "write":
                with tracer.span("matrix.write", f"matrix.write#{req.seq}"):
                    write_matrix(catalog_dir, req.gid, req.n, req.edges)
            else:
                op.answer = serve_read(spark, tracer, catalog_dir, req)
        except ValueError as e:
            op.error = str(e)
        except Exception as e:  # counted as failed, the client goes on
            op.error = f"{type(e).__name__}: {e}"
        op.seconds = time.perf_counter() - t0
        if req.kind == "write":
            catalog_bytes = _catalog_bytes(catalog_dir)
        ops.append(op)
    return ops


def serve_failure(op: Op) -> str | None:
    """Why a serve op failed, or None: a read must match the model, a
    bad read must be refused with the reference's message."""
    req = op.req
    if req.kind == "bad":
        if op.error == traversal.START_NOT_PRESENT_MSG:
            return None
        return f"start {req.start} of {req.gid} (n={req.n}) not refused: {op.error or op.answer!r}"
    if op.error is not None:
        return op.error
    if req.kind != "write" and op.answer != req.expect:
        return f"{req.kind} {req.gid} from {req.start}: {op.answer!r} != {req.expect!r}"
    return None
