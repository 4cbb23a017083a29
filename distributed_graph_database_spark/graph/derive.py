"""Deterministic graph views over the relational testdata.

SURVEY.md §7.3 pins the derivation so the DuckDB oracle can build the
identical graph: a customer–order bipartite graph,

    edges := SELECT DISTINCT o_custkey AS src,
                             100000 + o_orderkey AS dst  FROM orders

symmetrized at query time (the reference stores undirected graphs as
symmetric adjacency matrices — Assignment 2.pdf p.2; we store each
edge once and expand, SURVEY.md §1.3).

Scale note: at test scale the +100000 vid offset keeps customer and
order vid ranges disjoint (custkey < 100000 for sf ≤ 0.1). A 100 TB
deployment would use a wider offset or a (type, key) composite — the
derivation is a test harness artifact, not an engine limit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table

ORDER_VID_OFFSET = 100_000

# DuckDB oracle fragments — MUST stay in lockstep with the DataFrame code.
# No DISTINCT: o_orderkey is unique (asserted in tests), so every
# (custkey, offset+orderkey) pair is distinct by construction and a
# dedup would shuffle the whole orders table for nothing — at 100 TB
# that's the single most expensive no-op in the plan.
DERIVED_EDGES_SQL = (
    "SELECT o_custkey AS src, "
    f"{ORDER_VID_OFFSET} + o_orderkey AS dst FROM orders"
)
DERIVED_SYM_SQL = (
    f"SELECT src, dst FROM ({DERIVED_EDGES_SQL}) "
    f"UNION ALL SELECT dst AS src, src AS dst FROM ({DERIVED_EDGES_SQL}) "
    "WHERE src <> dst"  # self-loops once — mirrors symmetrize()
)
# Deterministic default start vertex: the order-side vid of the
# smallest order key (an order vertex gives a 3-level BFS: order ->
# its customer -> the customer's other orders).
DEFAULT_START_SQL = f"{ORDER_VID_OFFSET} + (SELECT MIN(o_orderkey) FROM orders)"


def symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected expansion: each stored edge yields both directions.

    Self-loops (allowed by the spec, Assignment 2.pdf p.2) are emitted
    ONCE — the reference's adjacency-row sum sees a loop as a single 1
    on the diagonal, so reversing (v,v) would double-count degree and
    duplicate traversal rows. A row with a null end is emitted once,
    as it stands (`!=` on a null is not true).

    One generator over one scan of `edges`, not a self-union: a union
    would scan the input once per branch.
    """
    src, dst = F.col("src"), F.col("dst")
    fwd = F.struct(src.alias("src"), dst.alias("dst"))
    rev = F.struct(dst.alias("src"), src.alias("dst"))
    return edges.select(
        F.inline(F.when(src != dst, F.array(fwd, rev)).otherwise(F.array(fwd)))
    )


def derived_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-once customer→order edge list (the pinned derivation).

    No `.distinct()`: o_orderkey is a unique key (guarded by a test),
    so the pairs are distinct by construction and the dedup shuffle
    would be a full-table no-op.
    """
    orders = table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_custkey").cast("bigint").alias("src"),
        (F.lit(ORDER_VID_OFFSET) + F.col("o_orderkey")).cast("bigint").alias("dst"),
    )


def derived_edges_sym(spark: SparkSession, sf_dir: str) -> DataFrame:
    return symmetrize(derived_edges(spark, sf_dir))


def default_start(spark: SparkSession, sf_dir: str) -> int:
    """Scalar action — one aggregate, not a driver-side loop."""
    row = table(spark, sf_dir, "orders").agg(F.min("o_orderkey")).first()
    if row is None or row[0] is None:
        raise ValueError(
            f"orders table at {sf_dir!r} is empty — no default start vertex"
        )
    return ORDER_VID_OFFSET + int(row[0])
