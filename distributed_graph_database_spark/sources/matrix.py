"""Adjacency-matrix text source + parquet graph store.

Reference lineage (SURVEY.md §2.1 R1-R3):
- R1 scan: `Gx.txt` = line 1 the vertex count n, then n rows of n
  space-separated 0/1 ints (parse loop secondary_server.c:119-153,
  format Assignment 2.pdf p.2; G4 shows the n=0 degenerate case).
- R2 sink (op 1 "add"): serialize to a NEW file — primary_server.c:
  111-152, fopen mode "w"; must-not-exist gated at client.c:43-44.
- R3 overwrite (op 2 "modify"): whole-file truncate-and-rewrite of an
  existing graph — same serialize loop; the parquet analogue is a
  dynamic partition overwrite of that graph_id only.

Two shapes for one parse. A catalog within the reference's own bounds
(at most MAX_GRAPHS files of at most MAX_VERTICES vertices, so at most
LOCAL_PARSE_MAX_BYTES bytes) is read and parsed on the driver, as the
reference's secondary opens and parses one `Gx.txt` per request: the
edge rows are a LocalRelation, and a one-graph read plans no file scan
and no parse expression. Any larger catalog takes the Spark-first
shape: matrix files are ingested with `wholetext` (one row per file —
a graph's matrix is one record by construction), then one `inline`
over a filtered `transform` of the row lines unpacks the
upper-triangle 1-cells entirely JVM-side, with per-file parallelism
to millions of graph files. There `graph_id` comes from the
file-source metadata column `_metadata.file_name`, so a filter on one
graph id is pushed into the file index and a read of one graph opens
only its own `Gx.txt`. Both shapes give the same rows
(tests/test_matrix.py). The canonical store is parquet partitioned by
graph_id, so "modify graph G" rewrites exactly one partition while
readers elsewhere see an atomic swap.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..session import local_frame

# The roundtrip query's "op 2 modify": replace G1's edge set with this
# (single source of truth for both the Spark write and the oracle).
MODIFY_GRAPH_ID = "G1"
MODIFIED_EDGES: list[tuple[int, int]] = [(1, 2), (1, 4), (2, 3), (3, 4)]

FIXTURE_MATRIX_DIR = "/tmp/dgdb_matrix_fixtures"
STORE_DIR = "/tmp/dgdb_store/graph_edges"


def matrix_text(n: int, edges: list[tuple[int, int]]) -> str:
    """Serialize one graph in the reference's file format (R2's
    serialize loop, primary_server.c:120-146): undirected edges stored
    once become a symmetric 0/1 matrix; 1-indexed vids."""
    adj = [[0] * n for _ in range(n)]
    for s, d in edges:
        adj[s - 1][d - 1] = 1
        adj[d - 1][s - 1] = 1
    lines = [str(n)] + [" ".join(map(str, row)) for row in adj]
    return "\n".join(lines) + "\n"


# The reference's bounds (Assignment 2.pdf p.2): at most MAX_GRAPHS graph
# files in the database, at most MAX_VERTICES vertices per graph.
MAX_GRAPHS = 20
MAX_VERTICES = 30
# Largest catalog, in bytes of its matrix files, that parse_matrix_dir
# parses on the driver: MAX_GRAPHS files of the largest graph,
# 20 × 1,803 = 36,060 bytes.
LOCAL_PARSE_MAX_BYTES = MAX_GRAPHS * len(matrix_text(MAX_VERTICES, []))
# Characters that make Spark read a path as a URI or a glob, not as a
# plain directory name.
_NOT_PLAIN_PATH = frozenset(":*?[]{}\\")
# File names whose graph_id is the name less `.txt` on both paths.
_PLAIN_NAME = re.compile(r"[A-Za-z0-9._-]+")
# Java's `\s`: ASCII whitespace only.
_JAVA_SPACES = re.compile(r"[ \t\n\x0b\f\r]+")


def write_fixture_matrix_files(out_dir: str = FIXTURE_MATRIX_DIR) -> str:
    """Materialize G1-G6 as matrix text files (byte-compatible with the
    reference's own G*.txt). Idempotent; tiny files, driver-side."""
    os.makedirs(out_dir, exist_ok=True)
    for gid, (n, edges) in fixtures.FIXTURE_GRAPHS.items():
        with open(os.path.join(out_dir, f"{gid}.txt"), "w") as f:
            f.write(matrix_text(n, edges))
    return out_dir


def _matrix_files(spark: SparkSession, path: str) -> DataFrame:
    """Each `*.txt` file under `path` as one row (graph_id, value).

    graph_id is the file name less `.txt`, read from the file-source
    metadata column: a filter on it is then a metadata-only predicate,
    which Spark pushes into the file index, so reading one graph lists
    the directory but scans one file. (The per-row input-file-name
    function hides the file from the planner: every file is scanned.)
    """
    return (
        spark.read.format("text")
        .option("wholetext", True)
        # directory + pathGlobFilter, not a glob-in-path: a literal
        # glob makes the source resolver stat the glob string itself
        # and log a spurious FileNotFoundException WARN + stack trace
        # into otherwise-clean runs (seen in BENCH_r02 stderr).
        .option("pathGlobFilter", "*.txt")
        .load(path)
        .select(
            F.regexp_extract(F.col("_metadata.file_name"), r"^(.+)\.txt$", 1).alias(
                "graph_id"
            ),
            "value",
        )
    )


def _local_catalog(path: str) -> list[tuple[str, str]] | None:
    """(graph_id, text) of each matrix file under `path`, read now on
    the driver — or None unless `path` is a plain local directory that
    holds only regular files, whose matrix files have plain names and
    total at most LOCAL_PARSE_MAX_BYTES bytes.

    The matrix files are the ones `_matrix_files` scans: names ending
    in `.txt`, less those Spark's file index hides (a leading `.`, or a
    leading `_` in a name without `=`). A catalog with a name outside
    `_PLAIN_NAME` goes to Spark, whose `_metadata.file_name` is
    URL-encoded (`a b.txt` is graph `a%20b` there).
    """
    if _NOT_PLAIN_PATH.intersection(path) or not os.path.isdir(path):
        return None
    with os.scandir(path) as it:
        entries = list(it)
    if not all(e.is_file() for e in entries):
        return None
    files = [
        e for e in entries
        if e.name.endswith(".txt")
        and not (e.name.startswith(".") or e.name.startswith("_") and "=" not in e.name)
    ]
    if not all(_PLAIN_NAME.fullmatch(e.name) for e in files):
        return None
    if sum(e.stat().st_size for e in files) > LOCAL_PARSE_MAX_BYTES:
        return None
    out = []
    for e in files:
        with open(e.path, "rb") as f:
            out.append((e.name[: -len(".txt")], f.read().decode("utf-8", "replace")))
    return out


def _matrix_cells(text: str):
    """parse_matrix_dir's Spark expression in Python: Spark's `trim`
    strips spaces only, the file splits into lines on `\\n`, each
    trimmed line into cells on Java's `\\s+` (which keeps a leading and
    trailing empty cell), and a `"1"` in matrix row i, column j
    (0-based, i <= j) is the edge (i + 1, j + 1)."""
    for i, line in enumerate(text.strip(" ").split("\n")[1:]):
        for j, cell in enumerate(_JAVA_SPACES.split(line.strip(" "))):
            if cell == "1" and i <= j:
                yield i + 1, j + 1


def parse_matrix_dir(spark: SparkSession, path: str) -> DataFrame:
    """R1 ingest: directory of Gx.txt → edge list (graph_id, src, dst)
    stored once (src <= dst; self-loops once).

    Line 1 is n; matrix row i (0-based) holds the cells (i+1, j+1). The
    file stores the symmetric matrix, so only the upper triangle incl.
    the diagonal is kept: each undirected edge once, self-loops once.
    The n=0 file (G4) yields no matrix rows and therefore no edges —
    correct degenerate.

    A reference-sized catalog (see `_local_catalog`) is parsed on the
    driver into a LocalRelation: the rows are a snapshot of the files
    taken at call time, as the reference opens the file per request,
    and a later write is seen by the next call. Anything else — a
    larger catalog, a subdirectory, a URI or a non-directory path — is
    parsed by Spark, lazily at each action: wholetext puts each file
    in one row, and one `inline` over a nested `transform` of its row
    lines emits the 1-cells, with no Python-side row handling.
    """
    catalog = _local_catalog(path)
    if catalog is not None:
        return local_frame(
            spark,
            [(gid, s, d) for gid, text in catalog for s, d in _matrix_cells(text)],
            "graph_id string, src bigint, dst bigint",
        )
    lines = F.split(F.trim(F.col("value")), "\n")

    def row_cells(line, i):
        return F.transform(
            F.split(F.trim(line), r"\s+"),
            lambda cell, j: F.when(
                (cell == "1") & (i <= j),
                F.struct(
                    (i + 1).cast("bigint").alias("src"),
                    (j + 1).cast("bigint").alias("dst"),
                ),
            ),
        )

    cells = F.flatten(F.transform(F.slice(lines, 2, F.size(lines) - 1), row_cells))
    return _matrix_files(spark, path).select(
        "graph_id", F.inline(F.filter(cells, lambda e: e.isNotNull()))
    )


def parse_matrix_vertices(spark: SparkSession, path: str) -> DataFrame:
    """Vertex set 1..n per graph, from line 1 — isolated vertices (G6)
    exist even with zero edges."""
    raw = _matrix_files(spark, path).select(
        "graph_id",
        F.split(F.trim(F.col("value")), "\n").getItem(0).cast("int").alias("n"),
    )
    return (
        # guard n=0 (G4): sequence(1, 0) would count DOWN to [1, 0].
        raw.filter(F.col("n") >= 1)
        .select("graph_id", F.explode(F.sequence(F.lit(1), F.col("n"))).alias("vid"))
        .select("graph_id", F.col("vid").cast("bigint").alias("vid"))
    )


def graph_from_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: serialize the fixture graphs to reference-format
    matrix files, ingest them back with `parse_matrix_dir`, return the
    edge list. The fixture catalog is reference-sized, so it is parsed
    on the driver; tests/test_matrix.py pins that path to the Spark
    parse. Oracle: the fixture edge literals (the roundtrip must be
    identity).
    """
    path = write_fixture_matrix_files()
    return parse_matrix_dir(spark, path)


ORACLE_GRAPH_FROM_MATRIX = f"""
SELECT graph_id, CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst
FROM (VALUES {fixtures.fixture_edges_values_sql()}) AS t(graph_id, src, dst)
"""


def graph_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared query: R2 add + R3 modify against the parquet store.

    1. "add" all fixture graphs: write edges partitioned by graph_id.
    2. "modify" G1: dynamic partition overwrite of only that partition
       with MODIFIED_EDGES (the reference's whole-file rewrite,
       primary_server.c:111-112, scoped to one graph).
    3. scan back → (graph_id, n_edges) post-state.
    """
    edges = fixtures.fixture_edges_df(spark)
    (
        edges.repartition("graph_id")
        .write.mode("overwrite")
        .partitionBy("graph_id")
        .parquet(STORE_DIR)
    )

    modified = local_frame(
        spark,
        [(MODIFY_GRAPH_ID, s, d) for s, d in MODIFIED_EDGES],
        "graph_id string, src bigint, dst bigint",
    )
    with _partition_overwrite(spark):
        (
            modified.repartition("graph_id")
            .write.mode("overwrite")
            .partitionBy("graph_id")
            .parquet(STORE_DIR)
        )

    return (
        spark.read.parquet(STORE_DIR)
        .groupBy("graph_id")
        .agg(F.count(F.lit(1)).alias("n_edges"))
    )


class _partition_overwrite:
    """Scoped spark.sql.sources.partitionOverwriteMode=dynamic: only
    partitions present in the written data are replaced (R3 semantics);
    restores the previous mode on exit."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", self.prev)


_N_MODIFIED = len(MODIFIED_EDGES)

ORACLE_GRAPH_STORE_ROUNDTRIP = f"""
WITH stored AS (
    SELECT graph_id FROM (VALUES {fixtures.fixture_edges_values_sql()})
        AS t(graph_id, src, dst)
    WHERE graph_id <> '{MODIFY_GRAPH_ID}'
    UNION ALL
    SELECT '{MODIFY_GRAPH_ID}' AS graph_id
    FROM range({_N_MODIFIED})
)
SELECT graph_id, COUNT(*) AS n_edges FROM stored GROUP BY graph_id
"""


def graph_export_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 serialize, distributed: edge lists → the reference's matrix
    text lines (primary_server.c:120-146 as a Spark plan) →
    (graph_id, line_no, line). line_no 0 is the header line `n`; lines
    1..n are space-separated 0/1 matrix rows, symmetric, self-loops on
    the diagonal.

    Shape: vertices ⋈ vertices per graph builds the (row, col) grid,
    a left join against symmetrized edges marks the 1-cells, and one
    groupBy(graph_id, row) assembles each line with an ordered
    array_sort+transform — per-row parallelism, no driver-side matrix
    assembly (the driver-side `matrix_text` helper exists only to
    write test fixtures). At scale each matrix row is one aggregation
    group — a graph's export parallelizes across its rows.
    """
    verts = fixtures.fixture_vertices_df(spark)
    edges = fixtures.fixture_edges_df(spark)
    sym = edges.unionByName(
        edges.filter(F.col("src") != F.col("dst")).select(
            "graph_id", F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    grid = (
        verts.select("graph_id", F.col("vid").alias("row"))
        .join(verts.select("graph_id", F.col("vid").alias("col")), "graph_id")
    )
    cells = grid.join(
        sym.select("graph_id", F.col("src").alias("row"), F.col("dst").alias("col"))
        .withColumn("one", F.lit(1)),
        ["graph_id", "row", "col"],
        "left",
    ).select("graph_id", "row", "col", F.coalesce("one", F.lit(0)).alias("cell"))
    body = (
        cells.groupBy("graph_id", F.col("row").alias("line_no"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("col", "cell"))),
                    lambda s: s.cell.cast("string"),
                ),
            ).alias("line")
        )
    )
    header = (
        verts.groupBy("graph_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "graph_id",
            F.lit(0).cast("bigint").alias("line_no"),
            F.col("n").cast("string").alias("line"),
        )
    )
    # empty graph (G4, n=0): no vertices ⇒ no header row from verts —
    # emit its `0` header from the catalog of graph ids.
    gids = local_frame(
        spark, [(g,) for g in fixtures.existing_graph_ids()], "graph_id string"
    )
    empty_header = (
        gids.join(verts.select("graph_id").distinct(), "graph_id", "left_anti")
        .select(
            "graph_id",
            F.lit(0).cast("bigint").alias("line_no"),
            F.lit("0").alias("line"),
        )
    )
    return header.unionByName(empty_header).unionByName(body)


ORACLE_GRAPH_EXPORT_MATRIX = f"""
WITH verts(graph_id, vid) AS (VALUES {fixtures.fixture_vertices_values_sql()}),
edges(graph_id, src, dst) AS (VALUES {fixtures.fixture_edges_values_sql()}),
gids(graph_id) AS (VALUES {fixtures.existing_graphs_values_sql()}),
sym AS (
  SELECT graph_id, src, dst FROM edges
  UNION ALL
  SELECT graph_id, dst, src FROM edges WHERE src <> dst
),
grid AS (
  SELECT r.graph_id, r.vid AS row, c.vid AS col
  FROM verts r JOIN verts c USING (graph_id)
),
cells AS (
  SELECT g.graph_id, g.row, g.col,
         CASE WHEN s.src IS NULL THEN 0 ELSE 1 END AS cell
  FROM grid g
  LEFT JOIN sym s ON s.graph_id = g.graph_id AND s.src = g.row AND s.dst = g.col
),
body AS (
  SELECT graph_id, CAST(row AS BIGINT) AS line_no,
         string_agg(CAST(cell AS VARCHAR), ' ' ORDER BY col) AS line
  FROM cells GROUP BY graph_id, row
),
header AS (
  SELECT g.graph_id, CAST(0 AS BIGINT) AS line_no,
         CAST(COALESCE(v.n, 0) AS VARCHAR) AS line
  FROM gids g
  LEFT JOIN (SELECT graph_id, COUNT(*) AS n FROM verts GROUP BY graph_id) v
    USING (graph_id)
)
SELECT * FROM header UNION ALL SELECT * FROM body
"""


QUERIES = {
    "graph_from_matrix": graph_from_matrix,
    "graph_store_roundtrip": graph_store_roundtrip,
    "graph_export_matrix": graph_export_matrix,
}

ORACLE_SQL = {
    "graph_from_matrix": ORACLE_GRAPH_FROM_MATRIX,
    "graph_store_roundtrip": ORACLE_GRAPH_STORE_ROUNDTRIP,
    "graph_export_matrix": ORACLE_GRAPH_EXPORT_MATRIX,
}
