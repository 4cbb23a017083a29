"""The driver-side read path of graph/traversal.py.

A graph whose edge frame fits LOCAL_READ_MAX_EDGES rows is traversed in
Python after one bounded read. Two things are pinned here:

- the law: on every input the local path returns what the distributed
  kernel returns — levels rows, `bfs_order` strings, DFS leaves and the
  refusal message. The kernel is forced by setting the gate to 0, which
  sends every non-empty edge frame down the distributed path;
- the cost: a read shaped like the benchmark's serve read (matrix dir →
  `symmetrize` → `bfs_levels(validate=True)` → formatter) runs at most
  1 Spark job for BFS, DFS or a refused start. Over a reference-sized
  catalog that job scans no file (the catalog is parsed on the driver);
  over any other catalog it scans only the read graph's file.

`symmetrize` itself is pinned against its Python law `_sym_rows`.
"""

from __future__ import annotations

import random
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from distributed_graph_database_spark import fixtures
from distributed_graph_database_spark.graph import derive, traversal
from distributed_graph_database_spark.session import local_frame
from distributed_graph_database_spark.sources import matrix

from .conftest import SF_SMOKE, group_jobs


def _edge_frame(spark, rows):
    return local_frame(spark, rows, "src bigint, dst bigint")


def _sym_rows(edges):
    """symmetrize() in Python: both directions, a self-loop once."""
    return [(s, d) for s, d in edges] + [(d, s) for s, d in edges if s != d]


def _read(spark, rows, start, **kw):
    """(levels rows, bfs_order, DFS leaves) — or the refusal message."""
    edges = _edge_frame(spark, rows)
    try:
        lv = traversal.bfs_levels(spark, edges, start, cache_edges=False, **kw)
    except ValueError as e:
        return str(e)
    return (
        sorted((r.vid, r.level) for r in lv.collect()),
        traversal.bfs_order_from_levels(lv).collect()[0][0],
        sorted(r.vid for r in traversal.dfs_leaves_from_levels(lv, edges).collect()),
    )


def _both(spark, monkeypatch, cases):
    """Each case (edge rows, start, bfs_levels kwargs) read on both paths
    → (local answers, distributed answers). The distributed reads, each
    dozens of tiny jobs, run four at a time to share the driver's cores."""
    local = [_read(spark, rows, start, **kw) for rows, start, kw in cases]
    with monkeypatch.context() as m, ThreadPoolExecutor(4) as pool:
        m.setattr(traversal, "LOCAL_READ_MAX_EDGES", 0)
        distributed = list(
            pool.map(lambda case: _read(spark, case[0], case[1], **case[2]), cases)
        )
    return local, distributed


def _tree(rng, vids):
    """A random recursive tree over vids (each vertex hangs off an
    earlier one)."""
    return [(vids[i], rng.choice(vids[:i])) for i in range(1, len(vids))]


def _case(seed):
    """One seeded graph → (symmetric rows, start, bfs_levels kwargs).
    Kinds rotate: tree, forest, tree plus cycles, self-loops, duplicate
    rows, isolated vertices (half of those validate the start); a
    third of the cases cut max_levels."""
    rng = random.Random(seed)
    n = rng.randint(1, 14)
    vids = rng.sample(range(1, 40), n)
    kind = seed % 6
    if kind == 1 and n > 2:  # forest: two trees
        cut = rng.randint(1, n - 1)
        edges = _tree(rng, vids[:cut]) + _tree(rng, vids[cut:])
    else:
        edges = _tree(rng, vids)
    if kind == 2:  # cycles: several min-vid parent candidates
        edges += [tuple(rng.sample(vids, 2)) for _ in range(n // 2) if n > 1]
    if kind == 3:  # self-loops
        edges += [(v, v) for v in rng.sample(vids, rng.randint(1, n))]
    rows = _sym_rows(edges)
    if kind == 4:  # duplicate rows
        rows += rng.choices(rows, k=len(rows) // 2 + 1) if rows else []
    start = rng.choice(vids)
    if kind == 5:  # isolated vertices: the start may be one of them
        start = rng.choice(vids + [40 + i for i in range(3)])
    rng.shuffle(rows)
    kw = {"max_levels": rng.randint(0, 3)} if seed % 3 == 0 else {}
    if kind == 5:
        kw["validate"] = rng.random() < 0.5
    return rows, start, kw


def test_local_read_equals_kernel_on_fixture_graphs(spark, monkeypatch):
    cases = [
        (_sym_rows(edges), start, {})
        for n, edges in fixtures.FIXTURE_GRAPHS.values()
        for start in range(1, n + 1)
    ]
    local, distributed = _both(spark, monkeypatch, cases)
    assert local == distributed


def test_local_read_equals_kernel_on_seeded_graphs(spark, monkeypatch):
    cases = [_case(seed) for seed in range(200)]
    local, distributed = _both(spark, monkeypatch, cases)
    for case, got, want in zip(cases, local, distributed):
        assert got == want, case


@pytest.mark.parametrize("validate", [True, False])
def test_absent_start_is_refused_or_alone_on_both_paths(spark, monkeypatch, validate):
    rows = _sym_rows(fixtures.FIXTURE_GRAPHS["G5"][1])
    (local,), (distributed,) = _both(
        spark, monkeypatch, [(rows, 99, {"validate": validate})]
    )
    assert local == distributed
    if validate:
        assert local == traversal.START_NOT_PRESENT_MSG
    else:
        assert local == ([(99, 0)], "99", [99])


def test_max_levels_below_depth_cuts_both_paths(spark, monkeypatch):
    path = [(v, v + 1) for v in range(1, 9)]  # depth 8 from vertex 1
    (local,), (distributed,) = _both(
        spark, monkeypatch, [(_sym_rows(path), 1, {"max_levels": 3})]
    )
    assert local == distributed
    assert local[0] == [(1, 0), (2, 1), (3, 2), (4, 3)]
    assert local[2] == [4]


def test_gate_sends_larger_frames_to_the_kernel(spark, monkeypatch):
    """One row over the gate: the levels are a distributed frame, and
    they still equal the local answer."""
    path = _sym_rows([(v, v + 1) for v in range(1, 6)])
    small = traversal.bfs_levels(spark, _edge_frame(spark, path), 1)
    monkeypatch.setattr(traversal, "LOCAL_READ_MAX_EDGES", len(path) - 1)
    large = traversal.bfs_levels(spark, _edge_frame(spark, path), 1)
    assert small.isLocal() and not large.isLocal()
    assert sorted(small.collect()) == sorted(large.collect())


@pytest.mark.parametrize(
    "rows",
    [[(1, 1), (1, 2), (3, 3)], [(1, 2), (1, 2), (2, 1)], [], "sf0.001"],
    ids=["self-loops", "duplicated-edge", "empty", "sf0.001-derived"],
)
def test_symmetrize_equals_its_law(spark, rows):
    """symmetrize's rows are _sym_rows of its input, as a multiset."""
    if rows == "sf0.001":
        edges = derive.derived_edges(spark, SF_SMOKE)
        rows = [(r.src, r.dst) for r in edges.collect()]
    else:
        edges = _edge_frame(spark, rows)
    got = Counter((r.src, r.dst) for r in derive.symmetrize(edges).collect())
    assert got == Counter(_sym_rows(rows))


def test_symmetrize_keeps_a_null_end_once(spark):
    """`src != dst` is not true on a null, so such a row is not reversed."""
    rows = derive.symmetrize(_edge_frame(spark, [(None, 1), (2, None)])).collect()
    assert sorted(map(tuple, rows), key=str) == [(2, None), (None, 1)]


def _serve_read(spark, catalog, kind, gid="G5"):
    """The benchmark's serve read of a graph: matrix dir → symmetrize →
    bfs_levels(validate=True) → the kind's formatter, collected →
    the answer (BFS order or DFS leaves from vertex 1), or the refusal
    message."""
    edges = (
        matrix.parse_matrix_dir(spark, catalog)
        .filter(F.col("graph_id") == gid)
        .select("src", "dst")
    )
    sym = derive.symmetrize(edges)
    start = 99 if kind == "refused" else 1
    try:
        lv = traversal.bfs_levels(spark, sym, start, cache_edges=False, validate=True)
    except ValueError as e:
        return str(e)
    if kind == "dfs":
        return sorted(r.vid for r in traversal.dfs_leaves_from_levels(lv, sym).collect())
    return traversal.bfs_order_from_levels(lv).collect()[0][0]


# Jobs per serve-shaped read: the one bounded read of the graph's rows,
# which the DFS formatter reuses. AQE can move a count by one, so the
# test takes the lower of two calls.
READ_JOB_CEILINGS = {"bfs": 1, "dfs": 1, "refused": 1}


@pytest.mark.parametrize("kind", sorted(READ_JOB_CEILINGS))
def test_serve_read_job_ceiling(spark, tmp_path, kind):
    catalog = matrix.write_fixture_matrix_files(str(tmp_path))
    answers, counts = zip(*(
        group_jobs(spark, lambda: _serve_read(spark, catalog, kind)) for _ in range(2)
    ))
    assert (answers[0] == traversal.START_NOT_PRESENT_MSG) == (kind == "refused")
    assert min(map(len, counts)) <= READ_JOB_CEILINGS[kind], (kind, counts)


def _files_read(spark, job_ids):
    """The "number of files read" of every file scan in the SQL
    executions that ran these jobs, from Spark's SQL status store."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    store = spark._jsparkSession.sharedState().statusStore()
    files = []
    for ex in conv.asJava(store.executionsList()):
        if not set(conv.asJava(ex.jobs()).keySet()) & set(job_ids):
            continue
        values = conv.asJava(store.executionMetrics(ex.executionId()))
        for node in conv.asJava(store.planGraph(ex.executionId()).allNodes()):
            files += [
                int(values.get(m.accumulatorId()))
                for m in conv.asJava(node.metrics())
                if node.name().startswith("Scan") and m.name() == "number of files read"
            ]
    return files


@pytest.mark.parametrize("kind", ["bfs", "dfs"])
def test_serve_read_scans_only_its_graph_file(spark, tmp_path, monkeypatch, kind):
    """A reference-sized catalog is parsed on the driver, so the read
    scans no file. On the Spark parse graph_id comes from file
    metadata, so the filter on it prunes the catalog to the one file
    the read asks for."""
    catalog = matrix.write_fixture_matrix_files(str(tmp_path))
    assert len(list(tmp_path.glob("*.txt"))) >= 6
    want = "1 2 3 4 5" if kind == "bfs" else [2, 4, 5]
    answer, jobs = group_jobs(spark, lambda: _serve_read(spark, catalog, kind))
    assert answer == want and _files_read(spark, jobs) == []
    monkeypatch.setattr(matrix, "LOCAL_PARSE_MAX_BYTES", 0)
    answer, jobs = group_jobs(spark, lambda: _serve_read(spark, catalog, kind))
    assert answer == want and _files_read(spark, jobs) == [1]


# Catalogs the Spark parse takes → (path, a driver-parsed twin that
# holds the same matrix files).
def _over_the_bound(tmp_path):
    """MAX_GRAPHS files of the largest graph fill the bound; a trailing
    space in one of them is one byte over it."""
    edges = [(v, v + 1) for v in range(1, matrix.MAX_VERTICES)]
    text = matrix.matrix_text(matrix.MAX_VERTICES, edges)
    at, over = tmp_path / "at", tmp_path / "over"
    for d in (at, over):
        d.mkdir()
        for k in range(1, matrix.MAX_GRAPHS + 1):
            (d / f"G{k}.txt").write_text(text)
    (over / "G1.txt").write_text(text + " ")
    assert sum(f.stat().st_size for f in at.iterdir()) == matrix.LOCAL_PARSE_MAX_BYTES
    return str(over), str(at)


def _with_subdirectory(tmp_path):
    plain = matrix.write_fixture_matrix_files(str(tmp_path / "plain"))
    nested = matrix.write_fixture_matrix_files(str(tmp_path / "nested"))
    (tmp_path / "nested" / "old").mkdir()
    return nested, plain


def _as_uri(tmp_path):
    catalog = matrix.write_fixture_matrix_files(str(tmp_path))
    return "file://" + catalog, catalog


@pytest.mark.parametrize("catalog", [_over_the_bound, _with_subdirectory, _as_uri])
def test_gate_sends_other_catalogs_to_the_spark_parse(spark, tmp_path, catalog):
    """A catalog one byte over the bound, one holding a subdirectory or
    one named by a URI is parsed by Spark: the read scans its graph's
    file, and the rows and answers are the driver-parsed twin's."""
    path, twin = catalog(tmp_path)
    got, want = (matrix.parse_matrix_dir(spark, p) for p in (path, twin))
    assert not got.isLocal() and want.isLocal()
    assert sorted(got.collect()) == sorted(want.collect())
    answer, jobs = group_jobs(spark, lambda: _serve_read(spark, path, "bfs", "G1"))
    assert answer == _serve_read(spark, twin, "bfs", "G1")
    assert _files_read(spark, jobs) == [1]


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_serve_read_of_the_empty_graph_is_refused(spark, tmp_path, monkeypatch, path):
    """G4 (n = 0) has no vertex, so a read from vertex 1 is refused."""
    catalog = matrix.write_fixture_matrix_files(str(tmp_path))
    if path == "spark":
        monkeypatch.setattr(matrix, "LOCAL_PARSE_MAX_BYTES", 0)
    for kind in ("bfs", "dfs"):
        assert _serve_read(spark, catalog, kind, "G4") == traversal.START_NOT_PRESENT_MSG


@pytest.mark.parametrize("path", ["driver", "spark"])
def test_serve_read_sees_a_rewritten_graph(spark, tmp_path, monkeypatch, path):
    """A graph file rewritten between two reads is what the second read
    traverses: no read serves a stale graph."""
    catalog = matrix.write_fixture_matrix_files(str(tmp_path))
    if path == "spark":
        monkeypatch.setattr(matrix, "LOCAL_PARSE_MAX_BYTES", 0)
    assert _serve_read(spark, catalog, "bfs") == "1 2 3 4 5"
    (tmp_path / "G5.txt").write_text(matrix.matrix_text(6, [(1, 6), (6, 2), (2, 3)]))
    assert _serve_read(spark, catalog, "bfs") == "1 6 2 3"
    assert _serve_read(spark, catalog, "dfs") == [3]


def test_dfs_leaves_rereads_another_edge_frame(spark):
    """Levels remember the rows of the frame they were traversed from;
    a different edge frame is read afresh. Over the levels of the star
    1-2, 1-3, the path 1-2-3 gives vertex 3 no parent at level 0, so it
    leaves the tree and only 2 is a leaf."""
    star = _edge_frame(spark, _sym_rows([(1, 2), (1, 3)]))
    path = _edge_frame(spark, _sym_rows([(1, 2), (2, 3)]))
    lv = traversal.bfs_levels(spark, star, 1)
    leaves = traversal.dfs_leaves_from_levels
    assert sorted(r.vid for r in leaves(lv, star).collect()) == [2, 3]
    assert sorted(r.vid for r in leaves(lv, path).collect()) == [2]


def test_read_without_arrow_is_local_and_answers(spark):
    """A local frame is a LocalRelation, zero rows included, with Arrow
    on (the engine's session) or off (Spark's default); without Arrow
    the read gives the same answers."""
    rows = _sym_rows(fixtures.FIXTURE_GRAPHS["G5"][1])
    assert _edge_frame(spark, []).isLocal()
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert _edge_frame(spark, rows).isLocal()
        assert _edge_frame(spark, []).isLocal()
        assert _read(spark, rows, 1) == (
            [(1, 0), (2, 1), (3, 1), (4, 1), (5, 2)], "1 2 3 4 5", [2, 4, 5]
        )
    finally:
        spark.conf.set(key, before)
