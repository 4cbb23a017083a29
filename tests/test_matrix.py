"""Matrix source/sink: parse of reference-format G*.txt files written
from the fixture graphs (R1 parse, secondary_server.c:119-153),
add/modify store semantics (R2/R3, primary_server.c:111-152), and
degenerate graphs.

A reference-sized catalog is parsed on the driver; the law pinned here
is that it gives the rows of the Spark parse, which a gate of 0 bytes
forces."""

from __future__ import annotations

import os
import random

import pytest

from distributed_graph_database_spark import fixtures
from distributed_graph_database_spark.sources import matrix


# The reference checkout, when present, sits beside this repository.
REFERENCE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference",
)


def test_parse_vertices_counts_isolated_and_empty(spark, tmp_path):
    out = matrix.write_fixture_matrix_files(str(tmp_path / "mx"))
    vids = matrix.parse_matrix_vertices(spark, out).collect()
    per_graph: dict[str, set] = {}
    for r in vids:
        per_graph.setdefault(r.graph_id, set()).add(r.vid)
    # G6: two isolated vertices exist despite zero edges.
    assert per_graph["G6"] == {1, 2}
    # G4: n=0 → no vertices at all.
    assert "G4" not in per_graph
    assert per_graph["G5"] == {1, 2, 3, 4, 5}


def test_matrix_text_roundtrip_is_identity(spark, tmp_path):
    """Serialize → parse is the identity on every fixture graph, both
    for the full fixture set and for a directory holding only the
    reference's G1-G6 set."""
    ref = tmp_path / "ref"
    ref.mkdir()
    for gid in fixtures.REFERENCE_GRAPH_IDS:
        n, edges = fixtures.FIXTURE_GRAPHS[gid]
        (ref / f"{gid}.txt").write_text(matrix.matrix_text(n, edges))
    dirs = {
        matrix.write_fixture_matrix_files(str(tmp_path / "mx")): fixtures.FIXTURE_GRAPHS,
        str(ref): fixtures.REFERENCE_GRAPH_IDS,
    }
    for out, gids in dirs.items():
        got: dict[str, set] = {}
        for r in matrix.parse_matrix_dir(spark, out).collect():
            got.setdefault(r.graph_id, set()).add((r.src, r.dst))
        want = {g: set(fixtures.FIXTURE_GRAPHS[g][1]) for g in gids
                if fixtures.FIXTURE_GRAPHS[g][1]}
        assert got == want, out


def test_matrix_files_byte_identical_to_reference():
    """Our serializer writes the reference's exact file format."""
    if not os.path.isdir(REFERENCE_DIR):
        pytest.skip("reference checkout with the original G*.txt files is absent")
    for gid in fixtures.REFERENCE_GRAPH_IDS:
        n, edges = fixtures.FIXTURE_GRAPHS[gid]
        with open(os.path.join(REFERENCE_DIR, f"{gid}.txt")) as f:
            ref = f.read()
        ours = matrix.matrix_text(n, edges)
        assert ours.strip() == ref.strip(), gid


def test_add_refuses_existing_graph(spark, tmp_path):
    """R2 'add' gate (client.c:43-44): writing mode=errorifexists to an
    existing path raises — the op-1 must-not-exist contract."""
    path = str(tmp_path / "g")
    df = fixtures.fixture_edges_df(spark).filter("graph_id = 'G2'")
    df.write.mode("errorifexists").parquet(path)
    with pytest.raises(Exception, match="already exists|LOCATION_ALREADY_EXISTS"):
        df.write.mode("errorifexists").parquet(path)


def test_modify_overwrites_single_partition(spark, sf_oracle):
    """R3: the dynamic partition overwrite replaces only G1; all other
    graphs keep their original edge counts."""
    rows = {r.graph_id: r.n_edges for r in
            matrix.graph_store_roundtrip(spark, sf_oracle).collect()}
    assert rows[matrix.MODIFY_GRAPH_ID] == len(matrix.MODIFIED_EDGES)
    assert rows["G5"] == 4 and rows["G2"] == 1 and rows["G3"] == 2
    # store layout really is one directory per graph partition
    parts = {p for p in os.listdir(matrix.STORE_DIR) if p.startswith("graph_id=")}
    assert "graph_id=G1" in parts and "graph_id=G5" in parts


def test_distributed_export_matches_reference_serializer(spark, sf_smoke):
    """graph_export_matrix (the Spark-side R2 serialize) produces the
    exact lines of the driver-side reference-format serializer."""
    got: dict[str, dict[int, str]] = {}
    for r in matrix.graph_export_matrix(spark, sf_smoke).collect():
        got.setdefault(r.graph_id, {})[r.line_no] = r.line
    for gid, (n, edges) in fixtures.FIXTURE_GRAPHS.items():
        expect = matrix.matrix_text(n, edges).strip("\n").split("\n")
        lines = [got[gid][i] for i in range(len(got[gid]))]
        assert lines == expect, (gid, lines, expect)


def _parse_both(spark, monkeypatch, path):
    """parse_matrix_dir rows of `path` → (driver path, Spark path)."""
    local = matrix.parse_matrix_dir(spark, path)
    with monkeypatch.context() as m:
        m.setattr(matrix, "LOCAL_PARSE_MAX_BYTES", 0)
        remote = matrix.parse_matrix_dir(spark, path)
    assert local.isLocal() and not remote.isLocal()
    return sorted(map(tuple, local.collect())), sorted(map(tuple, remote.collect()))


def test_driver_parse_equals_spark_parse_on_fixture_graphs(spark, tmp_path, monkeypatch):
    """G1-G6 and G8: the n=0 graph, isolated vertices and a self-loop."""
    local, remote = _parse_both(
        spark, monkeypatch, matrix.write_fixture_matrix_files(str(tmp_path))
    )
    assert local == remote
    assert {g for g, _, _ in local} == {
        g for g, (_, edges) in fixtures.FIXTURE_GRAPHS.items() if edges
    }
    assert ("G8", 1, 1) in local


def _random_matrix(rng, n):
    """A 0/1 matrix file of n vertices: symmetric (as the reference
    writes it) or not, so the upper-triangle rule shows."""
    if rng.random() < 0.5:
        edges = [(s, d) for s in range(1, n + 1) for d in range(s, n + 1)
                 if rng.random() < 0.15]
        return matrix.matrix_text(n, edges)
    rows = [" ".join(rng.choice("01") for _ in range(n)) for _ in range(n)]
    return "\n".join([str(n)] + rows) + "\n"


@pytest.mark.parametrize("seed", range(20))
def test_driver_parse_equals_spark_parse_on_seeded_catalogs(
    spark, tmp_path, monkeypatch, seed
):
    rng = random.Random(seed)
    for k in rng.sample(range(1, 100), rng.randint(1, matrix.MAX_GRAPHS)):
        text = _random_matrix(rng, rng.randint(0, matrix.MAX_VERTICES))
        (tmp_path / f"G{k}.txt").write_text(text)
    local, remote = _parse_both(spark, monkeypatch, str(tmp_path))
    assert local == remote


def test_driver_parse_equals_spark_parse_on_untidy_files(spark, tmp_path, monkeypatch):
    """Spark's trim strips spaces only and Java's \\s+ splits on any
    ASCII whitespace, keeping a leading empty cell: a tab that opens a
    row shifts its cells one column right on both paths. Hidden and
    non-matrix files are skipped on both."""
    files = {
        "trailing.txt": "3 \n0 1 1  \n1 0 1 \n1 1 0   ",
        "crlf.txt": "3\r\n0 1 0\r\n1 1 1\r\n0 1 0\r\n",
        "tabs.txt": "3\n0\t1\t1\n\t1 0 1\n1\t1\t1\n",
        "blank.txt": "2\n1 1\n1 0\n\n",
        "lead.txt": "  2\n  1 1\n0 1\n",
        "empty.txt": "",
        "_hidden.txt": "1\n1\n",
        ".hidden.txt": "1\n1\n",
        "notes.md": "1\n1\n",
    }
    for name, text in files.items():
        (tmp_path / name).write_bytes(text.encode())
    local, remote = _parse_both(spark, monkeypatch, str(tmp_path))
    assert local == remote
    assert {g for g, _, _ in local} == {"trailing", "crlf", "tabs", "blank", "lead"}
    # row 2, tab then "1 0 1", reads as cells "", "1", "0", "1"
    assert [(s, d) for g, s, d in local if g == "tabs" and s == 2] == [(2, 2), (2, 4)]


def test_local_parse_bound_is_a_full_reference_catalog():
    """The gate is MAX_GRAPHS files of an n = MAX_VERTICES matrix:
    a 3-byte header and 30 rows of 60 bytes each."""
    assert matrix.LOCAL_PARSE_MAX_BYTES == 20 * (3 + 30 * 60) == 36_060
