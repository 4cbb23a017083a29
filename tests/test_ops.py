"""Golden tests for the ops/consistency layer against the FIXTURES.md
routing/replay table (reference semantics: load_balancer.c:78-99,
client.c:36-49, primary_server.c:62-107). Oracle parity is covered by
test_oracle_parity.py; these pin the absolute expected values."""

from __future__ import annotations

from distributed_graph_database_spark import ops

from .conftest import group_jobs

GOLDEN_ROUTES = {
    1: "primary",
    2: "secondary_2",
    3: "secondary_1",
    4: "primary",
    5: "secondary_1",
    6: "rejected",
    7: "rejected",
    8: "rejected",
    9: "primary",
    10: "secondary_2",
    11: "primary",
    12: "rejected",
}

GOLDEN_REASONS = {6: "bad_op", 7: "exists", 8: "missing", 12: "missing"}


def test_route_requests_golden(spark, sf_oracle):
    got = {r.seq: r.server for r in ops.route_requests(spark, sf_oracle).collect()}
    assert got == GOLDEN_ROUTES


def test_validate_requests_golden(spark, sf_oracle):
    rows = ops.validate_requests(spark, sf_oracle).collect()
    rejected = {r.seq: r.reason for r in rows if r.status == "rejected"}
    assert rejected == GOLDEN_REASONS
    assert {r.seq for r in rows if r.status == "valid"} == {
        1, 2, 3, 4, 5, 9, 10, 11,
    }


def test_ops_log_replay_golden(spark, sf_oracle):
    rows = ops.ops_log_replay(spark, sf_oracle).collect()
    state = {
        r.graph_id: (r.last_seq, r.last_op, r.n_writes) for r in rows
    }
    # Last-write-wins: G7's final state is the seq-11 modify (over
    # seqs 1 and 4); G1 gets its single seq-9 modify.
    assert state == {"G7": (11, 2, 3), "G1": (9, 2, 1)}


def test_ops_graph_snapshot_golden(spark, sf_oracle):
    """FIXTURES.md snapshot golden: G1 = fixture state then the seq-9
    payload; G7 = seqs 1, 4, 11 — versions dense-ranked by seq."""
    from distributed_graph_database_spark import fixtures

    rows = ops.graph_ops_snapshot(spark, sf_oracle).collect()
    got = {}
    for r in rows:
        got.setdefault((r.graph_id, r.version, r.seq), set()).add((r.src, r.dst))
    fixture_g1 = set(
        (s, d) for g, s, d in fixtures.fixture_edges_rows() if g == "G1"
    )
    pay = {s: set(e) for s, (_, e) in fixtures.WRITE_PAYLOADS.items()}
    assert got == {
        ("G1", 1, 0): fixture_g1,
        ("G1", 2, 9): pay[9],
        ("G7", 1, 1): pay[1],
        ("G7", 2, 4): pay[4],
        ("G7", 3, 11): pay[11],
    }


def test_ops_graph_snapshot_version_as_of_prunes(spark, sf_oracle):
    """The VERSION-AS-OF claim must be real: a single-version read
    plans partition filters on (graph_id, version) and touches no
    other snapshot."""
    from pyspark.sql import functions as F

    ops.graph_ops_snapshot(spark, sf_oracle)  # stage the store
    d = ops._snapshot_dir(spark, sf_oracle)
    one = spark.read.parquet(d).filter(
        (F.col("graph_id") == "G7") & (F.col("version") == 2)
    )
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "graph_id" in plan
    assert {(r.src, r.dst) for r in one.select("src", "dst").collect()} == {
        (1, 2), (1, 3), (3, 4),
    }


def _replay_deltas_sequentially():
    """Reference semantics for ops_graph_merge: apply GRAPH_DELTAS one
    by one in seq order to the fixture store, with vertex deletes
    cascading incident edges at apply time."""
    from distributed_graph_database_spark import fixtures

    verts = {(g, v) for g, v in fixtures.fixture_vertices_rows()}
    edges = {(g, s, d) for g, s, d in fixtures.fixture_edges_rows()}
    for _seq, g, kind, action, a, b in sorted(fixtures.GRAPH_DELTAS):
        if kind == "vertex" and action == "add":
            verts.add((g, a))
        elif kind == "vertex" and action == "del":
            verts.discard((g, a))
            edges = {e for e in edges if not (e[0] == g and a in (e[1], e[2]))}
        elif kind == "edge" and action == "add":
            edges.add((g, a, b))
        elif kind == "edge" and action == "del":
            edges.discard((g, a, b))
    return verts, edges


def test_ops_graph_merge_equals_sequential_replay(spark, sf_oracle):
    """The closed-form MERGE (last-writer-wins + delete cascade) must
    equal a literal one-op-at-a-time replay of the delta log — the
    spec's op-2 semantics (Assignment 2.pdf p.3). Holds because (a)
    per-element presence depends only on the LAST delta touching it,
    and (b) no edge-add in the log references a vertex deleted later
    without re-add (the log precondition asserted below)."""
    verts, edges = _replay_deltas_sequentially()
    rows = ops.ops_graph_merge(spark, sf_oracle).collect()
    got_v = {(r.graph_id, r.a) for r in rows if r.kind == "vertex"}
    got_e = {(r.graph_id, r.a, r.b) for r in rows if r.kind == "edge"}
    assert got_v == verts
    assert got_e == edges


def test_ops_graph_merge_log_precondition_and_delta_diff(spark, sf_oracle):
    """(1) Log precondition: every edge add's endpoints exist at the
    add's OWN seq (the rule that lets the engine cascade against the
    delta-sized vertex-delete set only). (2) The merge differs from the
    fixture store by exactly the compacted delta: untouched graphs are
    byte-identical, and every changed element traces to a delta row."""
    from distributed_graph_database_spark import fixtures

    verts, edges = _replay_deltas_sequentially()
    last: dict = {}
    vstate = {(g, v) for g, v in fixtures.fixture_vertices_rows()}
    for seq, g, kind, action, a, b in sorted(fixtures.GRAPH_DELTAS):
        last[(g, kind, a, b)] = action
        if kind == "vertex":
            (vstate.add if action == "add" else vstate.discard)((g, a))
        elif action == "add":
            # the log precondition: an edge add's endpoints must exist
            # AT ITS SEQ (not merely in the final state) — what lets
            # the engine cascade against the vertex-delete set alone
            assert (g, a) in vstate and (g, b) in vstate, (seq, g, a, b)

    fix_v = {(g, v) for g, v in fixtures.fixture_vertices_rows()}
    fix_e = {(g, s, d) for g, s, d in fixtures.fixture_edges_rows()}
    touched = {g for _, g, *_ in fixtures.GRAPH_DELTAS}
    for g in {x[0] for x in fix_v | fix_e} - touched:
        assert {x for x in verts if x[0] == g} == {x for x in fix_v if x[0] == g}
        assert {x for x in edges if x[0] == g} == {x for x in fix_e if x[0] == g}
    # every changed element must trace to a delta row on its graph
    for g, v in verts ^ fix_v:
        assert (g, "vertex", v, 0) in last, (g, v)
    for g, s, d in edges ^ fix_e:
        assert (
            (g, "edge", s, d) in last
            or any(k[0] == g and k[1] == "vertex" and k[2] in (s, d)
                   for k in last)
        ), (g, s, d)


def test_valid_ops_python_mirror_matches_spark(spark, sf_oracle):
    """fixtures.valid_ops() (the pure-Python closed form
    ops_concurrent_full derives its request list from) must equal
    the declared validate_requests verdict — one rule, two
    renderings."""
    from distributed_graph_database_spark import fixtures

    want = {
        (r.seq, r.op, r.graph_id)
        for r in ops.validate_requests(spark, sf_oracle).collect()
        if r.status == "valid"
    }
    assert set(fixtures.valid_ops()) == want


# The four valid reads' answers at fixture constants: (seq, server) →
# the reference's single-string output, whatever the scheduling.
GOLDEN_READS = {
    (2, "secondary_2"): "3 4",
    (3, "secondary_1"): "1 2 4 3",
    (5, "secondary_1"): "2 4",
    (10, "secondary_2"): "1 2 3 4",
}


def _overlap(ivals_a, ivals_b) -> bool:
    return any(a0 < b1 and b0 < a1 for a0, a1 in ivals_a for b0, b1 in ivals_b)


def _serves(spark, sf_oracle):
    """Run the uncached full serve up to 3 times, yielding each
    attempt's rows. The serve barriers its threads before the first
    request (ADVICE r9 #4), so a wall-clock overlap miss means the host
    starved a thread mid-batch: callers break on overlap and assert
    everything else on every attempt. Asserted here on every attempt:
    the read rows are the golden answers (scheduling never changes
    answers) and each pool ran under its own job group."""
    for _attempt in range(3):
        ops._FULL_INTERVALS.clear()
        ops._FULL_APPLIED_AT.clear()
        rows = ops._concurrent_full_serve(spark, sf_oracle).collect()
        got_reads = {
            (r.seq, r.server): r.result for r in rows if r.server != "primary"
        }
        assert got_reads == GOLDEN_READS
        tracker = spark.sparkContext.statusTracker()
        for grp in ("full-primary", "full-secondary_1", "full-secondary_2"):
            assert tracker.getJobIdsForGroup(grp), grp
        yield rows


def test_concurrent_replay_pools_ran_concurrently(spark, sf_oracle):
    """The inter-query-parallelism claim made falsifiable: the session
    scheduler is FAIR, and in the uncached serve the two secondaries'
    request intervals overlap in wall clock — concurrent execution, not
    interleaved turns. Then ops_concurrent_replay, once the serve is
    memoized, is its read rows at the cost of one scan."""
    assert spark.sparkContext.getConf().get("spark.scheduler.mode") == "FAIR"
    for _rows in _serves(spark, sf_oracle):
        iv1 = ops._FULL_INTERVALS["secondary_1"]
        iv2 = ops._FULL_INTERVALS["secondary_2"]
        assert len(iv1) == 2 and len(iv2) == 2
        if _overlap(iv1, iv2):
            break
    assert _overlap(iv1, iv2), (iv1, iv2)

    # The read-only key is a view over the memoized serve: its rows are
    # the serve's read rows, and it runs no serve of its own. AQE can
    # move a count by one, so the ceiling takes the lower of two calls.
    served = {
        tuple(r) for r in ops.ops_concurrent_full(spark, sf_oracle).collect()
        if r.op >= 3
    }
    calls = [
        group_jobs(spark, lambda: ops.ops_concurrent_replay(spark, sf_oracle).collect())
        for _ in range(2)
    ]
    for replay_rows, _ in calls:
        assert {tuple(r) for r in replay_rows} == served
        assert len(replay_rows) == len(served) == len(GOLDEN_READS)
    assert min(len(jobs) for _, jobs in calls) <= 1, calls


def test_concurrent_full_writes_and_reads_overlap(spark, sf_oracle):
    """ops_concurrent_full's readers-writers claim made falsifiable:
    in the uncached serve assert (1) every write is acked with a
    version, (2) every read that depends on a write finished AFTER
    that write's apply completed (seq-ordered visibility), and (3) in
    wall clock the primary's write interval overlaps a reader's —
    writes and reads genuinely concurrent. Overlap gets up to 3
    serves; everything else is asserted on every attempt."""
    from distributed_graph_database_spark import fixtures

    writes = [(s, op, g) for s, op, g in fixtures.valid_ops() if op <= 2]
    reads = [(s, op, g) for s, op, g in fixtures.valid_ops() if op >= 3]
    # the GLOBAL watermark each read blocks on (every write below its
    # seq — the reference's single writer lock, r10 review finding:
    # this is deliberately stronger than the per-graph AS-OF dep)
    wait_for = {
        rs: max((ws for ws, _, _ in writes if ws < rs), default=0)
        for rs, _, _ in reads
    }
    assert any(d > 0 for d in wait_for.values())  # the claim has teeth

    for rows in _serves(spark, sf_oracle):
        # (1) write acks present and versioned
        got_writes = {r.seq: r.result for r in rows if r.server == "primary"}
        assert set(got_writes) == {s for s, _, _ in writes}
        assert all(v.startswith("v") for v in got_writes.values())

        # (2) visibility: a read never finishes before the apply
        # instant of ANY write below its seq (the global watermark) —
        # this is the lock semantics, so it holds on EVERY attempt,
        # not just lucky ones
        read_end = {}
        for srv in ("secondary_1", "secondary_2"):
            batch = [r for r in reads if (r[0] % 2 == 1) == (srv == "secondary_1")]
            assert len(ops._FULL_INTERVALS[srv]) == len(batch) == 2
            for (rs, _, _), (t0, t1) in zip(batch, ops._FULL_INTERVALS[srv]):
                read_end[rs] = t1
        for rs, dep in wait_for.items():
            for ws, _, _ in writes:
                if ws <= dep:
                    assert read_end[rs] > ops._FULL_APPLIED_AT[ws], (rs, ws)

        # (3) wall-clock overlap between the write pool and a reader
        wiv = ops._FULL_INTERVALS["primary"]
        riv = ops._FULL_INTERVALS["secondary_1"] + ops._FULL_INTERVALS["secondary_2"]
        if _overlap(wiv, riv):
            break
    assert _overlap(wiv, riv), (wiv, riv)
