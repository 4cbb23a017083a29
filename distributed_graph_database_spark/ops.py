"""Ops/consistency layer — the reference's distinctive request
semantics re-expressed as declarative queries over an ops log.

Reference lineage (SURVEY.md §2.1 R8/R10/R11):
- routing: ops 1,2 → primary; ops 3,4 → secondary by sequence parity,
  odd→secondary_1, even→secondary_2 (load_balancer.c:78-99).
- validation: op must be 1..4 (client.c:36-39); op 1 requires the
  graph NOT exist, ops 2-4 require it to exist (client.c:43-49,
  access(2) on the file).
- seq-ordered write application: the readers-writers protocol's
  semantic residue is that writes land in increasing sequence order,
  so the final state of a graph is its last valid write
  (primary_server.c:62-107; Assignment 2.pdf p.6).

"Exists at seq s" has a closed form because the op set has no delete:
a graph exists if it is a pre-existing fixture, or if the *first*
valid op-1 on it (which is simply the earliest op-1, for non-fixture
graphs) happened at a lower seq. That keeps all three queries pure
window/join algebra — no iteration, shuffle count O(1), and the same
logic is expressible verbatim in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import fixtures
from .cache import memo, shared, stage_dir
from .session import local_frame

_REJECT_BAD_OP = "bad_op"
_REJECT_EXISTS = "exists"
_REJECT_MISSING = "missing"


def _annotated_log(spark: SparkSession) -> DataFrame:
    """Ops log + per-row validity verdict (the R10 predicate set)."""
    log = fixtures.ops_log_df(spark)
    pre = local_frame(
        spark, [(g,) for g in fixtures.existing_graph_ids()], "graph_id string"
    ).withColumn("pre_existing", F.lit(True))

    # Earliest op-1 per non-fixture graph = its creation seq.
    created = (
        log.filter(F.col("op") == 1)
        .join(pre, "graph_id", "left_anti")
        .groupBy("graph_id")
        .agg(F.min("seq").alias("created_seq"))
    )

    annotated = (
        log.join(F.broadcast(pre.select("graph_id", "pre_existing")), "graph_id", "left")
        .join(F.broadcast(created), "graph_id", "left")
        .withColumn(
            "exists_before",
            F.coalesce(F.col("pre_existing"), F.lit(False))
            # coalesce: NULL created_seq (never created) must read as
            # "does not exist", not SQL-null (three-valued logic trap).
            | F.coalesce(F.col("created_seq") < F.col("seq"), F.lit(False)),
        )
    )
    return annotated.withColumn(
        "reason",
        F.when(~F.col("op").between(1, 4), F.lit(_REJECT_BAD_OP))
        .when((F.col("op") == 1) & F.col("exists_before"), F.lit(_REJECT_EXISTS))
        .when((F.col("op") > 1) & ~F.col("exists_before"), F.lit(_REJECT_MISSING))
        .otherwise(F.lit(None).cast("string")),
    ).withColumn("status", F.when(F.col("reason").isNull(), "valid").otherwise("rejected"))


def validate_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10: per-request verdict → (seq, op, graph_id, status, reason)."""
    return _annotated_log(spark).select(
        "seq", "op", "graph_id", "status",
        F.coalesce(F.col("reason"), F.lit("ok")).alias("reason"),
    )


def route_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8 parity router over *valid* requests; rejected ones never
    reach a server (the client gates them) → (seq, op, graph_id, server)."""
    return _annotated_log(spark).select(
        "seq", "op", "graph_id",
        F.when(F.col("status") == "rejected", F.lit("rejected"))
        .when(F.col("op") <= 2, F.lit("primary"))
        .when(F.pmod(F.col("seq"), F.lit(2)) == 1, F.lit("secondary_1"))
        .otherwise(F.lit("secondary_2"))
        .alias("server"),
    )


def ops_log_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R11: apply valid writes in seq order; last-write-wins state per
    graph → (graph_id, last_seq, last_op, n_writes)."""
    writes = _annotated_log(spark).filter(
        (F.col("status") == "valid") & (F.col("op") <= 2)
    )
    w = Window.partitionBy("graph_id").orderBy(F.col("seq").desc())
    return (
        writes.withColumn("rn", F.row_number().over(w))
        .withColumn("n_writes", F.count(F.lit(1)).over(Window.partitionBy("graph_id")))
        .filter(F.col("rn") == 1)
        .select(
            "graph_id",
            F.col("seq").alias("last_seq"),
            F.col("op").alias("last_op"),
            "n_writes",
        )
    )


def ops_request_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-server load report over the routed log → (server, n_requests,
    n_reads, n_writes, pct_of_total): the observability face of the
    reference's topology — the load balancer's parity split
    (load_balancer.c:78-99) exists precisely to balance read load
    across the two secondaries, and this is the report that would
    verify it. Composes the declared router (same annotated log) with
    one tiny aggregate; pct is a division of identical integers, so it
    hash-matches."""
    routed = route_requests(spark, sf_dir)
    counts = routed.groupBy("server").agg(
        F.count(F.lit(1)).alias("n_requests"),
        F.sum((F.col("op") >= 3).cast("bigint")).alias("n_reads"),
        F.sum((F.col("op") <= 2).cast("bigint")).alias("n_writes"),
    )
    total = counts.agg(F.sum("n_requests").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "server",
        "n_requests",
        "n_reads",
        "n_writes",
        F.round(F.col("n_requests") / F.col("total"), 6).alias("pct_of_total"),
    )


def _snapshot_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-level snapshot history of every graph the ops log writes:
    each VALID write (op 1 add / op 2 modify) carries a full
    replacement edge set (primary_server.c:111-152 rewrites the whole
    graph file), so versions are (initial fixture state if the graph
    pre-existed) + one per valid write, ranked by seq."""
    writes = _annotated_log(spark).filter(
        (F.col("status") == "valid") & (F.col("op") <= 2)
    ).select("graph_id", "seq")
    # Loud-fail coupling: every valid write must have a payload entry
    # in WRITE_PAYLOADS — a silent inner-join drop would fake an empty
    # version. The authority is the DICT (its keys), not the edge
    # rows, because this store's output contract is one row per edge:
    # an empty-edge-set payload would be invisible at the row level,
    # so fixtures.WRITE_PAYLOADS loudly rejects empty payloads and
    # this check rejects missing ones.
    pay = fixtures.write_payloads_df(spark)
    payload_seqs = local_frame(
        spark, [(s,) for s in fixtures.WRITE_PAYLOADS], "seq bigint"
    )
    n_orphan = writes.join(
        F.broadcast(payload_seqs), "seq", "left_anti"
    ).count()
    if n_orphan != 0:
        # RuntimeError, not assert: this loud-fail contract must
        # survive `python -O` (ADVICE r7).
        raise RuntimeError(f"{n_orphan} valid write(s) with no payload")
    written = writes.select("graph_id").distinct()
    initial = (
        fixtures.fixture_edges_df(spark)
        .join(F.broadcast(written), "graph_id", "left_semi")
        .withColumn("seq", F.lit(0).cast("bigint"))
        .select("graph_id", "seq", "src", "dst")
    )
    from_log = writes.join(pay, "seq").select("graph_id", "seq", "src", "dst")
    snaps = initial.unionByName(from_log)
    return snaps.withColumn(
        "version",
        F.dense_rank()
        .over(Window.partitionBy("graph_id").orderBy("seq"))
        .cast("int"),
    )


def _snapshot_dir(spark: SparkSession, sf_dir: str) -> str:
    def build() -> str:
        d = stage_dir(spark, sf_dir, "ops_graphsnap")
        (
            _snapshot_edges(spark, sf_dir)
            .write.mode("overwrite")
            .partitionBy("graph_id", "version")
            .parquet(d)
        )
        return d

    return memo(spark, sf_dir, "ops_graphsnap", build)


def graph_ops_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2/R3 write path × snapshot time travel: replay the ops log's
    valid graph writes (each a full-state payload, the reference's
    whole-file rewrite semantics, primary_server.c:111-152; routed to
    the primary by load_balancer.c:78-84) into an immutable
    version-partitioned parquet store, then read EVERY version back →
    (graph_id, version, seq, src, dst). Version 1 of a pre-existing
    graph is its fixture state (seq 0); each valid write appends the
    next version — nothing is updated in place, the
    store_time_travel discipline applied to the graph store. A
    VERSION-AS-OF read of any single version is a partition-pruned
    scan of one (graph_id, version) directory; writers only ever add
    new version partitions, so readers never block (the reference
    needed a readers-writers lock for exactly this; the snapshot
    store dissolves the problem)."""
    d = _snapshot_dir(spark, sf_dir)
    return spark.read.parquet(d).select(
        "graph_id",
        F.col("version").cast("int").alias("version"),
        "seq",
        "src",
        "dst",
    )


def ops_graph_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge/node-granular graph modify (VERDICT r8 missing #2): apply
    fixtures.GRAPH_DELTAS — the spec's FULL op-2 semantics (Assignment
    2.pdf p.3: node and edge add+delete), which the reference shortcuts
    to a whole-file rewrite (primary_server.c:111-112) — to the fixture
    graph store via MERGE algebra, → one row per surviving element:
    (graph_id, kind, a, b); vertex rows carry (vid, NULL), edge rows
    canonical (src, dst). Untouched graphs pass through unchanged.

    Merge contract (order-independent closed form of sequential
    replay; tests/test_ops.py proves the equivalence against a Python
    replay of the log): vertex presence = last-writer-wins; edge
    presence = last-writer-wins WITH a presence seq p (0 for an
    untouched fixture edge, else the last delta's seq), and a vertex
    delete at seq s CASCADES every incident edge whose p < s — even if
    the vertex is later re-added — while an edge explicitly re-added
    after the cascade (p > s) survives. Comparing p against every
    delete seq (not the vertex's final state) is what makes
    delete-then-re-add correct (r9 review finding; fixture seqs 16–20
    pin both branches). Edge adds must reference vertices that exist
    AT THEIR SEQ — a log precondition (like WRITE_PAYLOADS' non-empty
    rule) asserted in tests, not re-checked per row here, so the
    cascade only ever consults the delta-sized vertex-delete set.

    Scale shape: the store is the big side, the delta log the small
    one — last-writer-wins is one map-side-combined groupBy over the
    deltas (max(struct(seq, action))), and EVERY application join
    broadcasts a compacted-delta frame against the store (the
    store_merge_upsert machinery, sources/formats.py:323): adds union
    in, deletes and the cascade are broadcast anti-joins. The full
    vertex set is never shuffled or broadcast. Nothing all-pairs,
    nothing collected; at 100 TB this is Delta/Iceberg MERGE INTO with
    a broadcast source."""
    deltas = fixtures.graph_deltas_df(spark)
    last = deltas.groupBy("graph_id", "kind", "a", "b").agg(
        F.max(F.struct("seq", "action")).getField("action").alias("act"),
        F.max("seq").alias("last_seq"),
    )
    v_add = last.filter(
        (F.col("kind") == "vertex") & (F.col("act") == "add")
    ).select("graph_id", F.col("a").alias("vid"))
    v_del = last.filter(
        (F.col("kind") == "vertex") & (F.col("act") == "del")
    ).select("graph_id", F.col("a").alias("vid"))
    verts = (
        fixtures.fixture_vertices_df(spark)
        .unionByName(v_add)
        .distinct()
        .join(F.broadcast(v_del), ["graph_id", "vid"], "left_anti")
    )
    # Edge presence carries a PRESENCE SEQ p (when the surviving state
    # last became present: 0 for an untouched fixture edge, else the
    # last delta's seq), and the cascade compares p against EVERY
    # vertex delete's seq — not the vertex's last-writer state — so a
    # delete-then-re-added vertex still kills the edges that existed
    # before its delete, while an edge explicitly re-added AFTER the
    # cascade survives (sequential-replay semantics; the equivalence
    # test in tests/test_ops.py is the authority).
    e_last = last.filter(F.col("kind") == "edge").select(
        "graph_id",
        F.col("a").alias("src"),
        F.col("b").alias("dst"),
        "act",
        "last_seq",
    )
    fix_e = fixtures.fixture_edges_df(spark)
    cand_fix = fix_e.join(
        F.broadcast(e_last), ["graph_id", "src", "dst"], "left"
    ).select(
        "graph_id", "src", "dst",
        F.coalesce("last_seq", F.lit(0)).alias("p"),
        F.coalesce("act", F.lit("add")).alias("act"),
    )
    cand_new = (
        e_last.filter(F.col("act") == "add")
        .join(fix_e, ["graph_id", "src", "dst"], "left_anti")
        .select("graph_id", "src", "dst", F.col("last_seq").alias("p"), "act")
    )
    vdel_max = deltas.filter(
        (F.col("kind") == "vertex") & (F.col("action") == "del")
    ).groupBy("graph_id", F.col("a").alias("vid")).agg(
        F.max("seq").alias("dmax")
    )
    edges = (
        cand_fix.unionByName(cand_new)
        .filter(F.col("act") == "add")
        .join(
            F.broadcast(
                vdel_max.select(
                    "graph_id", F.col("vid").alias("src"),
                    F.col("dmax").alias("dmax_s"),
                )
            ),
            ["graph_id", "src"],
            "left",
        )
        .join(
            F.broadcast(
                vdel_max.select(
                    "graph_id", F.col("vid").alias("dst"),
                    F.col("dmax").alias("dmax_d"),
                )
            ),
            ["graph_id", "dst"],
            "left",
        )
        .filter(
            (F.col("p") > F.coalesce("dmax_s", F.lit(-1)))
            & (F.col("p") > F.coalesce("dmax_d", F.lit(-1)))
        )
    )
    return verts.select(
        "graph_id",
        F.lit("vertex").alias("kind"),
        F.col("vid").alias("a"),
        F.lit(None).cast("bigint").alias("b"),
    ).unionByName(
        edges.select(
            "graph_id",
            F.lit("edge").alias("kind"),
            F.col("src").alias("a"),
            F.col("dst").alias("b"),
        )
    )


# Every read request traverses from vertex 1 (the reference's client
# supplies the start vertex with the request; the fixture log pins it
# so results are constants). Interpolated into the oracle too.
READ_START_VERTEX = 1

def _format_read(op: int, lv: DataFrame, sym: DataFrame) -> DataFrame:
    """The reference's single-string read formatting (R9) over a
    traversal's levels frame: op 4 → BFS level order, op 3 → DFS
    terminal vertices, both under the BFS_ORDER_MAX_VERTICES cap that
    the oracle mirrors (ADVICE r9 #3)."""
    from .graph import traversal

    if op == 4:
        return traversal.bfs_order_from_levels(lv).select(
            F.col("bfs_order").alias("result")
        )
    leaves = traversal.dfs_leaves_from_levels(lv, sym)
    capped = leaves.orderBy("vid").limit(traversal.BFS_ORDER_MAX_VERTICES)
    return capped.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("vid")),
                lambda v: v.cast("string"),
            ),
            " ",
        ).alias("result")
    )


# Wall-clock observability for ops_concurrent_full's concurrency
# claims: per-server (start, end) request intervals, written by the
# serving threads, plus the apply-completion instant of every write so
# the test can prove a dependent read finished AFTER the write it
# waited for (tests/test_ops.py).
_FULL_INTERVALS: dict[str, list[tuple[float, float]]] = {}
_FULL_APPLIED_AT: dict[int, float] = {}


def ops_concurrent_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE readers-writers architecture of the reference
    (primary_server.c:62-107,270-281 + secondary_server.c:335-346;
    SURVEY §4.2 "inter-query parallelism"): a PRIMARY thread applies
    the ops log's valid writes in seq order as immutable versioned
    partition APPENDS to a parquet snapshot store, WHILE the two
    secondary threads serve the reads the parity router (R8) sends
    them — each read blocks until the store holds every write below
    its seq (the seq-ordered visibility the reference's writer lock
    enforced), then runs the real R4/R5 kernel over the
    partition-pruned AS-OF store state and formats the reference's
    single-string output (R9). → (seq, op, graph_id, server, result):
    write acks as 'v{version} edges={n}', one row per valid read,
    merged in seq order — scheduling policy affects WHEN jobs run,
    never the answer, so the key hash-checks like any other.

    This is the lock dissolved into structure: writers only ever ADD
    (graph_id, seq) partitions, so readers never see a torn state —
    the only coordination left is the visibility watermark ("applied
    through seq s", a Condition the primary bumps after each commit),
    which is exactly snapshot isolation as a streaming watermark. At
    100 TB the store is a versioned table (Delta/Iceberg commit log),
    the watermark is the table's latest-committed version, and the
    three pools are arbitrary writer/reader concurrency — nothing in
    the shape is fixture-bound.

    Threading: each server is a pyspark.InheritableThread in its own
    FAIR scheduler pool ("primary", "secondary_1", "secondary_2" —
    the spark.scheduler.pool local property; session.py sets
    spark.scheduler.mode=FAIR) and job group, and each request's
    result is materialized in its serving thread, so its jobs are
    attributed to that server. The threads rendezvous on a barrier
    before their first request (ADVICE r9 #4): request batches
    "arrive together", so the measured intervals test concurrency
    rather than thread-start luck. On a FIFO session the pool
    property is a no-op and results are identical.

    The served result set is memoized per (session, sf_dir) via
    cache.shared and the serve is a bench setup line item
    (`concurrent_full_serve`): a serving layer executes each arriving
    request ONCE. The concurrency claims are tested on the uncached
    serve via _FULL_INTERVALS/_FULL_APPLIED_AT + statusTracker job
    groups."""
    return shared(
        spark, sf_dir, "ops_concurrent_full",
        lambda: _concurrent_full_serve(spark, sf_dir),
    )


def _concurrent_full_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The threaded primary + two-secondary serve (see
    ops_concurrent_full)."""
    import threading
    import time

    from pyspark import InheritableThread

    valid = fixtures.valid_ops()
    writes = [(s, op, g) for s, op, g in valid if op <= 2]
    reads = [(s, op, g) for s, op, g in valid if op >= 3]
    read_batches: dict[str, list[tuple[int, int, str]]] = {
        "secondary_1": [r for r in reads if r[0] % 2 == 1],
        "secondary_2": [r for r in reads if r[0] % 2 == 0],
    }
    # Two distinct seq maps (r10 review finding — these were conflated):
    # wait_for = last valid write below the read's seq GLOBALLY — the
    #   reference's single writer lock serializes ALL writes, so "the
    #   store holds every write below my seq" is a global watermark
    #   condition, which is what each read blocks on;
    # as_of = last valid write below the read's seq FOR ITS GRAPH —
    #   the partition the read actually scans (the oracle's as_of CTE
    #   rule).
    wait_for = {
        rs: max((ws for ws, _, _ in writes if ws < rs), default=0)
        for rs, _, _ in reads
    }
    as_of = {
        rs: max((ws for ws, _, wg in writes if wg == g and ws < rs), default=0)
        for rs, _, g in reads
    }

    store = stage_dir(spark, sf_dir, "ops_concfull")

    def _edges_frame(gid: str, seq: int, edges) -> DataFrame:
        return local_frame(
            spark,
            [(gid, seq, s, d) for s, d in edges],
            "graph_id string, seq bigint, src bigint, dst bigint",
        )

    # Ingest: seed the store with every fixture graph's seq-0 state
    # (the reference's graphs pre-exist on disk before the servers
    # start). Empty graphs (G4/G6) legitimately have no partition —
    # no read ever targets an edgeless state in the fixture log.
    seed = None
    for gid, (_n, edges) in fixtures.FIXTURE_GRAPHS.items():
        if not edges:
            continue
        f = _edges_frame(gid, 0, edges)
        seed = f if seed is None else seed.unionByName(f)
    seed.write.mode("overwrite").partitionBy("graph_id", "seq").parquet(store)

    applied = {"seq": 0}
    visibility = threading.Condition()
    results: dict[int, DataFrame] = {}
    errors: list[BaseException] = []
    start_gate = threading.Barrier(1 + len(read_batches))

    def primary() -> None:
        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", "primary")
        sc.setJobGroup("full-primary", "ops_concurrent_full writes")
        ivals: list[tuple[float, float]] = []
        version_of: dict[str, int] = {
            g: 1 for g in fixtures.existing_graph_ids()
        }
        try:
            start_gate.wait(timeout=30)
            for wseq, op, gid in writes:
                t0 = time.monotonic()
                _n, edges = fixtures.WRITE_PAYLOADS[wseq]
                _edges_frame(gid, wseq, edges).write.mode("append").partitionBy(
                    "graph_id", "seq"
                ).parquet(store)
                version = version_of.get(gid, 0) + 1
                version_of[gid] = version
                row = local_frame(
                    spark,
                    [(wseq, op, gid, "primary", f"v{version} edges={len(edges)}")],
                    "seq bigint, op int, graph_id string, "
                    "server string, result string",
                )
                results[wseq] = row.localCheckpoint(eager=True)
                _FULL_APPLIED_AT[wseq] = time.monotonic()
                ivals.append((t0, _FULL_APPLIED_AT[wseq]))
                with visibility:
                    applied["seq"] = wseq
                    visibility.notify_all()
        except BaseException as exc:
            errors.append(exc)
            with visibility:  # release blocked readers so join() returns
                applied["seq"] = float("inf")
                visibility.notify_all()
        finally:
            _FULL_INTERVALS["primary"] = ivals

    def serve_reads(server: str, reqs: list[tuple[int, int, str]]) -> None:
        from .graph import traversal
        from .graph.derive import symmetrize

        sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", server)
        sc.setJobGroup(f"full-{server}", "ops_concurrent_full reads")
        ivals: list[tuple[float, float]] = []
        try:
            start_gate.wait(timeout=30)
            for rseq, op, gid in reqs:
                t0 = time.monotonic()
                with visibility:
                    while applied["seq"] < wait_for[rseq]:
                        if not visibility.wait(timeout=120):
                            raise RuntimeError(
                                f"read {rseq}: write {wait_for[rseq]} "
                                "never became visible"
                            )
                # partition-pruned AS-OF scan of the store the primary
                # is concurrently appending to — committed partitions
                # only, selected by the watermark-covered seq.
                # LOAD-BEARING ASSUMPTION (ADVICE r10): listing while
                # the primary appends is safe here because the local
                # FS commits via atomic rename and _temporary/_-
                # prefixed paths are filtered; on an eventually-
                # consistent object store this read path needs a
                # manifest-based table format (Delta/Iceberg) instead
                # of directory listing.
                e = (
                    spark.read.parquet(store)
                    .filter(
                        (F.col("graph_id") == gid)
                        & (F.col("seq") == as_of[rseq])
                    )
                    .select("src", "dst")
                )
                # No dedup: the stored rows are canonical (src <= dst)
                # fixture and payload edges, each once per snapshot,
                # and BFS levels and DFS leaves ignore duplicates.
                sym = symmetrize(e)
                lv = traversal.bfs_levels(
                    spark, sym, READ_START_VERTEX, cache_edges=False
                )
                row = _format_read(op, lv, sym).select(
                    F.lit(rseq).cast("bigint").alias("seq"),
                    F.lit(op).cast("int").alias("op"),
                    F.lit(gid).alias("graph_id"),
                    F.lit(server).alias("server"),
                    "result",
                )
                results[rseq] = row.localCheckpoint(eager=True)
                ivals.append((t0, time.monotonic()))
        except BaseException as exc:
            errors.append(exc)
        finally:
            _FULL_INTERVALS[server] = ivals

    threads = [InheritableThread(target=primary)] + [
        InheritableThread(target=serve_reads, args=(srv, reqs))
        for srv, reqs in read_batches.items()
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    out = None
    for seq in sorted(results):
        out = results[seq] if out is None else out.unionByName(results[seq])
    return out


def ops_concurrent_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-query parallelism, read half: the valid reads of
    ops_concurrent_full's serve → (seq, op, graph_id, server, result),
    one row per valid read, each served by its parity-routed secondary
    (R8) against the graph state AS-OF its seq. A view over the one
    memoized serve, so a session serves once; its DuckDB oracle
    derives the reads without the write path."""
    return ops_concurrent_full(spark, sf_dir).filter(F.col("op") >= 3)


QUERIES = {
    "route_requests": route_requests,
    "validate_requests": validate_requests,
    "ops_log_replay": ops_log_replay,
    "ops_request_stats": ops_request_stats,
    "ops_graph_snapshot": graph_ops_snapshot,
    "ops_graph_merge": ops_graph_merge,
    "ops_concurrent_replay": ops_concurrent_replay,
    "ops_concurrent_full": ops_concurrent_full,
}


def _oracle_cte() -> str:
    """Shared DuckDB CTE rebuilding the same annotated log from the
    single-source-of-truth fixture literals."""
    return f"""
log(seq, op, graph_id) AS (VALUES {fixtures.ops_log_values_sql()}),
pre(graph_id) AS (VALUES {fixtures.existing_graphs_values_sql()}),
created AS (
    SELECT graph_id, MIN(seq) AS created_seq FROM log
    WHERE op = 1 AND graph_id NOT IN (SELECT graph_id FROM pre)
    GROUP BY graph_id
),
ann AS (
    SELECT l.seq, l.op, l.graph_id,
           (l.graph_id IN (SELECT graph_id FROM pre)
            OR COALESCE(c.created_seq < l.seq, FALSE)) AS exists_before,
           CASE
             WHEN l.op NOT BETWEEN 1 AND 4 THEN '{_REJECT_BAD_OP}'
             WHEN l.op = 1 AND (l.graph_id IN (SELECT graph_id FROM pre)
                                OR COALESCE(c.created_seq < l.seq, FALSE))
               THEN '{_REJECT_EXISTS}'
             WHEN l.op > 1 AND NOT (l.graph_id IN (SELECT graph_id FROM pre)
                                    OR COALESCE(c.created_seq < l.seq, FALSE))
               THEN '{_REJECT_MISSING}'
           END AS reason
    FROM log l LEFT JOIN created c USING (graph_id)
)
"""


ORACLE_SQL = {
    "validate_requests": f"""
WITH {_oracle_cte()}
SELECT seq, op, graph_id,
       CASE WHEN reason IS NULL THEN 'valid' ELSE 'rejected' END AS status,
       COALESCE(reason, 'ok') AS reason
FROM ann
""",
    "route_requests": f"""
WITH {_oracle_cte()}
SELECT seq, op, graph_id,
       CASE WHEN reason IS NOT NULL THEN 'rejected'
            WHEN op <= 2 THEN 'primary'
            WHEN seq % 2 = 1 THEN 'secondary_1'
            ELSE 'secondary_2' END AS server
FROM ann
""",
    "ops_log_replay": f"""
WITH {_oracle_cte()},
writes AS (SELECT * FROM ann WHERE reason IS NULL AND op <= 2)
SELECT graph_id,
       CAST(MAX(seq) AS BIGINT) AS last_seq,
       CAST(ARG_MAX(op, seq) AS INT) AS last_op,
       COUNT(*) AS n_writes
FROM writes GROUP BY graph_id
""",
    "ops_graph_snapshot": f"""
WITH {_oracle_cte()},
pay(seq, src, dst) AS (VALUES {fixtures.write_payloads_values_sql()}),
fe(graph_id, src, dst) AS (VALUES {fixtures.fixture_edges_values_sql()}),
writes AS (
    SELECT graph_id, seq FROM ann WHERE reason IS NULL AND op <= 2
),
snap_edges AS (
    SELECT w.graph_id, w.seq, p.src, p.dst
    FROM writes w JOIN pay p USING (seq)
    UNION ALL
    SELECT fe.graph_id, 0 AS seq, fe.src, fe.dst
    FROM fe
    WHERE fe.graph_id IN (SELECT graph_id FROM pre)
      AND fe.graph_id IN (SELECT graph_id FROM writes)
)
SELECT graph_id,
       CAST(DENSE_RANK() OVER (PARTITION BY graph_id ORDER BY seq) AS INT)
         AS version,
       CAST(seq AS BIGINT) AS seq,
       CAST(src AS BIGINT) AS src,
       CAST(dst AS BIGINT) AS dst
FROM snap_edges
""",
    "ops_graph_merge": f"""
WITH d(seq, graph_id, kind, action, a, b) AS (
    VALUES {fixtures.graph_deltas_values_sql()}),
fv(graph_id, vid) AS (VALUES {fixtures.fixture_vertices_values_sql()}),
fe(graph_id, src, dst) AS (VALUES {fixtures.fixture_edges_values_sql()}),
last AS (
    SELECT graph_id, kind, a, b, ARG_MAX(action, seq) AS act,
           MAX(seq) AS last_seq
    FROM d GROUP BY graph_id, kind, a, b
),
v_del AS (SELECT graph_id, a AS vid FROM last
          WHERE kind = 'vertex' AND act = 'del'),
vdel_max AS (
    SELECT graph_id, a AS vid, MAX(seq) AS dmax
    FROM d WHERE kind = 'vertex' AND action = 'del'
    GROUP BY graph_id, a
),
verts AS (
    SELECT graph_id, vid FROM (
        SELECT graph_id, vid FROM fv
        UNION
        SELECT graph_id, a AS vid FROM last
        WHERE kind = 'vertex' AND act = 'add'
    ) u
    WHERE NOT EXISTS (SELECT 1 FROM v_del x
                      WHERE x.graph_id = u.graph_id AND x.vid = u.vid)
),
cand AS (
    SELECT f.graph_id, f.src, f.dst,
           COALESCE(l.last_seq, 0) AS p, COALESCE(l.act, 'add') AS act
    FROM fe f
    LEFT JOIN last l ON l.kind = 'edge' AND l.graph_id = f.graph_id
                    AND l.a = f.src AND l.b = f.dst
    UNION
    SELECT l.graph_id, l.a AS src, l.b AS dst, l.last_seq AS p, l.act
    FROM last l
    WHERE l.kind = 'edge' AND l.act = 'add'
      AND NOT EXISTS (SELECT 1 FROM fe f2
                      WHERE f2.graph_id = l.graph_id
                        AND f2.src = l.a AND f2.dst = l.b)
),
edges AS (
    SELECT c.graph_id, c.src, c.dst
    FROM cand c
    LEFT JOIN vdel_max ms ON ms.graph_id = c.graph_id AND ms.vid = c.src
    LEFT JOIN vdel_max md ON md.graph_id = c.graph_id AND md.vid = c.dst
    WHERE c.act = 'add'
      AND c.p > COALESCE(ms.dmax, -1)
      AND c.p > COALESCE(md.dmax, -1)
)
SELECT graph_id, 'vertex' AS kind, CAST(vid AS BIGINT) AS a,
       CAST(NULL AS BIGINT) AS b
FROM verts
UNION ALL
SELECT graph_id, 'edge' AS kind, CAST(src AS BIGINT) AS a,
       CAST(dst AS BIGINT) AS b
FROM edges
""",
    "ops_request_stats": f"""
WITH {_oracle_cte()},
routed AS (
    SELECT op,
           CASE WHEN reason IS NOT NULL THEN 'rejected'
                WHEN op <= 2 THEN 'primary'
                WHEN seq % 2 = 1 THEN 'secondary_1'
                ELSE 'secondary_2' END AS server
    FROM ann
),
counts AS (
    SELECT server, COUNT(*) AS n_requests,
           CAST(SUM(CASE WHEN op >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_reads,
           CAST(SUM(CASE WHEN op <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_writes
    FROM routed GROUP BY server
)
SELECT server, n_requests, n_reads, n_writes,
       ROUND(n_requests / CAST((SELECT SUM(n_requests) FROM counts) AS DOUBLE),
             6) AS pct_of_total
FROM counts
""",
}


def _oracle_concurrent_replay(include_writes: bool = False) -> str:
    """ops_concurrent_replay's DuckDB twin: valid reads + parity
    routing from the shared annotated-log CTE; per-read AS-OF edge
    state (last valid write below the read seq, else fixture state);
    then the BFS/DFS recursive-CTE machinery (oracles.py shape)
    GROUPED BY read seq, with the same start-vertex and round-bound
    constants the Spark kernels use. Scheduling is invisible to the
    oracle by construction — only answers are compared.

    With ``include_writes`` the statement is ops_concurrent_full's
    twin (one definition for the shared read machinery): the primary's
    write acknowledgments union in as 'v{{version}} edges={{n}}' rows,
    version = fixture-seed offset (1 for pre-existing graphs, matching
    _snapshot_edges's dense_rank over seq-0 + writes) + the write's
    per-graph rank."""
    from .graph.traversal import BFS_ORDER_MAX_VERTICES, MAX_LEVELS_DEFAULT

    write_leg = """
UNION ALL
SELECT w.seq, w.op, w.graph_id, 'primary' AS server,
       'v' || CAST(CASE WHEN w.graph_id IN (SELECT graph_id FROM pre)
                        THEN w.rk + 1 ELSE w.rk END AS VARCHAR)
           || ' edges=' || CAST(w.n_edges AS VARCHAR) AS result
FROM (
    SELECT a.seq, a.op, a.graph_id,
           ROW_NUMBER() OVER (PARTITION BY a.graph_id ORDER BY a.seq) AS rk,
           (SELECT COUNT(*) FROM pay p WHERE p.seq = a.seq) AS n_edges
    FROM ann a WHERE a.reason IS NULL AND a.op <= 2
) w
""" if include_writes else ""

    return f"""
WITH RECURSIVE {_oracle_cte()},
pay(seq, src, dst) AS (VALUES {fixtures.write_payloads_values_sql()}),
fe(graph_id, src, dst) AS (VALUES {fixtures.fixture_edges_values_sql()}),
reads AS (
    SELECT seq, op, graph_id,
           CASE WHEN seq % 2 = 1 THEN 'secondary_1'
                ELSE 'secondary_2' END AS server
    FROM ann WHERE reason IS NULL AND op >= 3
),
writes AS (SELECT graph_id, seq FROM ann WHERE reason IS NULL AND op <= 2),
as_of AS (
    SELECT r.seq AS rseq, MAX(w.seq) AS wseq
    FROM reads r
    LEFT JOIN writes w ON w.graph_id = r.graph_id AND w.seq < r.seq
    GROUP BY r.seq
),
est AS (
    SELECT a.rseq, p.src, p.dst FROM as_of a JOIN pay p ON p.seq = a.wseq
    UNION ALL
    SELECT a.rseq, f.src, f.dst
    FROM as_of a
    JOIN reads r ON r.seq = a.rseq
    JOIN fe f ON f.graph_id = r.graph_id
    WHERE a.wseq IS NULL
),
sym AS (
    SELECT rseq, src, dst FROM est
    UNION
    SELECT rseq, dst AS src, src AS dst FROM est
),
walk(rseq, vid, level) AS (
    SELECT seq, {READ_START_VERTEX}, 0 FROM reads
    UNION
    SELECT w.rseq, s.dst, w.level + 1
    FROM walk w JOIN sym s ON s.rseq = w.rseq AND s.src = w.vid
    WHERE w.level < {MAX_LEVELS_DEFAULT}
),
lvl AS (SELECT rseq, vid, MIN(level) AS level FROM walk GROUP BY rseq, vid),
parents AS (
    SELECT c.rseq, c.vid, MIN(s.src) AS parent
    FROM lvl c
    JOIN sym s ON s.rseq = c.rseq AND s.dst = c.vid
    JOIN lvl p ON p.rseq = c.rseq AND p.vid = s.src AND p.level = c.level - 1
    GROUP BY c.rseq, c.vid
),
bfs AS (
    -- mirror the Spark formatter's BFS_ORDER_MAX_VERTICES cap
    -- (ADVICE r9 #3: the caps must live in BOTH engines or a graph
    -- past the bound would diverge)
    SELECT rseq, string_agg(CAST(vid AS VARCHAR), ' ' ORDER BY level, vid)
             AS res
    FROM (SELECT rseq, vid, level FROM lvl
          QUALIFY ROW_NUMBER() OVER (PARTITION BY rseq
                                     ORDER BY level, vid)
                  <= {BFS_ORDER_MAX_VERTICES})
    GROUP BY rseq
),
dfs AS (
    SELECT rseq, string_agg(CAST(vid AS VARCHAR), ' ' ORDER BY vid)
             AS res
    FROM (SELECT l.rseq, l.vid
          FROM lvl l
          WHERE NOT EXISTS (SELECT 1 FROM parents t
                            WHERE t.rseq = l.rseq AND t.parent = l.vid)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY l.rseq ORDER BY l.vid)
                  <= {BFS_ORDER_MAX_VERTICES})
    GROUP BY rseq
)
SELECT r.seq, r.op, r.graph_id, r.server,
       CASE WHEN r.op = 4 THEN b.res ELSE d.res END AS result
FROM reads r
LEFT JOIN bfs b ON b.rseq = r.seq
LEFT JOIN dfs d ON d.rseq = r.seq
{write_leg}
"""


ORACLE_SQL["ops_concurrent_replay"] = _oracle_concurrent_replay()
ORACLE_SQL["ops_concurrent_full"] = _oracle_concurrent_replay(
    include_writes=True
)
