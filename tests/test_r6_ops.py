"""Invariance/property tests for the round-6 operators; their exact
values are oracle-checked in test_oracle_parity.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_graph_database_spark.graph import analytics


def test_store_stats_approx_within_5pct_and_no_expand(spark, sf_oracle):
    """store_stats_approx: every approximate NDV within 5% of the
    exact twin, identical non-NDV columns — and structurally cheaper:
    the exact plan carries Catalyst's Expand (input fan-out per
    profiled column), the sketch plan must not."""
    from distributed_graph_database_spark import cache
    from distributed_graph_database_spark.sources import formats

    exact = {
        r.col_name: r for r in formats.store_stats_collect(spark, sf_oracle).collect()
    }
    approx = {
        r.col_name: r
        for r in formats.store_stats_approx(
            spark, sf_oracle, audit=False
        ).collect()
    }
    assert set(exact) == set(approx)
    for c in exact:
        e, a = exact[c], approx[c]
        assert a.n_rows == e.n_rows and a.n_nulls == e.n_nulls
        assert (a.min_s, a.max_s) == (e.min_s, e.max_s)
        assert abs(a.n_distinct - e.n_distinct) <= max(1, 0.05 * e.n_distinct)

    # The exact plan is read under the live view: the declared key
    # serves the shared orders_exact_profile checkpoint (r9), whose
    # plan is a scan, so asserting on it would be vacuous.
    with cache.live_plans():
        exact_df = formats.store_stats_collect(spark, sf_oracle)
    exact_plan = exact_df._jdf.queryExecution().executedPlan().toString()
    approx_plan = (
        formats.store_stats_approx(spark, sf_oracle, audit=False)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan
    assert "Expand" not in approx_plan

    # The declared (audit) form hash-signs the bound the production
    # form is trusted for: ndv_ok TRUE on every profiled column, exact
    # NDV in n_distinct.
    audit_rows = {
        r.col_name: r for r in formats.store_stats_approx(spark, sf_oracle).collect()
    }
    assert set(audit_rows) == set(exact)
    for c in exact:
        assert audit_rows[c].ndv_ok is True
        assert audit_rows[c].n_distinct == exact[c].n_distinct


def test_clustering_coef_bounds_and_triangle_consistency(spark, sf_oracle):
    """Cross-operator invariants: every coefficient in [0, 1],
    degree-1 vertices get 0, and the per-vertex triangle counts sum
    to exactly 3× graph_triangles' global count (each triangle has
    three member vertices)."""
    rows = analytics.graph_clustering_coef(spark, sf_oracle).collect()
    total = analytics.graph_triangles(spark, sf_oracle).first().n_triangles
    assert sum(r.n_tri for r in rows) == 3 * total
    for r in rows:
        assert 0.0 <= r.clustering <= 1.0
        if r.degree < 2:
            assert r.clustering == 0.0 and r.n_tri == 0
        # a vertex's triangles are bounded by its wedge count
        assert r.n_tri <= r.degree * (r.degree - 1) // 2


def test_centroid_classifier_confusion_is_complete(spark, sf_oracle):
    """The confusion matrix covers the full corpus exactly once, all
    true labels appear, and accuracy sits above chance floor only if
    the data has signal — random testdata embeddings give ~1/L, so we
    only pin structural facts, not accuracy."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline import similarity

    rows = similarity.ml_centroid_classify(spark, sf_oracle).collect()
    emb = table(spark, sf_oracle, "embeddings")
    n_total = emb.count()
    labels = {r.label for r in emb.select("label").distinct().collect()}
    assert sum(r.n for r in rows) == n_total
    assert {r.true_label for r in rows} == labels
    assert {r.pred_label for r in rows} <= labels


def test_collocations_counts_and_bounds(spark, sf_oracle):
    """Every reported collocation meets the MIN_PAIR support gate, the
    report is capped at TOP_K, and PMI is finite (the support gate
    makes zero-denominator impossible: a surviving bigram implies both
    unigrams occur)."""
    from distributed_graph_database_spark.pipeline import text as pl_text

    rows = pl_text.text_collocations(spark, sf_oracle).collect()
    assert 0 < len(rows) <= pl_text.COLLOC_TOP_K
    assert all(r.cxy >= pl_text.COLLOC_MIN_PAIR for r in rows)
    assert all(r.pmi == r.pmi and abs(r.pmi) < 50 for r in rows)
    # descending-PMI report with the (w1, w2) tie-break
    key = [(-r.pmi, r.w1, r.w2) for r in rows]
    assert key == sorted(key)


def test_pattern_match_bounded_by_purchases(spark, sf_oracle):
    """Per user: seq_len equals the user's event count, and each
    non-overlapping v[ce]*p match consumes one purchase AND one view,
    so n_matches <= min(#purchases, #views)."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline import events as pl_events

    got = {
        r.user_id: r
        for r in pl_events.events_pattern_match(spark, sf_oracle).collect()
    }
    truth = {
        r.user_id: r
        for r in table(spark, sf_oracle, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("np"),
            F.sum((F.col("event_type") == "view").cast("int")).alias("nv"),
        )
        .collect()
    }
    assert set(got) == set(truth)
    for uid, r in got.items():
        t = truth[uid]
        assert r.seq_len == t.n
        assert 0 <= r.n_matches <= min(t.np, t.nv)


def test_cdc_apply_counts_reconcile(spark, sf_oracle):
    """The compacted snapshot's totals must reconcile with the raw
    key arithmetic: every key not deleted survives exactly once, keys
    hit by %5 win over %3 (later seq), and deletes beat everything."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.sources import formats

    rows = formats.store_cdc_apply(spark, sf_oracle).collect()
    o = table(spark, sf_oracle, "orders").select("o_orderkey").collect()
    keys = [r.o_orderkey for r in o]
    alive = [k for k in keys if k % formats.CDC_DEL_MOD != 0]
    exp_v3 = sum(1 for k in alive if k % formats.CDC_UPD3_MOD == 0)
    exp_v2 = sum(
        1 for k in alive
        if k % formats.CDC_UPD2_MOD == 0 and k % formats.CDC_UPD3_MOD != 0
    )
    assert sum(r.n_rows for r in rows) == len(alive)
    assert sum(r.n_from_v3 for r in rows) == exp_v3
    assert sum(r.n_from_v2 for r in rows) == exp_v2


def test_confusion_metrics_consistent_with_matrix(spark, sf_oracle):
    """Marginals of the metrics table must equal the confusion
    matrix's totals, and every metric lies in [0, 1] with
    f1 = 2tp/(support+predicted)."""
    from distributed_graph_database_spark.pipeline import similarity as pl_sim

    conf = pl_sim.ml_centroid_classify(spark, sf_oracle).collect()
    met = pl_sim.ml_confusion_metrics(spark, sf_oracle).collect()
    n_total = sum(r.n for r in conf)
    assert sum(r.support for r in met) == n_total
    assert sum(r.predicted for r in met) == n_total
    diag = {r.true_label: r.n for r in conf if r.true_label == r.pred_label}
    for r in met:
        assert r.tp == diag.get(r.label, 0)
        for v in (r.prec, r.rec, r.f1):
            assert v is None or 0.0 <= v <= 1.0
        if r.support + r.predicted > 0:
            assert abs(r.f1 - 2 * r.tp / (r.support + r.predicted)) < 1e-6


def test_unpivot_roundtrip_law(spark, sf_oracle):
    """unpivot(pivot(orders)) must equal the plain long-form groupBy
    (keeping explicit zero cells for absent combinations)."""
    from distributed_graph_database_spark import relational
    from distributed_graph_database_spark.catalog import table

    got = {
        (r.o_orderpriority, r.o_orderstatus): r.n
        for r in relational.ql_unpivot(spark, sf_oracle).collect()
    }
    base = {
        (r.o_orderpriority, r.o_orderstatus): r.n
        for r in table(spark, sf_oracle, "orders")
        .groupBy("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # every real combination matches; pivoted-in zeros are only zeros
    for k, v in base.items():
        assert got[k] == v
    for k, v in got.items():
        assert v == base.get(k, 0)


def test_pattern_regex_count_cross_engine_adversarial(spark):
    """The funnel pattern's match COUNT must agree across Java regex
    (Spark), RE2 (DuckDB) and Python re on adversarial sequences —
    overlaps, backtracking traps, runs of class chars, empty-ish
    inputs. Pins the leftmost non-overlapping counting semantics
    events_pattern_match's exact oracle relies on."""
    import re as _re

    import duckdb

    from distributed_graph_database_spark.pipeline.events import (
        PATTERN_FUNNEL_RE,
    )

    seqs = [
        "", "p", "v", "vp", "vcp", "vcvcp", "vpvp", "vcpp", "vvp",
        "vcecep", "vcecp" * 3, "vp" * 10, "v" * 5 + "c" * 5 + "p",
        "pvpcv", "vcv" * 4 + "p", "sveccp", "vecpvecp", "vc" * 8,
        "vpv", "cpv", "vcpvcp", "v" + "ce" * 6 + "p" + "vp",
    ]
    py = [len(_re.findall(PATTERN_FUNNEL_RE, s)) for s in seqs]
    sdf = spark.createDataFrame([(s,) for s in seqs], "seq string")
    from pyspark.sql import functions as F2

    got_spark = [
        r.n for r in sdf.select(
            F2.regexp_count("seq", F2.lit(PATTERN_FUNNEL_RE)).alias("n")
        ).collect()
    ]
    con = duckdb.connect()
    got_duck = [
        con.execute(
            "SELECT LEN(REGEXP_EXTRACT_ALL(?, ?))", [s, PATTERN_FUNNEL_RE]
        ).fetchone()[0]
        for s in seqs
    ]
    assert got_spark == py, (seqs, got_spark, py)
    assert got_duck == py, (seqs, got_duck, py)


def test_diameter_double_sweep_dominates_first_ecc(spark, sf_oracle):
    """ecc(periphery) >= dist(periphery, start) = ecc(start): the
    second sweep's bound must dominate the first sweep's max level,
    and both sweeps must cover the identical component."""
    from distributed_graph_database_spark import registry

    lv = registry._bfs_levels_cached(spark, sf_oracle)
    first_ecc = lv.agg(F.max("level")).collect()[0][0]
    n_comp = lv.count()
    row = registry.q_graph_diameter(spark, sf_oracle).collect()[0]
    assert row.diameter_lb >= first_ecc
    assert row.n_reached == n_comp


def test_ktruss_spark_converges_within_oracle_depth(spark, sf_oracle):
    """ADVICE r6: the unrolled TRUSS_ORACLE_ROUNDS oracle is only
    valid while the Spark peel reaches fixpoint within that depth.
    Pin the coupling from BOTH sides: (a) the Spark loop, capped at
    the oracle depth, converges rather than raising; (b) the oracle
    SQL's own error() convergence guard passes on this data (and is
    live — a depth-1 unroll must trip it)."""
    import duckdb

    df = analytics.graph_ktruss(
        spark, sf_oracle, max_rounds=analytics.TRUSS_ORACLE_ROUNDS
    )
    assert df.count() > 0

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        f"read_parquet('{sf_oracle}/lineitem.parquet')"
    )
    assert len(con.execute(analytics._oracle_ktruss()).fetchall()) > 0
    orig = analytics.TRUSS_ORACLE_ROUNDS
    analytics.TRUSS_ORACLE_ROUNDS = 1
    try:
        try:
            con.execute(analytics._oracle_ktruss()).fetchall()
            fired = False
        except duckdb.Error as exc:
            fired = "unconverged" in str(exc)
    finally:
        analytics.TRUSS_ORACLE_ROUNDS = orig
    assert fired, "depth-1 oracle unroll did not trip the guard"
