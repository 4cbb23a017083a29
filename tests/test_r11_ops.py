"""Law/invariance tests for the r11 capability keys (text_zipf_fit,
ml_gmm_step) — oracle parity is pinned separately by the sweep and
test_oracle_parity's sampler; these check the algebraic laws the
oracle can't express."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_text_zipf_fit_laws(spark, sf_oracle):
    """One-row report; head size = min(TOP_N, vocab); slope is
    negative (frequencies decrease along rank by construction); r2 is
    a valid coefficient of determination; the head is consistent with
    vocabulary totals."""
    from distributed_graph_database_spark.pipeline.text import (
        ZIPF_TOP_N,
        text_zipf_fit,
    )

    rows = text_zipf_fit(spark, sf_oracle).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_top == min(ZIPF_TOP_N, r.vocab_size)
    assert r.vocab_size <= r.total_tokens
    # frequencies are non-increasing in rank, so the OLS slope of
    # ln(freq) on ln(rank) cannot be positive; a flat head would give
    # exactly 0, natural text lands well below
    assert r.slope < 0, r
    assert 0.0 <= r.r2 <= 1.0, r
    # intercept = mean(y) - slope*mean(x) with y = ln(freq) ≤ ln(max
    # count): e^intercept is the fitted rank-1 frequency — it must be
    # positive and can't exceed the total token count
    assert 0 < math.exp(r.intercept) <= r.total_tokens


def test_text_zipf_fit_exact_on_synthetic_law(spark, tmp_path):
    """A corpus whose head frequencies are EXACTLY c_r = 12/r for
    consecutive ranks r = 1..4 (counts 12, 6, 4, 3 — the lcm trick
    keeps them integral) makes ln(freq) = ln12 − ln(rank) EXACTLY
    linear, so the fit must recover slope −1, intercept ln 12, r² 1
    at 6dp. Pins the regression algebra end-to-end through the real
    key (writes a one-doc documents.parquet into tmp_path, the
    catalog's directory-as-catalog contract)."""
    from distributed_graph_database_spark.pipeline.text import text_zipf_fit

    words = ["a"] * 12 + ["b"] * 6 + ["c"] * 4 + ["d"] * 3
    spark.createDataFrame(
        [(1, " ".join(words))], "doc_id bigint, text string"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    r = text_zipf_fit(spark, str(tmp_path)).collect()[0]
    assert r.vocab_size == 4 and r.n_top == 4 and r.total_tokens == 25
    assert r.slope == -1.0, r
    assert r.r2 == 1.0, r
    assert abs(r.intercept - math.log(12)) < 1e-6, r


def test_ml_gmm_step_laws(spark, sf_oracle):
    """EM-step invariants: GMM_K components; responsibilities are a
    partition of unity so Σ n_eff = N and Σ weight_new = 1 (to
    rounding); every n_eff > 0 (softmax responsibilities are strictly
    positive); shifts are finite and non-negative."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.similarity import (
        GMM_K,
        ml_gmm_step,
    )

    rows = ml_gmm_step(spark, sf_oracle).collect()
    assert len(rows) == GMM_K
    n = table(spark, sf_oracle, "embeddings").count()
    assert abs(sum(r.n_eff for r in rows) - n) < 1e-3
    assert abs(sum(r.weight_new for r in rows) - 1.0) < 1e-5
    for r in rows:
        assert r.n_eff > 0, r
        assert 0.0 < r.weight_new < 1.0, r
        assert r.shift >= 0.0 and math.isfinite(r.shift), r


def test_ml_gmm_step_responsibilities_match_kmeans_family_init(
    spark, sf_oracle
):
    """The GMM means come from the same pinned _cells quantizer the
    IVF/kmeans family uses: components are the GMM_K vec_ids right
    after the N_QUERIES pinned queries, so the key is deterministic
    across runs and engines."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.similarity import (
        GMM_K,
        N_QUERIES,
        ml_gmm_step,
    )

    ids = [
        r.vec_id
        for r in table(spark, sf_oracle, "embeddings")
        .select("vec_id")
        .orderBy("vec_id")
        .limit(N_QUERIES + GMM_K)
        .collect()
    ][N_QUERIES:]
    rows = ml_gmm_step(spark, sf_oracle).collect()
    assert sorted(r.component for r in rows) == sorted(ids)


def test_events_count_min_laws(spark, sf_oracle):
    """CMS invariants the oracle can't express as laws: exactly
    CMS_TOPK rows; cms_est >= true_count on every row (Count-Min
    never undercounts — the one-sided error guarantee); the reported
    (user_id, true_count) set IS the exact top-k by (count desc,
    user_id) recomputed independently with a plain groupBy."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.events import (
        CMS_TOPK,
        events_count_min,
    )
    from pyspark.sql import functions as F

    rows = events_count_min(spark, sf_oracle).collect()
    assert len(rows) == CMS_TOPK
    for r in rows:
        assert r.cms_est >= r.true_count, r
    truth = (
        table(spark, sf_oracle, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("user_id"))
        .limit(CMS_TOPK)
        .collect()
    )
    assert {(r.user_id, r.true_count) for r in rows} == {
        (t.user_id, t.n) for t in truth
    }


def test_events_count_min_exact_when_alone(spark, tmp_path):
    """A single-key events table cannot collide with anything, so
    every counter cell the key hashes into holds exactly its count:
    cms_est == true_count — pins the counter-build/estimate-join
    algebra with no dependence on hash luck."""
    from distributed_graph_database_spark.pipeline.events import (
        events_count_min,
    )

    spark.createDataFrame(
        [(i, 7) for i in range(13)], "event_id bigint, user_id bigint"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    rows = events_count_min(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    assert rows[0].user_id == 7
    assert rows[0].true_count == 13
    assert rows[0].cms_est == 13


def test_text_hashing_vectorizer_laws(spark, sf_oracle):
    """Conservation laws of the hashing trick: bucketization neither
    creates nor destroys mass — Σtf over buckets = corpus token count,
    Σn_tokens = global distinct-token count (each token maps to exactly
    one bucket); df is bounded by the doc count; every bucket id lies
    in [0, HV_WIDTH)."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.text import (
        HV_WIDTH,
        _tokens,
        text_hashing_vectorizer,
    )
    from pyspark.sql import functions as F

    rows = text_hashing_vectorizer(spark, sf_oracle).collect()
    toks = (
        table(spark, sf_oracle, "documents")
        .select(F.explode(_tokens()).alias("tok"))
        .filter(F.length("tok") > 0)
    )
    n_total = toks.count()
    n_vocab = toks.distinct().count()
    n_docs = table(spark, sf_oracle, "documents").count()
    assert sum(r.tf for r in rows) == n_total
    assert sum(r.n_tokens for r in rows) == n_vocab
    for r in rows:
        assert 0 <= r.bucket < HV_WIDTH, r
        assert 1 <= r.df <= n_docs, r
        assert r.tf >= r.n_tokens, r  # every distinct token occurs >= once


def test_stream_count_min_equals_batch(spark, sf_oracle):
    """Merge-of-partials identity: CMS cells incremented row-by-row by
    the streaming aggregation equal the batch sketch built from the
    per-key contraction (CMS additivity), so the two declared keys'
    reports are identical row sets under a full availableNow drain."""
    from distributed_graph_database_spark.pipeline.events import (
        events_count_min,
    )
    from distributed_graph_database_spark.streaming.events_stream import (
        stream_count_min,
    )

    s = {tuple(r) for r in stream_count_min(spark, sf_oracle).collect()}
    b = {tuple(r) for r in events_count_min(spark, sf_oracle).collect()}
    assert s == b and len(s) > 0


def test_ml_ridge_fit_shrinks_vs_ols(spark, sf_oracle):
    """Ridge shrinkage monotonicity: with lambda > 0 the penalized
    feature-coefficient norm never exceeds the OLS norm (Tikhonov
    regularization only ever pulls the solution toward 0 in the
    penalized subspace); three rows, finite coefs (ridge Gram is
    positive definite for lambda > 0, so no NULL-guard firing)."""
    from distributed_graph_database_spark.pipeline.similarity import (
        ml_linreg_fit,
        ml_ridge_fit,
    )

    ridge = {r.param: r.coef for r in ml_ridge_fit(spark, sf_oracle).collect()}
    ols = {r.param: r.coef for r in ml_linreg_fit(spark, sf_oracle).collect()}
    assert set(ridge) == {"intercept", "x0", "x1"}
    assert all(v is not None for v in ridge.values())
    r_norm = ridge["x0"] ** 2 + ridge["x1"] ** 2
    o_norm = ols["x0"] ** 2 + ols["x1"] ** 2
    assert r_norm <= o_norm + 1e-12, (r_norm, o_norm)


def test_events_top_change_laws(spark, sf_oracle):
    """Heavy-changer invariants: CHANGE_TOPK rows; delta arithmetic
    consistent (delta = n_second - n_first); conservation — summing
    n_first + n_second over ALL users (recomputed independently)
    equals the event count; the reported |delta|s are the true top-k
    (no smaller |delta| exists among unreported users that beats the
    reported minimum)."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.events import (
        CHANGE_TOPK,
        events_top_change,
    )
    from pyspark.sql import functions as F

    rows = events_top_change(spark, sf_oracle).collect()
    assert len(rows) == CHANGE_TOPK
    for r in rows:
        assert r.delta == r.n_second - r.n_first, r
    n_events = table(spark, sf_oracle, "events").count()
    # recompute all users' half-counts independently of the key
    ev = table(spark, sf_oracle, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"),
        F.unix_micros("ts").alias("us"),
    )
    b = ev.agg(F.expr("(min(us) + max(us)) DIV 2").alias("mid"))
    full = (
        ev.crossJoin(F.broadcast(b))
        .groupBy("user_id")
        .agg(
            F.sum((F.col("us") < F.col("mid")).cast("bigint")).alias("nf"),
            F.sum((F.col("us") >= F.col("mid")).cast("bigint")).alias("ns"),
        )
        .collect()
    )
    assert sum(r.nf + r.ns for r in full) == n_events
    reported_min = min(abs(r.delta) for r in rows)
    reported_users = {r.user_id for r in rows}
    unreported_max = max(
        (abs(r.ns - r.nf) for r in full if r.user_id not in reported_users),
        default=0,
    )
    assert unreported_max <= reported_min


def test_events_windowed_quantiles_laws(spark, sf_oracle):
    """Windowed-percentile invariants: p50 <= p95 per group; each
    percentile lies within the group's [min, max] cents envelope;
    group row counts sum to the corpus event count."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.events import (
        events_windowed_quantiles,
    )
    from pyspark.sql import functions as F

    rows = events_windowed_quantiles(spark, sf_oracle).collect()
    assert sum(r.n_events for r in rows) == table(
        spark, sf_oracle, "events"
    ).count()
    env = {
        (r.hour, r.event_type): (r.lo, r.hi)
        for r in table(spark, sf_oracle, "events")
        .groupBy(
            F.date_trunc("hour", "ts").cast("string").alias("hour"),
            "event_type",
        )
        .agg(
            F.min(F.round(F.col("value") * 100).cast("bigint")).alias("lo"),
            F.max(F.round(F.col("value") * 100).cast("bigint")).alias("hi"),
        )
        .collect()
    }
    for r in rows:
        assert r.p50_cents <= r.p95_cents, r
        lo, hi = env[(r.hour, r.event_type)]
        assert lo <= r.p50_cents <= hi and lo <= r.p95_cents <= hi, r


def test_graph_modularity_laws(spark, sf_oracle):
    """Modularity invariants: Q in [-0.5, 1) (the proven bounds for
    any partition); n_vertices and n_communities consistent with the
    LPA result it audits; the LPA partition beats the
    every-vertex-its-own-community baseline (whose Q = -sum(deg^2)/4m^2
    is near 0 from below) by a clear margin on the co-purchase graph."""
    from distributed_graph_database_spark.graph.analytics import (
        graph_communities,
        graph_modularity,
    )
    from pyspark.sql import functions as F

    r = graph_modularity(spark, sf_oracle).collect()[0]
    assert -0.5 <= r.modularity < 1.0, r
    comm = graph_communities(spark, sf_oracle)
    assert r.n_vertices == comm.count()
    assert r.n_communities == comm.select("community").distinct().count()
    assert r.modularity > 0.1, r  # LPA finds real structure here
