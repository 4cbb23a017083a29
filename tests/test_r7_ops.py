"""Property tests for the r7-added operators (oracle parity is covered
by test_oracle_parity.py / the sweep; these pin semantic invariants
that survive testdata regeneration)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_graph_database_spark.pipeline import similarity, text
from distributed_graph_database_spark.sources import formats


def test_unigram_logprob_bounds_and_token_consistency(spark, sf_oracle):
    """Scores are positive and finite (−ln of a probability < 1), and
    the per-doc token count agrees with text_stats' — the two keys
    must share one tokenizer."""
    lp = text.text_unigram_logprob(spark, sf_oracle)
    rows = lp.collect()
    assert rows and all(r.avg_neg_logprob > 0 for r in rows)
    st = text.text_stats(spark, sf_oracle).select("doc_id", "n_tokens")
    mismatch = (
        lp.select("doc_id", F.col("n_tokens").alias("lp_n"))
        .join(st, "doc_id")
        .filter(F.col("lp_n") != F.col("n_tokens"))
        .count()
    )
    assert mismatch == 0


def test_unigram_logprob_rare_tokens_score_higher(spark):
    """The quality-filter semantics: a doc of corpus-rare tokens must
    score strictly above a doc of corpus-common tokens."""
    docs = spark.createDataFrame(
        [
            (1, "the the the the the the the the"),
            (2, "the the the the the the the the"),
            (3, "the the the the the the the the"),
            (4, "zyzzyva qwertyuiop the the the the the the"),
        ],
        "doc_id bigint, text string",
    )
    import distributed_graph_database_spark.catalog as catalog

    orig = catalog.table
    try:
        catalog.table = lambda spark_, sf_, name: docs
        # re-bind the module-level import inside text.py too
        text.table = catalog.table
        scores = {
            r.doc_id: r.avg_neg_logprob
            for r in text.text_unigram_logprob(spark, "ignored").collect()
        }
    finally:
        catalog.table = orig
        text.table = orig
    assert scores[4] > scores[1]


def test_naive_bayes_beats_chance_and_is_complete(spark, sf_oracle):
    """Every document gets exactly one prediction; in-sample accuracy
    beats the 5-class chance floor (0.2) with margin."""
    nb = similarity.ml_naive_bayes(spark, sf_oracle)
    rows = nb.collect()
    n_docs = (
        similarity.table(spark, sf_oracle, "documents").count()
    )
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    acc = sum(r.correct for r in rows) / len(rows)
    assert acc > 0.3, f"NB in-sample accuracy collapsed: {acc}"


def test_pca_power_unit_norm_and_rayleigh_dominance(spark, sf_oracle):
    """The output is unit-norm, and its Rayleigh quotient under the
    (reconstructed) second-moment matrix dominates a fixed probe
    direction's — i.e. two power steps actually moved toward the
    dominant eigenvector."""
    import numpy as np

    comp = {
        r.dim: r.component
        for r in similarity.ml_pca_power(spark, sf_oracle).collect()
    }
    d = len(comp)
    v = np.array([comp[i] for i in range(d)])
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-4

    emb = similarity._unit(similarity._embeddings(spark, sf_oracle), "v")
    X = np.array([row.v for row in emb.collect()])
    C = X.T @ X
    e0 = np.zeros(d)
    e0[0] = 1.0
    assert v @ C @ v >= e0 @ C @ e0


def test_vacuum_keeps_newest_and_preserves_time_travel(spark, sf_oracle):
    """VACUUM retains exactly the newest VACUUM_KEEP version(s), and
    the time-travel store still serves BOTH versions afterwards (the
    private-copy contract)."""
    vac = formats.store_vacuum(spark, sf_oracle)
    assert {r.v for r in vac.select("v").distinct().collect()} == {2}
    tt_versions = {
        r.v
        for r in formats.store_time_travel(spark, sf_oracle)
        .select("v")
        .distinct()
        .collect()
    }
    assert tt_versions == {1, 2}


def test_phash_dedup_symmetric_free_and_verified(spark, sf_oracle):
    """Pairs are canonical (a < b), unique, and every reported pair
    actually satisfies the Hamming threshold against the raw hashes."""
    from distributed_graph_database_spark.pipeline import multimodal as mm

    pairs = mm.mm_phash_dedup(spark, sf_oracle).collect()
    seen = {(r.doc_a, r.doc_b) for r in pairs}
    assert len(seen) == len(pairs)
    assert all(r.doc_a < r.doc_b for r in pairs)
    ph = {r.doc_id: r.phash for r in mm.mm_phash(spark, sf_oracle).collect()}
    for r in pairs:
        assert bin(ph[r.doc_a] ^ ph[r.doc_b]).count("1") == r.hamming
        assert r.hamming <= mm.PHASH_HAMMING_MAX


def test_token_budget_invariants(spark, sf_oracle):
    """Hamilton apportionment laws: Σ quota = TOKEN_BUDGET exactly;
    every quota within 1 of its exact proportional share (the
    largest-remainder guarantee); quota ≤ availability."""
    from distributed_graph_database_spark.pipeline.clean import (
        TOKEN_BUDGET,
        corpus_token_budget,
    )

    rows = corpus_token_budget(spark, sf_oracle).collect()
    assert sum(r.quota for r in rows) == TOKEN_BUDGET
    total = sum(r.n_tokens_available for r in rows)
    for r in rows:
        share = TOKEN_BUDGET * r.n_tokens_available / total
        assert share - 1 < r.quota < share + 1, (r, share)
        assert r.quota <= r.n_tokens_available


def test_betweenness_path_graph_golden(spark, monkeypatch):
    """Brandes dependency golden on a 4-path 0-1-2-3 (seed 0): σ = 1
    everywhere, δ(v) = #descendants on the path (3, 2, 1, 0)."""
    from distributed_graph_database_spark.graph import analytics

    edges = spark.createDataFrame(
        [(0, 1, 2), (1, 2, 2), (2, 3, 2)], "p1 bigint, p2 bigint, n_orders bigint"
    )
    monkeypatch.setattr(
        analytics, "_copurchase_edges", lambda spark_, sf_: edges
    )
    # Its own sf_dir: the symmetric edge artifact is memoized per sf_dir.
    rows = analytics.graph_betweenness(spark, "fixture-path-graph").collect()
    got = {r.vid: (r.level, r.sigma, r.delta) for r in rows}
    assert got == {
        0: (0, 1, 3.0),
        1: (1, 1, 2.0),
        2: (2, 1, 1.0),
        3: (3, 1, 0.0),
    }


def test_betweenness_diamond_splits_dependency(spark, monkeypatch):
    """Diamond 0-{1,2}-3: two shortest paths to 3 (σ(3)=2), so each
    middle vertex carries half of 3's unit dependency — δ(1) = δ(2)
    = 0.5, δ(0) = 1+0.5 + 1+0.5 = 3."""
    from distributed_graph_database_spark.graph import analytics

    edges = spark.createDataFrame(
        [(0, 1, 2), (0, 2, 2), (1, 3, 2), (2, 3, 2)],
        "p1 bigint, p2 bigint, n_orders bigint",
    )
    monkeypatch.setattr(
        analytics, "_copurchase_edges", lambda spark_, sf_: edges
    )
    rows = analytics.graph_betweenness(spark, "fixture-diamond-graph").collect()
    got = {r.vid: (r.level, r.sigma, r.delta) for r in rows}
    assert got == {
        0: (0, 1, 3.0),
        1: (1, 1, 0.5),
        2: (1, 1, 0.5),
        3: (2, 2, 0.0),
    }


def test_ab_verdict_survives_decimal_overflow(spark):
    """The z²-comparison must stay correct past decimal(38,0)'s
    degree-5 headroom (~4e7 total users): the try_multiply products
    NULL on overflow (instead of THROWING under Spark 4's default
    ANSI mode) and the verdict COALESCEs to the double shadow. A
    clearly-significant and a clearly-null huge-count experiment must
    both produce a non-null, correct bit."""
    from distributed_graph_database_spark.pipeline.events import (
        ab_verdict_frame,
    )

    from decimal import Decimal

    def run(na, ca, nb, cb):
        j = spark.createDataFrame(
            [tuple(Decimal(x) for x in (na, ca, nb, cb))],
            "na decimal(38,0), ca decimal(38,0),"
            " nb decimal(38,0), cb decimal(38,0)"
        )
        rows = ab_verdict_frame(j).collect()
        assert len(rows) == 1 and rows[0].significant is not None
        return rows[0].significant, rows[0].exact

    big = 10**9  # lhs = diff²·n overflows; diff²≈2.5e35 · 2e9 > 1e38
    assert run(big, big // 2, big, big // 4) == (True, False)  # 50% vs 25%
    # Identical arms: diff = 0, so lhs = 0 never overflows and rhs
    # (4e36) still fits 38 digits — the verdict stays exact even at
    # a billion users per arm.
    assert run(big, big // 2, big, big // 2) == (False, True)
    # Non-significant AND overflowed (both sides NULL → double shadow):
    # needs per-arm counts past ~1e11 so rhs ≈ 4·n⁴ > 1e38.
    huge = 10**12
    assert run(huge, huge // 2, huge, huge // 2 - 8) == (False, False)
    # Small counts stay in the pure-decimal regime: exact = True.
    assert run(100, 80, 100, 20) == (True, True)
    assert run(100, 50, 100, 50) == (False, True)
