"""Focused laws for the r13 optimization-round rewrites: each pins the
equivalence argument an optimization leaned on, on the smallest SF
(the oracle parity sweep checks end results; these check the internal
derivations directly so a future edit that breaks the law fails HERE
with a named reason, not as an opaque hash mismatch)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_ktruss_support_matches_recount_on_final_subgraph(spark, sf_smoke):
    """graph_ktruss now returns its survivor CHECKPOINT (with the
    support column) instead of lazily re-running the final round's
    triangle enumeration — so pin that the returned support values
    equal an independent support recount over exactly the returned
    edge set."""
    from distributed_graph_database_spark.graph.analytics import (
        _closed_triangles,
        _oriented_edges,
        graph_ktruss,
    )

    got = graph_ktruss(spark, sf_smoke)
    rows = {(r.p1, r.p2): r.support for r in got.collect()}
    e = got.select("p1", "p2")
    tri = _closed_triangles(_oriented_edges(e))
    pairs = (
        tri.select(F.least("a", "b").alias("p1"), F.greatest("a", "b").alias("p2"))
        .unionAll(
            tri.select(
                F.least("b", "c").alias("p1"), F.greatest("b", "c").alias("p2")
            )
        )
        .unionAll(
            tri.select(
                F.least("a", "c").alias("p1"), F.greatest("a", "c").alias("p2")
            )
        )
    )
    recount = {
        (r.p1, r.p2): r.support
        for r in pairs.groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("support"))
        .collect()
    }
    # converged ⇒ every surviving edge's support over the survivors is
    # unchanged, and no edge re-counts below the threshold
    assert rows == recount


def test_gmm_neff_per_dim_derivation_matches_direct_sum(spark, sf_smoke):
    """ml_gmm_step now derives n_eff from the per-(component, dim)
    aggregate (MAX over dims of Σr) instead of a second corpus pass —
    pin that every dim's Σr agrees with the direct per-component Σr
    far inside the 6dp output quantum."""
    from distributed_graph_database_spark.pipeline.similarity import (
        GMM_K,
        _cells,
        _dot,
        _embeddings,
        _unit,
    )

    emb = _unit(_embeddings(spark, sf_smoke), "v")
    means = _unit(
        _cells(spark, sf_smoke, GMM_K).select(
            F.col("cell_id").alias("component"), F.col("cv").alias("m")
        ),
        "m",
    )
    ms = means.agg(
        F.sort_array(F.collect_list(F.struct("component", "m"))).alias("ms")
    )
    resp = (
        emb.crossJoin(F.broadcast(ms))
        .withColumn(
            "nums",
            F.transform(
                "ms",
                lambda cm: F.struct(
                    cm["component"].alias("component"),
                    F.exp(_dot(F.col("v"), cm["m"])).alias("num"),
                ),
            ),
        )
        .withColumn(
            "den",
            F.aggregate("nums", F.lit(0.0), lambda acc, s: acc + s["num"]),
        )
        .select("v", F.explode("nums").alias("s"), "den")
        .select(
            "v",
            F.col("s.component").alias("component"),
            (F.col("s.num") / F.col("den")).alias("r"),
        )
    )
    direct = {
        r.component: r.n_eff
        for r in resp.groupBy("component")
        .agg(F.sum("r").alias("n_eff"))
        .collect()
    }
    per_dim = (
        resp.select("component", "r", F.posexplode("v").alias("dim", "x"))
        .groupBy("component", "dim")
        .agg(F.sum("r").alias("ne_d"))
        .collect()
    )
    for row in per_dim:
        assert abs(row.ne_d - direct[row.component]) < 1e-9


# The keys whose full plan the audit used to reach through a hand-kept
# uncached twin; cache.live_plans now derives every one of them.
FORMER_TWIN_KEYS = (
    "corpus_semdedup", "dedup_embed", "dedup_embed_tree",
    "dedup_incremental", "dedup_near", "dedup_ngram", "graph_clustering_coef",
    "graph_copurchase", "graph_jaccard", "graph_triangles", "ml_auc",
    "ml_calibration", "ml_centroid_classify", "ml_dbscan_core",
    "ml_knn_classify", "sim_dedup_sweep", "sim_knn_graph",
    "sim_knn_graph_tree", "sim_knn_recall", "sim_knn_tree_recall",
    "sim_pq_code", "sim_pq_topk", "sim_topk", "sim_topk_ivf",
    "store_stats_approx", "store_stats_collect", "text_collocations",
    "text_contamination", "text_repetition",
)


@pytest.mark.parametrize("key", FORMER_TWIN_KEYS)
def test_served_rows_equal_live_rows(spark, sf_smoke, key):
    """A key served through cache.shared must return EXACTLY the rows
    of its live build — the plan audit reads the live view, so it is
    only honest if this holds."""
    from distributed_graph_database_spark import cache, registry

    fn = registry.QUERIES[key]
    a = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    with cache.live_plans():
        b = sorted(map(tuple, fn(spark, sf_smoke).collect()))
    assert a == b, key
