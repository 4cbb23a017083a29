"""Similarity search: the ANN pipeline's stage laws, IVF/PQ/kNN
recall and containment properties, and plan shape. Exact values are
oracle-checked in test_oracle_parity.py."""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from distributed_graph_database_spark import cache
from distributed_graph_database_spark.catalog import table
from distributed_graph_database_spark.pipeline import similarity
from distributed_graph_database_spark.session import local_frame

from .oracle_harness import assert_parity


def test_topk_breaks_ties_by_smaller_vec_id_and_keeps_short_keys(spark):
    """_topk ranks by the score, then the smaller vec_id on a tie (in
    either sort direction), and a key with fewer than k candidates
    keeps all of them. The tied rows arrive larger id first, so an
    order that ignored vec_id would keep them in that order."""
    scored = local_frame(
        spark,
        [(1, 30, 0.5), (1, 10, 0.5), (1, 20, 0.9), (1, 40, 0.1), (2, 50, 0.3)],
        "query_id bigint, vec_id bigint, s double",
    )

    def ranks(order):
        out = similarity._topk(scored, "query_id", order, 3).collect()
        return sorted((r.query_id, r.rank, r.vec_id) for r in out)

    assert ranks(F.desc("s")) == [(1, 1, 20), (1, 2, 10), (1, 3, 30), (2, 1, 50)]
    assert ranks(F.asc("s")) == [(1, 1, 40), (1, 2, 10), (1, 3, 30), (2, 1, 50)]


def test_recall_reports_a_key_with_no_approximate_hit(spark):
    """_recall is a left join from the exact side: a key none of whose
    exact neighbors the approximate side returns still reports
    n_hits = 0 and recall 0.0, and a spurious approximate neighbor
    counts for nothing."""
    pairs = "src_id bigint, neighbor_id bigint"
    exact = local_frame(spark, [(1, 10), (1, 11), (2, 20), (2, 21)], pairs)
    approx = local_frame(spark, [(1, 10), (1, 99), (2, 98)], pairs)
    got = {
        r.src_id: (r.n_hits, r.recall_at_k)
        for r in similarity._recall(exact, approx, "src_id").collect()
    }
    assert got == {1: (1, 0.5), 2: (0, 0.0)}


def _orders(plan_lines, node):
    """The sort orders of the row_number windows (node "Window") or
    WindowGroupLimits (node "WindowGroupLimit") in a plan's lines: the
    last bracketed list of a node holding ASC/DESC items."""
    out = []
    for line in plan_lines:
        if node + " [" in line and "row_number()" in line:
            lists = re.findall(r"\[([^\[\]]*)\]", line)
            out.append([x for x in lists if " ASC " in x or " DESC " in x][-1])
    return out


@pytest.mark.parametrize(
    "key",
    [
        "sim_topk", "sim_mips_topk", "sim_topk_ivf", "sim_knn_graph",
        "sim_pq_topk", "sim_ivfpq_topk", "sim_recall_curve", "ml_knn_classify",
    ],
)
def test_topk_keys_plan_a_partial_topk(spark, sf_oracle, key):
    """Each top-k key's final adaptive plan keeps a WindowGroupLimit
    for every _topk window (a row_number ordered by a score, then
    vec_id): the rank filter runs as a partial top-k before the
    window's shuffle, so the exchange carries k rows per key and
    partition, not every scored candidate."""
    with cache.live_plans():
        df = similarity.QUERIES[key](spark, sf_oracle)
        df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, plan
    final = plan.split("== Initial Plan ==")[0].splitlines()
    tie = re.compile(r".+, vec_id#\d+L? ASC NULLS FIRST")
    topk = [o for o in _orders(final, "Window") if tie.fullmatch(o)]
    limited = set(_orders(final, "WindowGroupLimit"))
    assert topk, f"{key}: no top-k window\n{plan}"
    for order in topk:
        assert order in limited, f"{key}: {order} has no partial top-k\n{plan}"


def test_sim_topk_shape(spark, sf_oracle):
    rows = similarity.sim_topk(spark, sf_oracle).collect()
    assert len(rows) == similarity.N_QUERIES * similarity.TOP_K
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append((r.rank, r.cosine))
    for q, rs in per_q.items():
        rs.sort()
        cosines = [c for _, c in rs]
        assert cosines == sorted(cosines, reverse=True), (q, cosines)
        assert all(-1.0 <= c <= 1.0 for c in cosines)


def test_ivf_results_are_true_cosines_with_fair_recall(spark, sf_oracle):
    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_topk(spark, sf_oracle).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in similarity.sim_topk_ivf(spark, sf_oracle).collect()
    }
    # every IVF hit that the exact top-k also contains reports the
    # identical cosine (IVF approximates the candidate set, never the
    # metric)
    for pair, c in approx.items():
        if pair in exact:
            assert abs(c - exact[pair]) < 1e-9
    # recall floor: uniform random embeddings are IVF's worst case
    # (no cluster structure); probing NPROBE/CELLS = 1/4 of the corpus
    # must still beat blind 1/4 sampling.
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.3, recall


def test_ivf_scans_fraction_of_corpus(spark, sf_oracle):
    """The probed candidate set is a strict subset of the corpus —
    the join is on cell_id, never a full cross product."""
    plan = (
        similarity._sim_topk_ivf(spark, sf_oracle)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan


def test_dedup_embed_pairs_are_true_near_dups_with_fair_recall(spark, sf_smoke):
    """dedup_embed reports only genuine pairs (cosine ≥ T, exact metric)
    and its cell blocking recovers a fair share of the true pair set."""
    import numpy as np

    from distributed_graph_database_spark.catalog import table

    rows = table(spark, sf_smoke, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    ids = sorted(vecs)
    mat = np.stack([vecs[i] for i in ids])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    truth = {
        (ids[i], ids[j]): sims[i, j]
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
        if sims[i, j] >= similarity.EMBED_COSINE_T
    }
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in similarity.dedup_embed(spark, sf_smoke).collect()
    }
    # precision 1: every reported pair is a true near-dup with the exact cosine
    for pair, c in got.items():
        assert pair in truth, pair
        assert abs(c - truth[pair]) < 1e-5, (pair, c, truth[pair])
    if truth:
        recall = len(got) / len(truth)
        assert recall >= 0.3, (recall, len(got), len(truth))


def test_dedup_embed_no_cartesian(spark, sf_oracle):
    plan = (
        similarity.dedup_embed(spark, sf_oracle)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan


def test_sim_topk_broadcasts_queries(spark, sf_oracle):
    plan = (
        similarity._sim_topk(spark, sf_oracle)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_ivf_recall_key_emits_measured_values(spark, sf_oracle):
    """sim_ivf_recall ships the measured recall@K as hash-checkable
    rows (VERDICT r2 #5): one row per query, n_hits consistent with an
    independent set intersection of the two declared operators."""
    got = {
        r.query_id: (r.n_hits, r.recall_at_k)
        for r in similarity.sim_ivf_recall(spark, sf_oracle).collect()
    }
    exact = similarity.sim_topk(spark, sf_oracle).collect()
    approx = similarity.sim_topk_ivf(spark, sf_oracle).collect()
    want_pairs = {(r.query_id, r.neighbor_id) for r in exact} & {
        (r.query_id, r.neighbor_id) for r in approx
    }
    for qid, (n_hits, recall) in got.items():
        n = len([1 for a, b in want_pairs if a == qid])
        assert n_hits == n
        assert recall == round(n / similarity.TOP_K, 6)
    assert len(got) == similarity.N_QUERIES


def test_knn_graph_shape_and_edge_validity(spark, sf_oracle):
    """sim_knn_graph: ≤ KNN_K neighbors per source with contiguous
    ranks from 1, no self-edges, no duplicate (src, neighbor) pairs,
    and every reported cosine is the true cosine of the pair."""
    from distributed_graph_database_spark.catalog import table

    rows = similarity.sim_knn_graph(spark, sf_oracle).collect()
    by_src = {}
    pairs = set()
    for r in rows:
        assert r.src_id != r.neighbor_id
        assert (r.src_id, r.neighbor_id) not in pairs
        pairs.add((r.src_id, r.neighbor_id))
        by_src.setdefault(r.src_id, []).append(r.rank)
    import numpy as np

    vecs = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in table(spark, sf_oracle, "embeddings").collect()
    }
    for src, ranks in by_src.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
        assert len(ranks) <= similarity.KNN_K
    for r in rows[:200]:
        a, b = vecs[r.src_id], vecs[r.neighbor_id]
        cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert abs(cos - r.cosine) < 1e-5


def test_knn_graph_no_cartesian(spark, sf_oracle):
    plan = (
        similarity._sim_knn_graph(spark, sf_oracle)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan


def test_knn_recall_floor(spark, sf_oracle):
    """The measured recall key must stay above the floor the KNN_PROBES
    knob was tuned for (~0.52 on uniform-random embeddings at 4/16
    cells probed; 0.35 leaves headroom for testdata regeneration)."""
    rows = similarity.sim_knn_recall(spark, sf_oracle).collect()
    assert len(rows) > 0
    mean = sum(r.recall_at_k for r in rows) / len(rows)
    assert mean >= 0.35, f"kNN-graph mean recall collapsed: {mean}"


def test_tree_split_gain_table_invariants(spark, sf_oracle):
    """ml_tree_split laws: 15 internal thresholds per feature at any
    sf; per-feature left counts monotone in threshold; left+right
    constant = the orders row count; Gini gain non-negative (exact
    rational math guarantees it; allow one 6dp rounding ulp)."""
    from collections import defaultdict

    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.similarity import (
        TREE_BINS,
        ml_tree_split,
    )

    rows = ml_tree_split(spark, sf_oracle).collect()
    n_orders = table(spark, sf_oracle, "orders").count()
    by_feat = defaultdict(list)
    for r in rows:
        by_feat[r.feature].append(r)
    assert set(by_feat) == {"price_cents", "order_day"}
    for feat, rs in by_feat.items():
        rs.sort(key=lambda r: r.threshold)
        assert len(rs) == TREE_BINS - 1, feat
        for r in rs:
            assert r.n_left + r.n_right == n_orders
            assert r.pos_left + r.pos_right == rs[0].pos_left + rs[0].pos_right
            assert 0 <= r.pos_left <= r.n_left
            assert 0 <= r.pos_right <= r.n_right
            assert r.gain >= -1e-6, (feat, r.threshold, r.gain)
        for a, b in zip(rs, rs[1:]):
            assert a.n_left <= b.n_left


def test_auc_rank_statistic_matches_pair_counting(spark, sf_oracle):
    """ml_auc's tie-corrected rank formula must equal the DEFINITION:
    P(score_pos > score_neg) + 0.5·P(tie), counted over all pos×neg
    pairs driver-side at oracle scale. Also pins the degenerate
    bounds and that both classes are populated."""
    from distributed_graph_database_spark.pipeline.similarity import (
        AUC_POS_LABEL,
        ml_auc,
        ml_score,
    )
    from distributed_graph_database_spark.catalog import table
    from pyspark.sql import functions as F

    row = ml_auc(spark, sf_oracle).collect()[0]
    assert row.n_pos > 0 and row.n_neg > 0
    assert 0.0 <= row.auc <= 1.0

    labels = table(spark, sf_oracle, "embeddings").select(
        "vec_id", (F.col("label") == AUC_POS_LABEL).alias("y")
    )
    scored = [
        (r.score, r.y)
        for r in ml_score(spark, sf_oracle).join(labels, "vec_id").collect()
    ]
    pos = sorted(s for s, y in scored if y)
    neg = sorted(s for s, y in scored if not y)
    assert (len(pos), len(neg)) == (row.n_pos, row.n_neg)
    import bisect

    num = 0.0
    for p in pos:
        lt = bisect.bisect_left(neg, p)
        eq = bisect.bisect_right(neg, p) - lt
        num += lt + 0.5 * eq
    assert abs(num / (len(pos) * len(neg)) - row.auc) < 1e-6


def test_recall_curve_is_monotone_and_anchored(spark, sf_oracle):
    """sim_recall_curve laws: one row per probed count; recall
    non-decreasing in nprobe; the declared sim_topk_ivf operating
    point (IVF_NPROBE) appears on the curve with the same total hits
    sim_ivf_recall reports; recall ∈ [0, 1] with n_hits consistent."""
    from distributed_graph_database_spark.pipeline.similarity import (
        IVF_NPROBE,
        N_QUERIES,
        RECALL_CURVE_PROBES,
        TOP_K,
        sim_ivf_recall,
        sim_recall_curve,
    )

    rows = sorted(
        sim_recall_curve(spark, sf_oracle).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == list(RECALL_CURVE_PROBES)
    truth = N_QUERIES * TOP_K
    for r in rows:
        assert 0 <= r.n_hits <= truth
        assert abs(r.recall_at_k - r.n_hits / truth) < 1e-6
    for a, b in zip(rows, rows[1:]):
        assert a.n_hits <= b.n_hits, (a, b)
    anchor = {r.nprobe: r.n_hits for r in rows}[IVF_NPROBE]
    per_query = sim_ivf_recall(spark, sf_oracle).collect()
    assert sum(r.n_hits for r in per_query) == anchor


def test_ml_calibration_binning_laws(spark, sf_oracle):
    """Reliability-diagram invariants: bins are consecutive from 0,
    partition the scored corpus exactly, are equal-count up to
    tie-group granularity, and mean predicted score is strictly
    increasing across bins (groups are assigned in score order)."""
    from distributed_graph_database_spark.pipeline.similarity import (
        CAL_BINS,
        ml_calibration,
        ml_score,
    )

    rows = ml_calibration(spark, sf_oracle).collect()
    assert [r.bin for r in rows] == list(range(CAL_BINS))
    n_scored = ml_score(spark, sf_oracle).count()
    assert sum(r.n_rows for r in rows) == n_scored
    # equal-count up to the largest tie group (a tie group never
    # splits across bins)
    max_tie = (
        ml_score(spark, sf_oracle)
        .groupBy("score")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    target = n_scored / CAL_BINS
    for r in rows:
        assert abs(r.n_rows - target) <= max(1, max_tie), r
    means = [r.mean_pred for r in rows]
    assert all(a < b for a, b in zip(means, means[1:])), means
    for r in rows:
        assert 0 <= r.n_pos <= r.n_rows


def test_corpus_semdedup_laws(spark, sf_oracle):
    """SemDeDup report invariants (r11): per-label counts partition
    the corpus; every cluster keeps EXACTLY one canonical (survivors
    = n_vectors − n_clustered + n_clusters); singletons all survive;
    and the report is consistent with the pair graph it was built
    from (clustered vecs = distinct endpoints of dedup_embed pairs)."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.similarity import (
        corpus_semdedup,
        dedup_embed,
    )

    rows = corpus_semdedup(spark, sf_oracle).collect()
    n_corpus = table(spark, sf_oracle, "embeddings").count()
    assert sum(r.n_vectors for r in rows) == n_corpus
    for r in rows:
        assert 0 <= r.n_clustered <= r.n_vectors
        # survivors include all unclustered vecs, and at most one
        # survivor per clustered group
        assert r.n_vectors - r.n_clustered <= r.n_survivors <= r.n_vectors
    pairs = dedup_embed(spark, sf_oracle)
    endpoints = (
        pairs.select(F.col("vec_a").alias("v"))
        .unionByName(pairs.select(F.col("vec_b").alias("v")))
        .distinct()
        .count()
    )
    assert sum(r.n_clustered for r in rows) == endpoints
    # global survivor law: total survivors = corpus − clustered + #clusters
    from distributed_graph_database_spark.graph import traversal

    sym = pairs.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    comp = traversal.connected_components(spark, sym)
    n_clusters = comp.select("comp").distinct().count()
    assert (
        sum(r.n_survivors for r in rows)
        == n_corpus - endpoints + n_clusters
    )


def test_range_search_respects_radius(spark, sf_oracle):
    rows = similarity.sim_range_search(spark, sf_oracle).collect()
    assert rows  # threshold chosen inside the data's cosine range
    assert all(r.cosine >= similarity.RANGE_SEARCH_T for r in rows)
    assert all(r.neighbor_id != r.query_id for r in rows)


def test_coarse_anchor_count_matches_duckdb_floor_sqrt_everywhere():
    """_assign_2level takes max(4, isqrt(n_cells)) coarse anchors; the
    oracles replay it as GREATEST(4, FLOOR(SQRT(n))) in double. The two
    must agree for every cell count (double sqrt must not misround next
    to a perfect square at these magnitudes) — sweep all n ≤ 200k plus
    perfect squares and their neighbors up to 10^10."""
    import duckdb

    from distributed_graph_database_spark.pipeline.similarity import _n_coarse

    rule = "GREATEST(4, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT))"
    edge = [k * k + d for k in (10**3, 10**4, 10**5, 99991) for d in (-1, 0, 1)]
    rows = duckdb.connect().execute(
        f"SELECT n, {rule} FROM range(0, 200001) t(n) "
        f"UNION ALL SELECT n, {rule} FROM (SELECT UNNEST(?) AS n)",
        [edge],
    ).fetchall()
    assert len(rows) == 200001 + len(edge)
    for n, want in rows:
        assert _n_coarse(n) == want, n


def test_ivfpq_dominated_by_ivf_recall(spark, sf_smoke):
    """Per query, the hybrid's hit set is provably contained in IVF's:
    IVF hits = global top-k ∩ candidate set (exact cosine keeps every
    global-top-k candidate), and the hybrid only further drops
    candidates via the ADC shortlist — so n_hits(ivfpq) ≤ n_hits(ivf)
    per query. Also pin result-shape invariants: ranks contiguous
    from 1, ≤ TOP_K rows per query."""
    from distributed_graph_database_spark.pipeline import similarity as sim

    hyb = sim.sim_ivfpq_topk(spark, sf_smoke)
    rows = hyb.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert per_q, "hybrid returned no rows"
    for q, ranks in per_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
        assert len(ranks) <= sim.TOP_K

    ivf = {
        r.query_id: r.n_hits
        for r in sim.sim_ivf_recall(spark, sf_smoke).collect()
    }
    for r in sim.sim_ivfpq_recall(spark, sf_smoke).collect():
        assert r.n_hits <= ivf[r.query_id], (
            f"query {r.query_id}: hybrid hits {r.n_hits} > ivf {ivf[r.query_id]}"
        )


def test_ml_knn_classify_laws(spark, sf_oracle):
    """k-NN classifier invariants: exactly KNN_SAMPLE_CAP verdict rows
    (one per sampled query); is_correct consistent with the label
    pair; accuracy beats the uniform-chance floor over the label
    alphabet (the embedding space carries SOME signal); predicted
    labels come from the true label alphabet."""
    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.similarity import (
        KNN_SAMPLE_CAP,
        ml_knn_classify,
    )

    rows = ml_knn_classify(spark, sf_oracle).collect()
    assert len(rows) == KNN_SAMPLE_CAP
    alphabet = {
        r.label for r in table(spark, sf_oracle, "embeddings").select("label").distinct().collect()
    }
    for r in rows:
        assert r.is_correct == (r.true_label == r.pred_label), r
        assert r.pred_label in alphabet, r
    acc = sum(r.is_correct for r in rows) / len(rows)
    assert acc >= 1.0 / len(alphabet), (acc, len(alphabet))


def test_knn_2level_shape_laws(spark, sf_oracle):
    """The two-level-quantizer kNN build (probe/deployment variant):
    same output contract as the declared key — ≤ KNN_K neighbors per
    source with contiguous ranks starting at 1, no self-edges, every
    src has a home cell (appears at all)."""
    from distributed_graph_database_spark.pipeline.similarity import (
        KNN_K,
        _corpus_n,
        _sim_knn_graph_2level,
    )

    n = _corpus_n(spark, sf_oracle)
    rows = _sim_knn_graph_2level(
        spark, sf_oracle, n_cells=max(16, n // 50)
    ).collect()
    assert rows
    by_src: dict[int, list] = {}
    for r in rows:
        assert r.src_id != r.neighbor_id
        by_src.setdefault(r.src_id, []).append(r)
    for src, rs in by_src.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == list(range(1, len(rs) + 1)), (src, ranks)
        assert len(rs) <= KNN_K
        # cosine non-increasing along rank
        rs_sorted = sorted(rs, key=lambda x: x.rank)
        for a, b in zip(rs_sorted, rs_sorted[1:]):
            assert a.cosine >= b.cosine, (src, a, b)


def test_sim_knn_graph_tree_declared_key_laws(spark, sf_oracle):
    """The declared tree key: same output contract as sim_knn_graph
    (≤ K ranked neighbors, no self-edges), and its recall audit rows
    are in [0, 1] with n_hits consistent."""
    from distributed_graph_database_spark.pipeline.similarity import (
        KNN_K,
        KNN_SAMPLE_CAP,
        sim_knn_graph_tree,
        sim_knn_tree_recall,
    )

    rows = sim_knn_graph_tree(spark, sf_oracle).collect()
    assert rows
    per = {}
    for r in rows:
        assert r.src_id != r.neighbor_id
        per.setdefault(r.src_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per.values())
    rec = sim_knn_tree_recall(spark, sf_oracle).collect()
    assert 0 < len(rec) <= KNN_SAMPLE_CAP
    for r in rec:
        assert 0 <= r.n_hits <= KNN_K
        assert abs(r.recall_at_k - r.n_hits / KNN_K) < 1e-6


def test_sim_dedup_sweep_monotone_and_anchored(spark, sf_oracle):
    """The yield curve is monotone non-increasing in threshold, its
    lowest threshold equals the full pair table (the sweep's anchor
    is the declared dedup_embed artifact), and n_dropped never
    exceeds n_pairs."""
    pairs = similarity.dedup_embed(spark, sf_oracle)
    n_pairs_all = pairs.count()
    n_dropped_all = pairs.select("vec_b").distinct().count()
    rows = sorted(
        (r["threshold"], r["n_pairs"], r["n_dropped"])
        for r in similarity.sim_dedup_sweep(spark, sf_oracle).collect()
    )
    assert [t for t, _, _ in rows] == similarity.SWEEP_THRESHOLDS
    assert rows[0][1] == n_pairs_all and rows[0][2] == n_dropped_all
    for (t0, p0, d0), (t1, p1, d1) in zip(rows, rows[1:]):
        assert p1 <= p0 and d1 <= d0
    for _, p, d in rows:
        assert d <= p
        assert (p == 0) == (d == 0)


def test_mips_topk_matches_numpy(spark, sf_smoke):
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in table(spark, sf_smoke, "embeddings").collect()
    }
    qids = sorted(emb)[: similarity.N_QUERIES]
    got = text_rows = similarity.QUERIES["sim_mips_topk"](
        spark, sf_smoke
    ).collect()
    by_q = defaultdict(list)
    for r in got:
        by_q[r.query_id].append(r)
    assert sorted(by_q) == qids
    for q in qids:
        scored = sorted(
            ((float(emb[q] @ v), -vid) for vid, v in emb.items() if vid != q),
            reverse=True,
        )
        want_ids = [-nid for _, nid in scored[: similarity.TOP_K]]
        rows = sorted(by_q[q], key=lambda r: r.rank)
        assert [r.neighbor_id for r in rows] == want_ids
        for r, (dot, _) in zip(rows, scored):
            assert abs(r.dot - round(dot, 6)) < 1e-9


def test_mips_topk_parity(spark, sf_smoke):
    assert_parity(
        similarity.QUERIES["sim_mips_topk"](spark, sf_smoke),
        similarity.ORACLE_SQL["sim_mips_topk"],
        sf_smoke,
        "sim_mips_topk",
    )
