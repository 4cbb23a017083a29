"""Round-13 operator laws: the k-means training loop."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from distributed_graph_database_spark.catalog import table
from distributed_graph_database_spark.pipeline import similarity as sim


def test_kmeans_train_round1_is_the_step_kernel(spark, sf_smoke):
    """Iteration 1 of the training loop IS ml_kmeans_step — same
    init, same assign+update; the loop may not drift from its
    declared single-round kernel."""
    step = {
        r["cell_id"]: (r["n_assigned"], r["shift"])
        for r in sim.ml_kmeans_step(spark, sf_smoke).collect()
    }
    train = {
        r["cell_id"]: (r["n_assigned"], r["shift"])
        for r in sim.ml_kmeans_train(spark, sf_smoke)
        .filter(F.col("iteration") == 1)
        .collect()
    }
    assert train == step


def test_kmeans_train_trace_shape_and_conservation(spark, sf_smoke):
    """Every iteration reports all k cells, assignments conserve the
    corpus (sum n_assigned == N per round), and the mean shift is
    non-increasing from round 1 to the final round (Lloyd's descent —
    individual rounds may jitter, the endpoint may not)."""
    n = table(spark, sf_smoke, "embeddings").count()
    rows = sim.ml_kmeans_train(spark, sf_smoke).collect()
    by_iter: dict[int, list] = {}
    for r in rows:
        by_iter.setdefault(r["iteration"], []).append(r)
    assert sorted(by_iter) == list(range(1, sim.KMEANS_TRAIN_ITERS + 1))
    for it, recs in by_iter.items():
        assert len(recs) == sim.KMEANS_K
        assert sum(r["n_assigned"] for r in recs) == n
        assert all(r["shift"] >= 0 for r in recs)
    mean_shift = {
        it: sum(r["shift"] for r in recs) / len(recs)
        for it, recs in by_iter.items()
    }
    assert mean_shift[sim.KMEANS_TRAIN_ITERS] <= mean_shift[1] + 1e-9


def test_kmeans_train_converges_against_local_lloyd(spark, sf_smoke):
    """The full trace equals an independent driver-side Lloyd run
    (numpy-free, pure Python) from the same pinned init — assignment
    by cosine with cell_id tie-break, empty cells keep their
    centroid."""
    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in table(spark, sf_smoke, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    ids = sorted(emb)
    init_ids = ids[sim.N_QUERIES : sim.N_QUERIES + sim.KMEANS_K]
    cents = {cid: list(emb[cid]) for cid in init_ids}

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    want = []
    for it in range(1, sim.KMEANS_TRAIN_ITERS + 1):
        assign: dict[int, list[int]] = {cid: [] for cid in cents}
        for vid, v in emb.items():
            best = max(cents, key=lambda c: (cos(v, cents[c]), -c))
            assign[best].append(vid)
        new_cents = {}
        for cid, members in assign.items():
            if members:
                d = len(cents[cid])
                new_cents[cid] = [
                    sum(emb[m][k] for m in members) / len(members)
                    for k in range(d)
                ]
            else:
                new_cents[cid] = list(cents[cid])
        for cid in cents:
            shift = math.sqrt(
                sum(
                    (a - b) ** 2
                    for a, b in zip(new_cents[cid], cents[cid])
                )
            )
            want.append((it, cid, len(assign[cid]), round(shift, 6)))
        cents = new_cents

    got = sorted(
        (r["iteration"], r["cell_id"], r["n_assigned"], r["shift"])
        for r in sim.ml_kmeans_train(spark, sf_smoke).collect()
    )
    want.sort()
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert g[:3] == w[:3]
        assert abs(g[3] - w[3]) <= 1e-6
