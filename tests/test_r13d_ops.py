"""Round-13 third-batch operator laws: boilerplate removal, source
overlap and DBSCAN point classification — each checked
against an independent Python implementation or a structural
invariant, plus oracle parity at sf0.001 (the sweep covers sf0.01)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

from distributed_graph_database_spark.catalog import table
from distributed_graph_database_spark.pipeline import similarity, text
from .oracle_harness import assert_parity


def _doc_lines(txt: str, w: int) -> list[str]:
    toks = txt.strip().lower().split()
    return [
        hashlib.md5(" ".join(toks[i : i + w]).encode()).hexdigest()
        for i in range(0, len(toks), w)
    ]


# ---------- text_boilerplate ----------

def test_boilerplate_matches_independent(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    src_docs = defaultdict(int)
    for r in docs:
        src_docs[r.source] += 1
    support = defaultdict(set)  # (source, h) -> doc ids
    doc_lines = {}
    for r in docs:
        hs = set(_doc_lines(r.text, text.LINE_W))
        doc_lines[r.doc_id] = (r.source, hs)
        for h in hs:
            support[(r.source, h)].add(r.doc_id)
    want = {}
    for doc_id, (src, hs) in doc_lines.items():
        n_boiler = sum(
            1
            for h in hs
            if len(support[(src, h)]) >= text.BOILER_MIN_DOCS
        )
        want[doc_id] = (src, len(hs), n_boiler, len(hs) - n_boiler)
    got = {
        r.doc_id: (r.source, r.n_lines, r.n_boiler, r.n_kept)
        for r in text.QUERIES["text_boilerplate"](spark, sf_smoke).collect()
    }
    assert got == want
    assert any(v[2] > 0 for v in got.values()), "no boilerplate flagged"
    assert any(v[3] > 0 for v in got.values()), "everything flagged"


def test_boilerplate_parity(spark, sf_smoke):
    assert_parity(
        text.QUERIES["text_boilerplate"](spark, sf_smoke),
        text.ORACLE_SQL["text_boilerplate"],
        sf_smoke,
        "text_boilerplate",
    )


# ---------- text_source_overlap ----------

def test_source_overlap_matches_independent(spark, sf_smoke):
    docs = table(spark, sf_smoke, "documents").select("source", "text").collect()
    by_src = defaultdict(set)
    for r in docs:
        by_src[r.source].update(_doc_lines(r.text, text.LINE_W))
    srcs = sorted(by_src)
    want = {}
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            n = len(by_src[a] & by_src[b])
            if n:
                want[(a, b)] = n
    got = {
        (r.src_a, r.src_b): r.n_shared
        for r in text.QUERIES["text_source_overlap"](spark, sf_smoke).collect()
    }
    assert got == want
    for (a, b) in got:
        assert a < b  # unordered pairs, canonical order


def test_source_overlap_parity(spark, sf_smoke):
    assert_parity(
        text.QUERIES["text_source_overlap"](spark, sf_smoke),
        text.ORACLE_SQL["text_source_overlap"],
        sf_smoke,
        "text_source_overlap",
    )


# ---------- ml_dbscan_core ----------

def test_dbscan_matches_pairs(spark, sf_smoke):
    pairs = similarity.dedup_embed(spark, sf_smoke).collect()
    deg = defaultdict(int)
    adj = defaultdict(set)
    for p in pairs:
        deg[p.vec_a] += 1
        deg[p.vec_b] += 1
        adj[p.vec_a].add(p.vec_b)
        adj[p.vec_b].add(p.vec_a)
    core = {v for v, d in deg.items() if d >= similarity.DBSCAN_MINPTS}
    labels = {
        r.vec_id: r.label
        for r in table(spark, sf_smoke, "embeddings").select(
            "vec_id", "label"
        ).collect()
    }
    want = defaultdict(lambda: [0, 0, 0])
    for vid, lab in labels.items():
        if vid in core:
            want[lab][0] += 1
        elif adj[vid] & core:
            want[lab][1] += 1
        else:
            want[lab][2] += 1
    got = {
        r.label: [r.n_core, r.n_border, r.n_noise]
        for r in similarity.QUERIES["ml_dbscan_core"](spark, sf_smoke).collect()
    }
    assert got == {k: list(v) for k, v in want.items()}
    # partition law: every vector classified exactly once
    assert sum(sum(v) for v in got.values()) == len(labels)
    assert sum(v[0] for v in got.values()) == len(core)
    assert sum(v[0] + v[1] for v in got.values()) > 0


def test_dbscan_parity(spark, sf_smoke):
    assert_parity(
        similarity.QUERIES["ml_dbscan_core"](spark, sf_smoke),
        similarity.ORACLE_SQL["ml_dbscan_core"],
        sf_smoke,
        "ml_dbscan_core",
    )
