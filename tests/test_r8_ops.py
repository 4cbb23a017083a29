"""Round-8 operator invariants: batched multi-seed Brandes vs one-seed
kernel runs."""

from __future__ import annotations


def test_betweenness_multi_restricted_to_one_seed_equals_single_source(
    spark, sf_smoke
):
    """Additivity anchor: the batched Brandes kernel's rows for one seed
    equal the kernel run with that seed alone (seeds never meet), and
    graph_betweenness_multi is Σ_s δ_s(v) over v ≠ s of the batched
    rows, with n_seeds = how many seeds reached v (each vertex sits at
    exactly one BFS level per seed)."""
    from pyspark.sql import functions as F

    from distributed_graph_database_spark.graph import analytics as g

    sym = g._sym_edges(spark, sf_smoke)
    seeds = g._min_id_seeds(sym, g.BETW_SEEDS)

    def kernel_rows(seeds):
        return {
            (r.s, r.v, level): (r.sigma, r.delta)
            for level, d in enumerate(g._brandes(sym, seeds))
            for r in d.collect()
        }

    batched = kernel_rows(seeds)
    last = max(s for s, _, _ in batched)
    alone = kernel_rows(seeds.filter(F.col("s") == last))
    assert alone.keys() == {k for k in batched if k[0] == last}
    for k, (sigma, delta) in alone.items():
        assert batched[k][0] == sigma
        assert abs(batched[k][1] - delta) < 1e-9

    want = {}
    for (s, v, _), (_, delta) in batched.items():
        if v != s:
            n, b = want.get(v, (0, 0.0))
            want[v] = (n + 1, b + delta)
    got = {
        r.vid: (r.n_seeds, r.betweenness)
        for r in g.graph_betweenness_multi(spark, sf_smoke).collect()
    }
    assert got.keys() == want.keys()
    for vid, (n, b) in got.items():
        assert n == want[vid][0]
        assert abs(b - want[vid][1]) < 1e-6


def test_betweenness_multi_seed_count_and_positivity(spark, sf_smoke):
    """Full seed set: n_seeds bounded by BETW_SEEDS, δ sums
    non-negative, and every seed contributes its own horizon (the
    union of per-seed reach equals the multi output's vertex set)."""
    from distributed_graph_database_spark.graph import analytics as g

    rows = g.graph_betweenness_multi(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_seeds <= g.BETW_SEEDS
        assert r.betweenness >= 0.0


def _brute_pairs(feats, hmax):
    """All-pairs Hamming ≤ hmax over [(doc_id, phash)] — the oracle-free
    ground truth the contraction must reproduce exactly."""
    out = set()
    for i in range(len(feats)):
        for j in range(i + 1, len(feats)):
            (da, ha), (db, hb) = feats[i], feats[j]
            d = bin(ha ^ hb).count("1")
            if d <= hmax:
                a, b = sorted((da, db))
                out.add((a, b, d))
    return out


def _brute_clusters(pairs, hmax):
    """Union-find over the brute pair set → {(min doc, size)}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for x in list(parent):
        comps.setdefault(find(x), set()).add(x)
    return {(min(m), len(m)) for m in comps.values()}


def test_phash_contraction_matches_brute_force(spark):
    """The hash-value contraction (pairs AND clusters) must reproduce
    brute-force all-pairs Hamming / union-find on adversarial
    synthetic feature frames: duplicate hashes (intra pairs), chains
    A~B~C where A~C exceeds the threshold (transitive clusters),
    singletons with and without duplicates, and hash values that
    share bands without being within threshold (candidates that must
    verify-fail). Pins both the pigeonhole completeness at the hash
    level and the equi-join expansion."""
    from distributed_graph_database_spark.pipeline import multimodal as mm

    corpora = [
        # dup hashes only (no inter edges)
        [(1, 0x0F0F), (2, 0x0F0F), (3, 0x00FF), (4, 0x00FF), (5, 0x1234)],
        # chain: 0x0000 ~1~ 0x0001 ~1~ 0x0003 ~1~ 0x0007 ~1~ 0x000F,
        # ends differ by 4 > threshold — one transitive cluster
        [(10, 0x0000), (11, 0x0001), (12, 0x0003), (13, 0x0007), (14, 0x000F)],
        # band-sharers beyond threshold: 0x0000 vs 0x0FF0 share bands
        # 0 and 3 but hamming 8 — candidate must verify-fail
        [(20, 0x0000), (21, 0x0FF0), (22, 0xFFFF)],
        # mixed: dups + near + far + isolated
        [(30, 0x1111), (31, 0x1111), (32, 0x1110), (33, 0x8888),
         (34, 0x7777), (35, 0x1119), (36, 0x1111)],
    ]
    import random

    rng = random.Random(8)
    corpora.append(
        [(i, rng.randrange(1 << 16)) for i in range(60)]
    )
    for feats in corpora:
        ph = spark.createDataFrame(feats, "doc_id bigint, phash bigint")
        got_pairs = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in mm.phash_pairs_from_features(ph, mm.PHASH_BANDS).collect()
        }
        want_pairs = _brute_pairs(feats, mm.PHASH_HAMMING_MAX)
        assert got_pairs == want_pairs, feats
        got_clusters = {
            (r.cluster_id, r.n_members)
            for r in mm.phash_clusters_from_features(
                spark, ph, mm.PHASH_BANDS
            ).collect()
        }
        want_clusters = _brute_clusters(want_pairs, mm.PHASH_HAMMING_MAX)
        assert got_clusters == want_clusters, feats


def _doc_tokens(sf_dir):
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, string_split_regex(LOWER(TRIM(text)), '\\s+') "
        f"FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    con.close()
    return rows


def test_repetition_brute_force(spark, sf_smoke):
    """Independent Python replay: Counter-based top-unigram and
    duplicate-bigram counts must equal the distributed output for
    every document, and the flag must be the declared integer
    cross-multiplication."""
    from collections import Counter

    from distributed_graph_database_spark.pipeline import text as t

    got = {
        r.doc_id: r
        for r in t.text_repetition(spark, sf_smoke).collect()
    }
    rows = _doc_tokens(sf_smoke)
    assert set(got) == {d for d, _ in rows}
    for doc_id, toks in rows:
        uni = Counter(toks)
        bigs = Counter(zip(toks, toks[1:]))
        r = got[doc_id]
        assert r.n_tokens == len(toks)
        assert r.top_unigram_count == max(uni.values())
        assert r.n_bigrams == max(len(toks) - 1, 0)
        assert r.dup_bigram_count == max(len(toks) - 1, 0) - len(bigs)
        assert r.repetitive == (
            r.top_unigram_count * t.REP_TOP_UNIGRAM_DEN > r.n_tokens
            or r.dup_bigram_count * t.REP_DUP_BIGRAM_DEN > r.n_bigrams
        )


def test_dup_ngrams_brute_force(spark, sf_smoke):
    """Independent Python replay of the cross-document duplicate
    shingle set: a shingle is duplicated iff ≥ 2 distinct docs contain
    it; per-doc occurrence counts must match exactly."""
    from collections import defaultdict

    from distributed_graph_database_spark.pipeline import text as t

    k = t.DUPNG_K
    rows = _doc_tokens(sf_smoke)
    per_doc = {}
    owners = defaultdict(set)
    for doc_id, toks in rows:
        sh = [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]
        per_doc[doc_id] = sh
        for s in set(sh):
            owners[s].add(doc_id)
    dup = {s for s, ds in owners.items() if len(ds) >= 2}
    got = {
        r.doc_id: r for r in t.text_dup_ngrams(spark, sf_smoke).collect()
    }
    assert set(got) == set(per_doc)
    for doc_id, sh in per_doc.items():
        r = got[doc_id]
        n_dup = sum(1 for s in sh if s in dup)
        assert r.n_shingles == len(sh)
        assert r.n_dup_shingles == n_dup
        assert r.cross_duplicated == (n_dup > 0)


def test_audio_degree_matches_brute_force(spark):
    """phash_neardup_degree_from_features must equal per-doc pair-graph
    degree from brute-force all-pairs Hamming — on the same synthetic
    corpora that pin the pair/cluster kernels, including saturated
    ones (many docs per hash value)."""
    import random

    from distributed_graph_database_spark.pipeline import multimodal as mm

    rng = random.Random(88)
    corpora = [
        [(1, 0x0001), (2, 0x0003), (3, 0x0001), (4, 0xF0F0)],
        [(i, rng.randrange(1 << 16)) for i in range(60)],
        # saturated: 40 docs over 6 hash values
        [(i, [0x1, 0x3, 0x7, 0xFF00, 0xFF01, 0xAAAA][i % 6]) for i in range(40)],
    ]
    for feats in corpora:
        ph = spark.createDataFrame(feats, "doc_id bigint, phash bigint")
        want_pairs = _brute_pairs(feats, mm.PHASH_HAMMING_MAX)
        want_deg = {d: 0 for d, _ in feats}
        for a, b, _ in want_pairs:
            want_deg[a] += 1
            want_deg[b] += 1
        got = {
            r.doc_id: r.n_near_dups
            for r in mm.phash_neardup_degree_from_features(
                ph, mm.PHASH_BANDS
            ).collect()
        }
        assert got == want_deg, feats


def test_audio_fingerprint_bounds_and_short_doc(spark, sf_smoke):
    """Fingerprint stays inside [0, 2^AUDIO_FP_BITS); every doc gets a
    row; and a doc's bit i reflects window i vs i+1 mean energy
    (replayed in Python for a sample of docs)."""
    from distributed_graph_database_spark.pipeline import multimodal as mm

    fp = {r.doc_id: r.afp for r in mm.mm_audio_fingerprint(spark, sf_smoke).collect()}
    wins = {}
    for r in mm.mm_audio_windows(spark, sf_smoke).collect():
        wins.setdefault(r.doc_id, []).append((r.win_idx, r.win_sum, r.win_len))
    assert set(fp) == set(wins)
    for doc_id, ws in list(sorted(wins.items()))[:25]:
        ws.sort()
        want = 0
        for i in range(min(len(ws) - 1, mm.AUDIO_FP_BITS)):
            _, s0, l0 = ws[i]
            _, s1, l1 = ws[i + 1]
            if s0 * l1 > s1 * l0:
                want |= 1 << i
        assert fp[doc_id] == want, doc_id
        assert 0 <= fp[doc_id] < (1 << mm.AUDIO_FP_BITS)


def test_readability_matches_python_reference(spark, sf_smoke):
    """Every readability column vs an independent Python replay of the
    contract: vowel-group syllables with the max(1,·) floor, [.!?]+
    sentence runs floored at 1, and the exact (division-free) verdict
    checked against Fraction arithmetic rather than floats."""
    import re
    from fractions import Fraction

    import duckdb

    from distributed_graph_database_spark.pipeline.text import (
        READ_MIN_FLESCH,
        text_readability,
    )

    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM read_parquet('{sf_smoke}/documents.parquet')"
    ).fetchall()
    want = {}
    for d, t in rows:
        low = t.strip().lower()
        words = re.split(r"\s+", low)
        w = len(words)
        s = max(1, len(re.findall(r"[.!?]+", t)))
        y = sum(max(1, len(re.findall(r"[aeiouy]+", word))) for word in words)
        flesch = 206.835 - 1.015 * (w / s) - 84.6 * (y / w)
        exact = (
            Fraction(206835, 1000)
            - Fraction(1015, 1000) * Fraction(w, s)
            - Fraction(846, 10) * Fraction(y, w)
        ) >= READ_MIN_FLESCH
        want[d] = (w, s, y, round(flesch, 6), exact)
    got = {
        r.doc_id: (
            r.n_words,
            r.n_sentences,
            r.n_syllables,
            round(r.flesch, 6),
            r.readable,
        )
        for r in text_readability(spark, sf_smoke).collect()
    }
    assert got == want


def test_sample_weighted_membership_rule_and_determinism(spark, sf_smoke):
    """The kept set is exactly {doc : u32(salted md5) · 4 <
    quality_score · 2^32}, recomputed independently in Python; two
    runs agree row-for-row (no rand() anywhere); and the weighting is
    monotone — full-score docs are all kept, zero-score docs never."""
    import hashlib

    from distributed_graph_database_spark.pipeline.clean import (
        _U32,
        _WSAMPLE_SALT,
        WSAMPLE_DEN,
        corpus_sample_weighted,
    )
    from distributed_graph_database_spark.pipeline.text import text_quality

    scores = {
        r.doc_id: r.quality_score
        for r in text_quality(spark, sf_smoke).collect()
    }
    want = set()
    for d, q in scores.items():
        u32 = int(
            hashlib.md5(f"{_WSAMPLE_SALT}{d}".encode()).hexdigest()[:8], 16
        )
        if u32 * WSAMPLE_DEN < q * _U32:
            want.add(d)
    run1 = {r.doc_id: r.quality_score for r in corpus_sample_weighted(spark, sf_smoke).collect()}
    run2 = {r.doc_id: r.quality_score for r in corpus_sample_weighted(spark, sf_smoke).collect()}
    assert run1 == run2
    assert set(run1) == want
    assert {d for d, q in scores.items() if q == 4} <= set(run1)
    assert not any(scores[d] == 0 for d in run1)
    # the emitted score matches the standalone quality key
    assert all(run1[d] == scores[d] for d in run1)


def test_linreg_fit_matches_numpy_lstsq(spark, sf_smoke):
    """Closed-form OLS vs numpy's least-squares on the same design
    matrix: the Cramer solve over 6dp-rounded moments must land
    within rounding distance of the full-precision solution."""
    import numpy as np

    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.pipeline.similarity import (
        ml_linreg_fit,
    )

    rows = table(spark, sf_smoke, "embeddings").select(
        "embedding", "label"
    ).collect()
    X = np.array([[1.0, r.embedding[0], r.embedding[1]] for r in rows])
    y = np.array([float(r.label) for r in rows])
    want, *_ = np.linalg.lstsq(X, y, rcond=None)
    got = {r.param: r.coef for r in ml_linreg_fit(spark, sf_smoke).collect()}
    assert abs(got["intercept"] - want[0]) < 1e-4
    assert abs(got["x0"] - want[1]) < 1e-4
    assert abs(got["x1"] - want[2]) < 1e-4


def test_bloom_store_physically_writes_filter_and_pushes_lookup(
    spark, sf_oracle, tmp_path
):
    """The staged bloom store must actually CARRY the filter bytes —
    parquet silently skips blooms on fully-dictionary-encoded chunks,
    so an identical no-bloom twin pins the size delta — and the
    IN-list must reach the scan as a pushed filter (the precondition
    for parquet-mr's bloom row-group skipping)."""
    import os

    from distributed_graph_database_spark.catalog import table
    from distributed_graph_database_spark.sources import formats as fm

    def part_bytes(d):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d)
            if f.startswith("part-")
        )

    twin = str(tmp_path / "nobloom")
    (
        table(spark, sf_oracle, "orders")
        .coalesce(fm.BLOOM_FILES)
        .write.mode("overwrite")
        .option("parquet.enable.dictionary#o_custkey", "false")
        .parquet(twin)
    )
    staged = fm._bloom_dir(spark, sf_oracle)
    assert part_bytes(staged) > part_bytes(twin)

    plan = (
        fm.store_bloom_prune(spark, sf_oracle)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [In(o_custkey" in plan


def test_readable_verdict_exact_past_bigint_overflow(spark):
    """The decimal verdict must stay correct in the regime where
    bigint products would wrap: at w = 10⁸ the 1015·w² term is
    1.015e19 > 2⁶³−1. Pin the column against Fraction arithmetic on
    both sides of the band edge."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from distributed_graph_database_spark.pipeline.text import (
        READ_MIN_FLESCH,
        _readable_verdict,
    )

    cases = [
        (100_000_000, 1, 120_000_000),   # giant doc, clearly unreadable
        (100_000_000, 3_000_000, 120_000_000),
        (10, 1, 12),                     # tiny, readable
        (1_000_000_000_000, 1, 1_000_000_000_000),  # decimal(12) edge
    ]
    df = spark.createDataFrame(cases, "w long, s long, y long")
    got = [
        r.readable
        for r in df.select(
            _readable_verdict(F.col("w"), F.col("s"), F.col("y")).alias(
                "readable"
            )
        ).collect()
    ]
    want = [
        (
            Fraction(206835, 1000)
            - Fraction(1015, 1000) * Fraction(w, s)
            - Fraction(846, 10) * Fraction(y, w)
        )
        >= READ_MIN_FLESCH
        for w, s, y in cases
    ]
    assert got == want


def _clone_sf_with_documents(sf_smoke, tmp_path, docs_pdf):
    """A tmp sf_dir whose documents.parquet is `docs_pdf` and whose
    other tables are symlinks into sf_smoke (the oracle harness
    eagerly binds a view per table)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_smoke):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(sf_smoke, f), os.path.join(d, f))
    pq.write_table(pa.Table.from_pandas(docs_pdf), f"{d}/documents.parquet")
    return d


def test_bpe_keys_agree_on_whitespace_only_documents(spark, sf_smoke, tmp_path):
    """The '' token a whitespace-only doc tokenizes to is filtered on
    BOTH engines (they disagree on its symbol list), so train and
    encode stay at exact parity on a corpus containing empty docs —
    and such docs emit no encode row."""
    import sys

    import pandas as pd

    sys.path.insert(0, "tests")
    from oracle_harness import assert_parity

    from distributed_graph_database_spark.pipeline.text import (
        _oracle_bpe_encode,
        _oracle_bpe_train,
        text_bpe_encode,
        text_bpe_train,
    )

    docs = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": ["", "   ", "ab ab ba", "abab ab"],
            "lang": ["en"] * 4,
            "source": ["src0"] * 4,
            "n_chars": [0, 3, 8, 7],
        }
    )
    d = _clone_sf_with_documents(sf_smoke, tmp_path, docs)
    assert_parity(text_bpe_train(spark, d), _oracle_bpe_train(), d, "bpe_train_empty")
    assert_parity(text_bpe_encode(spark, d), _oracle_bpe_encode(), d, "bpe_encode_empty")
    got = {r.doc_id for r in text_bpe_encode(spark, d).collect()}
    assert got == {2, 3}


def test_linreg_singular_design_yields_null_coefs_both_engines(
    spark, sf_smoke, tmp_path
):
    """Collinear features (dim1 == dim0 for every row) make the normal
    equations singular; both engines must emit NULL coefficients —
    not a NULL-vs-inf divergence."""
    import os
    import sys

    import numpy as np
    import pandas as pd

    sys.path.insert(0, "tests")
    from oracle_harness import assert_parity

    from distributed_graph_database_spark.pipeline.similarity import (
        ORACLE_ML_LINREG_FIT,
        ml_linreg_fit,
    )

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    for f in os.listdir(sf_smoke):
        if f.endswith(".parquet") and f != "embeddings.parquet":
            os.symlink(os.path.join(sf_smoke, f), os.path.join(d, f))
    rng = [float(i % 7) / 7 for i in range(50)]
    emb = pd.DataFrame(
        {
            "vec_id": range(50),
            "embedding": [
                np.array([v, v] + [0.0] * 30, dtype=np.float32)
                for v in rng
            ],
            "label": [i % 3 for i in range(50)],
        }
    )
    emb["label"] = emb["label"].astype("int32")
    pq.write_table(pa.Table.from_pandas(emb), f"{d}/embeddings.parquet")
    res = ml_linreg_fit(spark, d).collect()
    assert all(r.coef is None for r in res)
    assert_parity(ml_linreg_fit(spark, d), ORACLE_ML_LINREG_FIT, d, "linreg_singular")


def test_closeness_matches_python_bfs(spark, sf_smoke):
    """Every closeness column vs an independent Python BFS over the
    collected co-purchase edges: per min-id seed, level counts within
    the BETW_H horizon, the exact integer sums, and the two
    single-division floats."""
    from collections import deque

    from distributed_graph_database_spark.graph import analytics as g

    edges = [
        (r.p1, r.p2)
        for r in g._copurchase_edges(spark, sf_smoke).select("p1", "p2").collect()
    ]
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    seeds = sorted(adj)[: g.BETW_SEEDS]
    want = {}
    for s in seeds:
        dist = {s: 0}
        q = deque([s])
        while q:
            u = q.popleft()
            if dist[u] == g.BETW_H:
                continue
            for w in adj[u]:
                if w not in dist:
                    dist[w] = dist[u] + 1
                    q.append(w)
        reached = {v: d for v, d in dist.items() if d > 0}
        n, sd = len(reached), sum(reached.values())
        hnum = sum(g.CLOSE_LCM // d for d in reached.values())
        want[s] = (n, sd, hnum)
    rows = {r.vid: r for r in g.graph_closeness(spark, sf_smoke).collect()}
    # Exact-integer columns compare exactly; the floats within 1e-6
    # (Python round() is half-even on the binary value, Spark's is
    # HALF_UP on the shortest repr — equality would flake on ties).
    assert {v: (r.n_reached, r.sum_dist, r.harmonic_num) for v, r in rows.items()} == want
    for v, (n, sd, hnum) in want.items():
        assert abs(rows[v].closeness - n / sd) < 1e-6
        assert abs(rows[v].harmonic - hnum / g.CLOSE_LCM) < 1e-6


def test_stream_topk_window_equals_batch_key(spark, sf_smoke):
    """The streaming leaderboard's drained-and-ranked rows must equal
    the batch events_topk_window exactly — window start vs
    date_trunc('hour') agree for hour-aligned tumbling windows, and
    the post-drain rank uses the same (spend DESC, user_id) tiebreak."""
    from distributed_graph_database_spark.pipeline.events import (
        events_topk_window,
    )
    from distributed_graph_database_spark.streaming.events_stream import (
        stream_topk_window,
    )

    got = sorted(map(tuple, stream_topk_window(spark, sf_smoke).collect()))
    want = sorted(map(tuple, events_topk_window(spark, sf_smoke).collect()))
    assert got == want
