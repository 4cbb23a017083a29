"""Round-13 operator laws: incremental dedup composition and
temperature-mixture monotonicity (VERDICT r12 next #6/#7)."""

from __future__ import annotations

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

from distributed_graph_database_spark.catalog import table
from distributed_graph_database_spark.pipeline import clean, dedup


def _u32(doc_id: int, salt: str = "") -> int:
    return int(hashlib.md5(f"{salt}{doc_id}".encode()).hexdigest()[:8], 16)


def _shingle_set(text: str) -> frozenset[str]:
    toks = text.strip().lower().split()
    k = dedup.SHINGLE_K
    if len(toks) >= k:
        return frozenset(
            " ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)
        )
    return frozenset([" ".join(toks)])


def _jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter) if (a or b) else 0.0


def _load_docs(spark, sf_dir):
    rows = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()
    return {
        r.doc_id: (r.source, _shingle_set(r.text), _u32(r.doc_id) % 100)
        for r in rows
    }


def test_dedup_incremental_matches_independent_greedy(spark, sf_smoke):
    """The key's per-source report equals an independent Python
    implementation of the greedy rule (delta doc dropped iff some
    predecessor — any base doc, else a lower-id delta doc — has true
    Jaccard >= T)."""
    docs = _load_docs(spark, sf_smoke)
    base = {d for d, (_, _, b) in docs.items() if b < dedup.INCR_BASE_PCT}
    delta = sorted(set(docs) - base)
    want = defaultdict(lambda: [0, 0, 0, 0])  # n_delta, dup_base, dup_delta, kept
    T = dedup.NEAR_JACCARD_T
    for x in delta:
        src, shx, _ = docs[x]
        want[src][0] += 1
        if any(_jaccard(shx, docs[y][1]) >= T for y in base):
            want[src][1] += 1
        elif any(
            _jaccard(shx, docs[y][1]) >= T for y in delta if y < x
        ):
            want[src][2] += 1
        else:
            want[src][3] += 1
    got = {
        r.source: [r.n_delta, r.n_dup_base, r.n_dup_delta, r.n_kept]
        for r in dedup.dedup_incremental(spark, sf_smoke).collect()
    }
    assert got == {s: v for s, v in want.items()}, (got, dict(want))
    # the split is genuinely exercised: some delta exists and at least
    # one delta doc is a duplicate on the fixed testdata
    assert sum(v[0] for v in want.values()) > 0
    assert sum(v[1] + v[2] for v in want.values()) > 0, (
        "testdata regenerated with no cross-release dups — weaken note"
    )


def test_dedup_incremental_composes_to_full_corpus_greedy(spark, sf_smoke):
    """The composition law the key exists for: greedy full-corpus
    dedup under the (release, doc_id) priority order ==
    (greedy dedup of base alone) ∪ (delta docs the incremental key
    keeps). This is what lets releases compose without re-deduping
    history."""
    docs = _load_docs(spark, sf_smoke)
    T = dedup.NEAR_JACCARD_T
    order = sorted(
        docs, key=lambda d: (docs[d][2] >= dedup.INCR_BASE_PCT, d)
    )  # all base (release 0) before all delta (release 1), id within
    full_survivors = {
        x
        for i, x in enumerate(order)
        if not any(
            _jaccard(docs[x][1], docs[y][1]) >= T for y in order[:i]
        )
    }
    base = [d for d in order if docs[d][2] < dedup.INCR_BASE_PCT]
    base_survivors = {
        x
        for i, x in enumerate(base)
        if not any(_jaccard(docs[x][1], docs[y][1]) >= T for y in base[:i])
    }
    # incremental kept per the same greedy rule (validated against the
    # key itself in the test above)
    delta = [d for d in order if docs[d][2] >= dedup.INCR_BASE_PCT]
    inc_kept = {
        x
        for x in delta
        if not any(_jaccard(docs[x][1], docs[y][1]) >= T for y in base)
        and not any(
            _jaccard(docs[x][1], docs[y][1]) >= T for y in delta if y < x
        )
    }
    assert base_survivors | inc_kept == full_survivors


def test_dedup_incremental_truth_derivation_equals_delta_generator(
    spark, sf_oracle
):
    """r13 optimization guard: the declared key (verified pairs derived
    by pair-set algebra over the session-shared corpus-wide truth
    table) returns exactly the delta-sized generator's report — the
    two forms implement one greedy rule, so every (source, counts) row
    must match."""
    got = {
        r.source: (r.n_delta, r.n_dup_base, r.n_dup_delta, r.n_kept)
        for r in dedup.dedup_incremental(spark, sf_oracle).collect()
    }
    delta = dedup._dedup_incremental_delta(spark, sf_oracle)
    want = {
        r.source: (r.n_delta, r.n_dup_base, r.n_dup_delta, r.n_kept)
        for r in delta.collect()
    }
    assert got == want
    # The delta-sized generator is not a declared key, so the global
    # plan audit (test_plan_hygiene) does not reach it: same bans here.
    plan = delta._jdf.queryExecution().executedPlan().toString()
    for banned in ("CartesianProduct", "BatchEvalPython", "ArrowEvalPython"):
        assert banned not in plan, f"{banned}\n{plan}"


def test_corpus_mix_temperature_monotone_and_exact(spark, sf_oracle):
    """Monotonicity-in-alpha law (VERDICT r12 #7): with ONE shared
    draw, keep sets nest as alpha decreases, so per-language n_kept is
    non-decreasing in alpha; alpha=1 keeps everything; the smallest
    language is always fully kept; and the key's counts equal an
    independent exact-integer membership computation."""
    rows = table(spark, sf_oracle, "documents").select("doc_id", "lang").collect()
    langs = defaultdict(list)
    for r in rows:
        langs[r.lang].append(r.doc_id)
    n = {lg: len(ids) for lg, ids in langs.items()}
    n_min = min(n.values())
    q = clean.TMIX_ALPHA_DEN
    kept_sets = {}
    for p in clean.TMIX_ALPHAS:
        kept_sets[p] = {
            lg: {
                d
                for d in ids
                if (int(hashlib.md5(
                    f"{clean._TMIX_SALT}{d}".encode()
                ).hexdigest()[:4], 16)) ** q * n[lg] ** (q - p)
                < (2 ** (16 * q)) * n_min ** (q - p)
            }
            for lg, ids in langs.items()
        }
    got = defaultdict(dict)
    for r in clean.corpus_mix_temperature(spark, sf_oracle).collect():
        got[r.lang][round(r.alpha * q)] = (r.n_total, r.n_kept)
    for lg, ids in langs.items():
        for p in clean.TMIX_ALPHAS:
            assert got[lg][p] == (n[lg], len(kept_sets[p][lg])), (lg, p)
        # nesting: lower alpha keeps a subset
        for p in clean.TMIX_ALPHAS[:-1]:
            assert kept_sets[p][lg] <= kept_sets[p + 1][lg], (lg, p)
        # alpha = 1 keeps everything
        assert len(kept_sets[q][lg]) == n[lg], lg
    # the smallest language is always fully kept at every alpha
    lg_min = min(n, key=lambda lg: (n[lg], lg))
    for p in clean.TMIX_ALPHAS:
        assert len(kept_sets[p][lg_min]) == n[lg_min], p
    # the curve is non-degenerate on testdata: the largest language is
    # genuinely downsampled at the lowest temperature
    lg_max = max(n, key=lambda lg: (n[lg], lg))
    assert len(kept_sets[1][lg_max]) < n[lg_max], (
        "testdata lang counts became uniform — the alpha curve is vacuous"
    )
