"""Deduplication operators over `documents` — exact, MinHash-LSH,
SimHash, and blocked n-gram Jaccard (BASELINE.json north star).

100 TB design notes (the whole point of each shape):
- `dedup_exact`: one hash-groupBy. Map-side partial agg means the
  shuffle carries (hash, min_id, count) partials, never text. The md5
  key shards uniformly — no skew regardless of document skew.
- `dedup_near` (MinHash+LSH banding): shingle → H seeded min-hashes →
  B band keys → explode(B) → groupBy(band). Candidate pairs only form
  inside a band bucket, so the join is |bucket|²-bounded, never all-
  pairs; a cartesian product never appears in the plan (tested). The
  exact-Jaccard verification filter runs only on candidates. The
  DECLARED key is the audit form (r11): one hash-checked row signing
  precision 1 and the ≥0.8 recall floor against the corpus-wide exact
  truth; the pair detail stays available as `dedup_near_pairs`.
- `dedup_simhash`: 32-bit simhash from md5 token hashes (md5 so the
  oracle can recompute it bit-for-bit in DuckDB). Hamming-ball lookups
  at scale would bucket on simhash prefixes; here we emit the sketch.
- `dedup_ngram`: the exact baseline, *blocked* by `source` so the
  quadratic term is per-block (the classic blocking-key trade: at
  100 TB you block on a cheap partition key, never the full corpus).

All thresholds/seeds are module constants — single source of truth
interpolated into both the Spark plan and the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import shared
from ..catalog import table
from .text import INCR_BASE_PCT, _norm_tokens

# MinHash configuration: H hashes in B bands of R rows (H = B*R).
MINHASH_BANDS = 8
MINHASH_ROWS = 2
MINHASH_H = MINHASH_BANDS * MINHASH_ROWS
SHINGLE_K = 3          # word 3-grams
NEAR_JACCARD_T = 0.5   # exact verification threshold on candidates
NGRAM_JACCARD_T = 0.5  # blocked-exact variant threshold
# Corpus-wide df cap for dedup_near's exact-truth candidate join (the
# audit leg): same stop-shingle rationale as NGRAM_DF_CAP below but
# over the UNBLOCKED corpus, so it is set higher — measured corpus-wide
# max df is 7 at sf0.01 and 25 at sf0.1 (far below the cap, so the
# capped candidate set is provably complete on testdata and the
# uncapped DuckDB oracle matches exactly; pinned in tests).
NEAR_TRUTH_DF_CAP = 256
# Document-frequency cap for dedup_ngram's shingle intersect join: a
# shingle appearing in > NGRAM_DF_CAP docs of one source block is a
# stop-shingle ("of the and") carrying no discriminative signal, and
# its bucket contributes df² pairs to the join. Dropping them bounds
# the join at CAP·|shingles| instead of Σ df² (which at corpus scale
# has 10¹²-pair buckets). Chosen far above any testdata df (max 3 at
# sf0.01, 6 at sf0.1 — measured) so fixture output is byte-identical
# to the uncapped oracle.
NGRAM_DF_CAP = 64


def _shingles(tokens: F.Column) -> F.Column:
    """Word K-grams as strings; docs shorter than K shingle to their
    whole token string (so tiny docs still participate)."""
    n = F.size(tokens)
    return F.when(
        n >= SHINGLE_K,
        F.transform(
            F.sequence(F.lit(1), n - (SHINGLE_K - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens, i + j) for j in range(SHINGLE_K)]
            ),
        ),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized text: keep-first (min doc_id) per
    content hash → (doc_id, n_copies). GroupBy-min instead of the
    window-keep-first in SURVEY.md:202: same result, one shuffle of
    tiny partials, no per-group sort."""
    norm = F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "))
    return (
        table(spark, sf_dir, "documents")
        .select(F.col("doc_id"), F.md5(norm).alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )


ORACLE_DEDUP_EXACT = r"""
SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g')))
"""


def _hashed_shingle_docs(docs: DataFrame, keep: list[str]) -> DataFrame:
    """(*keep, sh: array<bigint>): distinct hashed word-K-gram shingles
    per document.

    The token array is materialized (lazy localCheckpoint) BEFORE the
    n-gram transform: `element_at` inside a HOF lambda re-evaluates its
    argument expression per element, so shingling straight off
    `split()` re-runs the regex split O(K·|shingles|) times per doc —
    measured 20x slower at sf0.1. At 100 TB the tokenized corpus is a
    standard materialized intermediate (here executor-local storage)."""
    toks = docs.select(
        *keep, _norm_tokens().alias("toks")
    ).localCheckpoint(eager=False)
    return toks.select(
        *keep,
        F.array_distinct(
            F.transform(_shingles(F.col("toks")), lambda s: F.xxhash64(s))
        ).alias("sh"),
    )


def _exploded_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, h): one row per distinct hashed shingle per document —
    the shared columnar substrate for both the MinHash sketches and
    the exact verification intersects."""
    return _hashed_shingle_docs(docs, ["doc_id"]).select(
        "doc_id", F.explode("sh").alias("h")
    )


def _minhash_bands(ex: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) from the exploded shingle-hash table:
    H seeded min-hashes as codegen'd MIN aggregates (seeded xxhash64
    works correctly at top level — NOT inside transform lambdas, where
    different seed literals evaluate identically; hence the columnar
    shape on top of explode, which also beats H interpreted array
    traversals per row by ~5x)."""
    mins = ex.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("h"), F.lit(i))).alias(f"m{i}")
            for i in range(MINHASH_H)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[F.col(f"m{b * MINHASH_ROWS + r}") for r in range(MINHASH_ROWS)],
                    F.lit(b),
                ).alias("band_key"),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return mins.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def _near_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared (doc_id, h) exploded-shingle substrate for the near-dup
    family — built once per (session, sf_dir); the LSH pair pipeline,
    the exact truth leg, and the audit verify all read the same
    checkpoint (at 100 TB: one materialized ingest table).

    The source scan is spread to cluster parallelism first (r13; the
    r12 `_spread_scan` finding applied to the DOCUMENT side): the
    generated single-file sf1/sf10 layouts plan the documents scan as
    1–3 parquet row-group splits, and since the checkpointed substrate
    inherits the builder's partitioning, every downstream shingle
    self-join and verify aggregate would serialize on those few tasks
    (observed: the sf1 truth build 18+ min deep on 3 of 32 cores). At
    100 TB the scan arrives in thousands of splits and the spread is
    a no-op."""
    from .similarity import _spread_scan

    return shared(
        spark,
        sf_dir,
        "near_shingles",
        lambda: _exploded_shingles(
            _spread_scan(
                spark,
                table(spark, sf_dir, "documents").select("doc_id", "text"),
            )
        ),
    )


def _verified_pairs(cand: DataFrame, ex: DataFrame) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs: |∩| via a
    candidate-restricted equi-join on the exploded shingle table (route
    each pair through the table twice — doc_a side, then doc_b side
    keyed on the same shingle hash — and count matches; no per-pair
    array operations anywhere), |∪| = |a|+|b|−|∩|. Returns
    (doc_a, doc_b, jaccard) with true Jaccard ≥ NEAR_JACCARD_T."""
    exa = ex.select(F.col("doc_id").alias("doc_a"), "h")
    exb = ex.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (
        cand.join(exa, "doc_a")
        .join(exb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_tail(inter, ex, NEAR_JACCARD_T)


def _jaccard_tail(inter: DataFrame, ex: DataFrame, t: float) -> DataFrame:
    """(doc_a, doc_b, n_inter) → (doc_a, doc_b, jaccard ≥ t) with
    |∪| = |a|+|b|−|∩| from the UNCAPPED shingle-set sizes — the shared
    tail of every exact-verify shape."""
    sizes = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("nsh_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= t)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached pair DETAIL surface (see cache.shared): the LSH pair set,
    reused by the declared `dedup_near` audit and `dedup_near_recall`
    within a session. Not itself a declared key since r11 — its
    rows hinge on Spark's seeded xxhash64, which no SQL oracle can
    replay; the declared key is the audit form below."""
    return shared(
        spark, sf_dir, "dedup_near_pairs", lambda: _dedup_near(spark, sf_dir)
    )


def _dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified:
    candidates = pairs sharing any band bucket; output = candidates
    whose true shingle-Jaccard ≥ NEAR_JACCARD_T →
    (doc_a, doc_b, jaccard). Precision 1.0 by construction (every
    emitted pair passed the exact filter); recall < 1 is the LSH
    trade — both contracts are SIGNED by the `dedup_near` audit key.

    One exploded (doc_id, shingle-hash) table feeds both stages: MIN
    aggregates build the sketches, and the verification |∩| is a
    candidate-restricted equi-join count on the same table."""
    ex = _near_shingles(spark, sf_dir)
    bands = _minhash_bands(ex)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verified_pairs(cand, ex)


def _near_truth(
    spark: SparkSession, sf_dir: str, extra_cand: DataFrame | None = None
) -> DataFrame:
    """Corpus-wide EXACT truth pairs (doc_a, doc_b, jaccard ≥ T): the
    unblocked counterpart of dedup_ngram that the dedup_near audit
    measures LSH against. Candidates = pairs sharing ≥1 non-stop
    shingle (df ≤ NEAR_TRUTH_DF_CAP — bounds the equi-join at
    CAP·|shingles| rows instead of Σ df², the dedup_ngram stop-shingle
    guard applied corpus-wide) ∪ `extra_cand` (the audit passes the
    LSH-found pairs here), then the same UNCAPPED exact verify as the
    LSH side, so both legs measure the identical Jaccard.

    The extra_cand union is what keeps the audit honest AT SCALE (r11
    review finding): a boilerplate family of >CAP near-identical docs
    has ALL its shingles hot, so the df-capped blocking alone would
    drop those pairs from truth and an LSH-found member would
    misread as a precision breach. Folding found pairs into candidacy
    re-verifies them with the exact kernel instead — they are genuine
    truth members (the uncapped oracle always contained them), so
    precision_ok measures exactly 'every emitted pair has true J ≥ T'
    and n_true only gains exactness. Pure blocking-escape on the
    RECALL side (a true pair found by neither leg) stays the
    documented rarity; on testdata the cap never binds at all (max
    corpus-wide df 25 at sf0.1 vs cap 256, pinned in tests)."""
    ex = _near_shingles(spark, sf_dir)
    hot = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NEAR_TRUTH_DF_CAP)
        .select("h")
    )
    capped = ex.join(F.broadcast(hot), "h", "left_anti")
    a, b = capped.alias("a"), capped.alias("b")
    # Single-pass verify (r14, guide §1.2/§2.4): the candidate
    # self-join emits exactly one row per NON-HOT co-occurring shingle
    # of each pair, so counting those rows directly IS the df-capped
    # intersection size — the dedup_ngram shape. The old form threw
    # that information away (distinct to a pair set) and re-derived
    # |∩| by routing every candidate pair through the full shingle
    # table twice: one extra pair-set shuffle plus a join that
    # re-exploded |pairs|·n̄sh rows. Exactness is restored by two
    # correction legs, both empty/tiny on testdata and bounded at
    # scale:
    #   (1) hot-shingle co-occurrences (the capped join cannot see
    #       them) are counted by the OLD candidate-restricted route,
    #       but over the hot rows only — |hot rows| ≪ |ex| and the
    #       probe is restricted to already-found pairs, so the leg
    #       never reintroduces Σ df²;
    #   (2) extra_cand pairs absent from the capped join (possible
    #       only when ALL their shared shingles are hot) enter with a
    #       zero base count.
    # n_inter = n_capped + n_hot partitions the true intersection
    # exactly (every shared shingle is hot xor non-hot), so the pair
    # universe and every Jaccard are unchanged.
    base = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_capped"))
    )
    if extra_cand is not None:
        extra_only = (
            extra_cand.select("doc_a", "doc_b")
            .distinct()
            .join(base, ["doc_a", "doc_b"], "left_anti")
            .withColumn("n_capped", F.lit(0).cast("bigint"))
        )
        base = base.unionByName(extra_only)
    exh = ex.join(F.broadcast(hot), "h", "semi")
    ha = exh.select(F.col("doc_id").alias("doc_a"), "h")
    hb = exh.select(F.col("doc_id").alias("doc_b"), "h")
    hotc = (
        base.select("doc_a", "doc_b")
        .join(ha, "doc_a")
        .join(hb, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_hot"))
    )
    inter = base.join(hotc, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        (F.col("n_capped") + F.coalesce("n_hot", F.lit(0))).alias("n_inter"),
    )
    return _jaccard_tail(inter, ex, NEAR_JACCARD_T)


def _near_truth_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shared(
        spark,
        sf_dir,
        "dedup_near_truth",
        lambda: _near_truth(
            spark, sf_dir, extra_cand=dedup_near_pairs(spark, sf_dir)
        ),
    )


def dedup_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup, AUDIT form (graduated r11 from rows-only
    to hash-checked — the store_stats_approx/ql_approx_quantiles
    recipe, closing the driver's last non-hashed key): one row
    (n_true, precision_ok, recall_ok) where

    - n_true     = corpus-wide EXACT count of pairs with shingle-set
                   Jaccard ≥ NEAR_JACCARD_T (fully SQL-replayable —
                   the oracle replays it via the shared-shingle
                   candidate join, quadratic-safe at oracle SF);
    - precision_ok = the LSH pipeline emitted NO pair outside the
                   exact truth set (anti-join count == 0) — precision
                   1 is dedup_near's construction contract (every
                   emitted pair passes the exact verify), now signed;
    - recall_ok  = LSH surfaced ≥ NEAR_RECALL_FLOOR (80%) of the
                   corpus-wide truth (cross-multiplied integers, no
                   float compare). Banding at 8×2 detects J = T pairs
                   w.p. ≥ 0.90 and J ≥ 0.8 pairs w.p. ≥ 0.9997;
                   measured corpus-wide recall on testdata is 1.0 at
                   sf0.001/0.01/0.1 (min true-pair J = 0.8), pinned
                   in tests/test_dedup.py.

    The oracle states TRUE for both booleans — a hash mismatch on this
    key means the LSH breached precision or the recall floor (a
    sketch-quality regression), NOT a cross-engine divergence (the
    ql_approx_quantiles triage note). The raw pair list stays available
    as `dedup_near_pairs` (rows-only by nature: seeded xxhash64)."""
    f = dedup_near_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    t = _near_truth_cached(spark, sf_dir).select("doc_a", "doc_b")
    stats = t.join(f, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_true"),
        # SUM over zero rows is NULL → coalesce so an empty truth set
        # yields the vacuous-truth TRUE the oracle states (0 ≥ 0)
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
    )
    bad = f.join(t, ["doc_a", "doc_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_bad")
    )
    # two 1-row aggregates → broadcast nested-loop of a single row
    # (the sanctioned 1-row crossJoin shape, per test_plan_hygiene)
    return stats.crossJoin(F.broadcast(bad)).select(
        F.col("n_true").cast("bigint").alias("n_true"),
        (F.col("n_bad") == F.lit(0)).alias("precision_ok"),
        (
            F.col("n_hit") * NEAR_RECALL_FLOOR_DEN
            >= F.col("n_true") * NEAR_RECALL_FLOOR_NUM
        ).alias("recall_ok"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document from md5 token hashes: bit b of the
    sketch = sign of Σ_tokens (±1 by bit b of md5_32(token)). md5 keeps
    it bit-identical in DuckDB → exact oracle (rare for simhash).
    Output: (doc_id, simhash).

    Cached entry point (cache.shared, the mm_phash feature-table
    rule): the sketch is an ingest-time feature consumed by TWO
    declared keys — this one and mm_clip_filter's text side — so the
    vote scan runs once per (session, sf_dir), billed to bench setup
    (`simhash_features`); both consumers read the checkpoint."""
    return shared(
        spark, sf_dir, "dedup_simhash",
        lambda: _dedup_simhash(spark, sf_dir),
    )


def _dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    tokens = _norm_tokens()
    # Columnar vote shape: explode token hashes to rows, then 32
    # codegen'd conditional SUMs with map-side partial aggregation —
    # measured ~2x faster than per-row higher-order aggregates (HOF
    # lambdas are interpreted per element, never codegen'd), and the
    # shuffle carries only 32 partial counters per doc. The md5/conv
    # subtree is evaluated exactly once per token.
    exploded = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(
            F.transform(
                tokens,
                lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint"),
            )
        ).alias("h"),
    )
    votes = exploded.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(32)
        ]
    )
    sim = None
    for b in range(32):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(2 ** b).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sim = bit if sim is None else sim + bit
    return votes.select("doc_id", sim.alias("simhash"))


def _oracle_simhash() -> str:
    votes = ",\n    ".join(
        "LIST_SUM(LIST_TRANSFORM(h32, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        "THEN 1 ELSE -1 END)) AS v{b}".format(b=b)
        for b in range(32)
    )
    sim = " + ".join(f"(CASE WHEN v{b} > 0 THEN {2**b} ELSE 0 END)" for b in range(32))
    return rf"""
WITH tok AS (
  SELECT doc_id,
         LIST_TRANSFORM(regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
                        t -> CAST(('0x' || substr(md5(t), 1, 8)) AS BIGINT)) AS h32
  FROM documents
),
v AS (
  SELECT doc_id,
    {votes}
  FROM tok
)
SELECT doc_id, CAST({sim} AS BIGINT) AS simhash FROM v
"""


def _capped_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, source, h): exploded hashed shingles with stop-shingles
    removed — any (source, h) whose document frequency exceeds
    NGRAM_DF_CAP is dropped BEFORE the self-join, so no join bucket
    ever exceeds NGRAM_DF_CAP rows. The hot set is a tiny aggregate
    (df > CAP survivors only) and broadcasts into a left_anti join:
    one extra groupBy, no extra shuffle of the big side at scale."""
    ex0 = _hashed_shingle_docs(docs, ["doc_id", "source"]).select(
        "doc_id", "source", F.explode("sh").alias("h")
    ).localCheckpoint(eager=True)
    hot = (
        ex0.groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NGRAM_DF_CAP)
        .select("source", "h")
    )
    return ex0.join(F.broadcast(hot), ["source", "h"], "left_anti")


def dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry point (see cache.shared): the truth pair set is
    reused by dedup_near_recall and dedup_clusters within a session."""
    return shared(spark, sf_dir, "dedup_ngram", lambda: _dedup_ngram(spark, sf_dir))


def _dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard: pairs within the same `source`
    block with word-3-gram shingle-set Jaccard ≥ NGRAM_JACCARD_T →
    (doc_a, doc_b, jaccard) — the exact counterpart of `dedup_near`'s
    measure, so LSH recall is directly auditable against this key.

    Per-pair cost engineering (the pair join is the quadratic term):
    shingles are hashed to bigints up front (cheap 64-bit compares in
    the intersect; Jaccard is size-based so values are unchanged —
    the oracle computes the same sizes over string shingles), and
    |∪| = |a|+|b|−|∩| avoids allocating a merged array per pair.
    Stop-shingles with df > NGRAM_DF_CAP are dropped up front (from
    both the intersect AND the set sizes, so the measure stays a true
    Jaccard over the capped shingle sets), bounding the self-join at
    CAP·|shingles| pairs — the uncapped Σ df² blows up on corpus-scale
    stop-shingle buckets. Testdata dfs are far below the cap, so the
    uncapped DuckDB oracle matches exactly."""
    from .similarity import _spread_scan

    # Spread the under-split single-file scan before the explode so
    # the checkpointed shingle table (and the Σ|bucket|² pair join it
    # feeds) runs at cluster parallelism — see _near_shingles (r13).
    ex = _capped_shingles(
        _spread_scan(
            spark,
            table(spark, sf_dir, "documents").select(
                "doc_id", "source", "text"
            ),
        )
    ).localCheckpoint(eager=True)

    # Intersection sizes via explode + equi-join on the shingle hash:
    # |∩| = COUNT of co-occurring shingles per pair. No per-pair array
    # work at all — the cost is Σ_bucket |bucket|² over (source,
    # shingle) buckets, df-capped per above (measured 4x vs
    # array_intersect here even before the cap). Zero-overlap pairs
    # never materialize (their Jaccard is 0 < T).
    docs = ex.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nsh"))
    ea, eb = ex.alias("ea"), ex.alias("eb")
    inter = (
        ea.join(
            eb,
            (F.col("ea.source") == F.col("eb.source"))
            & (F.col("ea.h") == F.col("eb.h"))
            & (F.col("ea.doc_id") < F.col("eb.doc_id")),
        )
        .groupBy(
            F.col("ea.doc_id").alias("doc_a"), F.col("eb.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = docs.select(F.col("doc_id").alias("doc_a"), F.col("nsh").alias("nsh_a"))
    nb = docs.select(F.col("doc_id").alias("doc_b"), F.col("nsh").alias("nsh_b"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_inter")
                / (F.col("nsh_a") + F.col("nsh_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= NGRAM_JACCARD_T)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# DuckDB builds the identical word-3-gram shingle sets (1-based
# inclusive list slicing: t[i:i+2] is 3 tokens) over strings; sizes —
# and therefore Jaccard — match the hashed Spark variant exactly.
ORACLE_DEDUP_NGRAM = rf"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, source,
         LIST_DISTINCT(
           CASE WHEN LEN(toks) >= {SHINGLE_K}
                THEN list_transform(range(1, LEN(toks) - {SHINGLE_K - 2}),
                                    i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS sh,
         LEN(LIST_DISTINCT(
           CASE WHEN LEN(toks) >= {SHINGLE_K}
                THEN list_transform(range(1, LEN(toks) - {SHINGLE_K - 2}),
                                    i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END)) AS nsh
  FROM t
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         LEN(LIST_INTERSECT(a.sh, b.sh))
           / CAST(a.nsh + b.nsh - LEN(LIST_INTERSECT(a.sh, b.sh)) AS DOUBLE) AS jaccard
  FROM w a JOIN w b ON a.source = b.source AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard
FROM pairs WHERE jaccard >= {NGRAM_JACCARD_T}
"""


# LSH banding (8 bands × 2 rows) at the shared T=0.5 threshold has
# detection probability 1−(1−J²)⁸ ≥ 0.9 at J=T and → 1 above it; the
# SIGNED floor leaves margin: recall ≥ 0.8, cross-multiplied as
# 5·n_found ≥ 4·n_true (measured recall on the fixed testdata is 1.0,
# pinned in tests/test_dedup.py).
NEAR_RECALL_FLOOR_NUM = 4
NEAR_RECALL_FLOOR_DEN = 5


def dedup_near_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of MinHash-LSH against the blocked-exact truth
    at the shared threshold (VERDICT r2 #5), SELF-AUDITING (graduated
    r10 from rows-only to hash-checked): of the same-source pairs
    dedup_ngram proves have Jaccard ≥ T, the LSH banding must surface
    at least NEAR_RECALL_FLOOR (80%) → one row (n_true, recall_ok).
    The truth side is restricted to dedup_ngram's universe
    (same-source pairs) because that is the only exact pair set a
    scale-safe operator can produce; dedup_near itself is corpus-wide.

    The truth COUNT is fully SQL-replicable (dedup_ngram's oracle
    counted), so the DuckDB twin replays n_true and states `TRUE AS
    recall_ok` — a banding regression (fewer bands, broken seed
    plumbing, a lost band column) now flips a hashed bit. The RAW
    found-pair count still hinges on Spark's seeded xxhash64, which
    DuckDB cannot replay; the exact measured recall stays pinned by
    tests at sf0.01 (deterministic seeds ⇒ deterministic recall on
    fixed data) — the store_stats_approx graduation, applied to the
    recall family."""
    truth = dedup_ngram(spark, sf_dir).select("doc_a", "doc_b")
    found = dedup_near_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("hit")
    )
    return truth.join(found, ["doc_a", "doc_b"], "left").agg(
        F.count(F.lit(1)).alias("n_true"),
        # SUM over zero rows is NULL — coalesce so an empty truth set
        # yields the vacuous-truth TRUE the oracle states (0 ≥ 0),
        # not a NULL that would hash-diverge (r10 review finding)
        (
            F.coalesce(F.sum(F.coalesce("hit", F.lit(0))), F.lit(0))
            * NEAR_RECALL_FLOOR_DEN
            >= F.count(F.lit(1)) * NEAR_RECALL_FLOOR_NUM
        ).alias("recall_ok"),
    )


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: connected components over the
    blocked-exact pair graph → (doc_id, cluster_id) for every doc in
    at least one pair, cluster_id = min doc_id of the component. The
    step a real dedup pipeline needs after pair generation — picking
    ONE canonical representative per duplicate *group* (pairs alone
    over-delete on A~B~C chains where A~C doesn't pass the threshold).

    Composition showcase: the pair table becomes a graph and the
    engine's own large-star/small-star operator (graph/traversal.py)
    resolves it in O(log d) rounds — dedup clustering at 100 TB IS a
    connected-components problem, and the oracle replays it as a
    recursive CTE over the same SQL-expressible pair set."""
    from ..graph import traversal

    pairs = dedup_ngram(spark, sf_dir).select("doc_a", "doc_b")
    edges_sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    return traversal.connected_components(spark, edges_sym).select(
        F.col("vid").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def _oracle_dedup_clusters() -> str:
    return f"""
WITH RECURSIVE pairs AS ({ORACLE_DEDUP_NGRAM}),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS vid FROM sym),
walk(vid, lbl) AS (
    SELECT vid, vid FROM verts
    UNION
    SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.vid
)
SELECT CAST(vid AS BIGINT) AS doc_id, CAST(MIN(lbl) AS BIGINT) AS cluster_id
FROM walk GROUP BY vid
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-release) near-dedup — production dedup is
    "new shard vs released base", not corpus-vs-itself (VERDICT r12
    next #6): the corpus splits into a released BASE (md5 buckets
    0-{89}, the corpus_split hash idiom — content-stable, so a doc's
    release is layout/retry-independent) and an incoming DELTA; every
    DELTA doc is checked against the base's stored shingle index and
    against earlier delta docs, and the key reports per source
    (source, n_delta, n_dup_base, n_dup_delta, n_kept).

    Semantics (the decomposable greedy rule): a delta doc is dropped
    iff some PREDECESSOR has true shingle-Jaccard ≥ NEAR_JACCARD_T,
    where predecessors = every base doc (the released base is
    immutable — it always wins) then lower-doc_id delta docs. Dropping
    against the full base — surviving or not — is what makes
    incremental exactly equal to one greedy full-corpus dedup under
    the (release, doc_id) priority order: base survivors depend only
    on base, delta survivors only on (base, earlier delta), so
    releases compose without re-deduping history. The law test
    (tests/test_r13_ops.py) verifies that identity against an
    independent implementation.

    Execution (r13 optimization — the sim_dedup_sweep/corpus_semdedup
    sharing rule): within a session the dedup_near audit has already
    materialized the corpus-wide exact truth pair table
    (_near_truth_cached, a named bench setup item), and incremental's
    verified pair set is pure PAIR-SET ALGEBRA over it — symmetrize
    the (doc_a < doc_b, jaccard ≥ T) rows and keep (a, b) where b is
    delta and a precedes b (a base, or a lower-id delta). So the
    declared key performs ZERO additional shingle work: one release-
    flag projection of documents plus two broadcast-sized joins on the
    pair table (measured 6.2 s → 0.4 s steady-state at sf0.1, same
    rows/hash). The standalone DELTA-SIZED generator — candidates =
    delta shingles vs the stored df-capped index, |base|²-free, the
    shape a production ingest runs when no corpus-wide audit table
    exists — is kept verbatim as `_dedup_incremental_delta`
    (equality-law-tested in tests/test_r13_ops.py)."""
    t = _near_truth_cached(spark, sf_dir).select("doc_a", "doc_b")
    sym = t.unionByName(
        t.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    rel = _incr_rel(spark, sf_dir)
    flags = rel.select("doc_id", "is_base")
    ver = (
        sym.join(
            flags.select(
                F.col("doc_id").alias("doc_a"),
                F.col("is_base").alias("a_base"),
            ),
            "doc_a",
        )
        .join(
            # Delta-only broadcast (r14, ADVICE r13): the b side keeps
            # only delta rows, so broadcasting the pre-filtered id set
            # ships |delta| ids instead of a corpus-sized flag
            # projection — the inner join IS the ¬b_base filter.
            F.broadcast(
                flags.filter(~F.col("is_base")).select(
                    F.col("doc_id").alias("doc_b")
                )
            ),
            "doc_b",
        )
        .filter(F.col("a_base") | (F.col("doc_a") < F.col("doc_b")))
    )
    st = ver.groupBy("doc_b").agg(
        F.max(F.col("a_base").cast("int")).alias("any_base")
    )
    return _incr_report(rel, st)


def _incr_rel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, is_base) release-flag projection — the md5
    split both incremental forms and text_novelty share."""
    from .clean import _md5_u32

    return (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            (_md5_u32() % 100 < INCR_BASE_PCT).alias("is_base"),
        )
        .localCheckpoint(eager=True)  # 3 narrow cols, read 2-3× below
    )


def _incr_report(rel: DataFrame, st: DataFrame) -> DataFrame:
    """Per-source (n_delta, n_dup_base, n_dup_delta, n_kept) tail
    shared by the declared key and the delta-sized generator."""
    delta = rel.filter(~F.col("is_base")).select(
        F.col("doc_id").alias("doc_b"), "source"
    )
    dup_base = F.col("any_base") == 1
    dup_delta = F.col("any_base") == 0
    return (
        delta.join(st, "doc_b", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_delta"),
            F.sum(F.when(dup_base, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_base"),
            F.sum(F.when(dup_delta, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_delta"),
            F.sum(F.when(F.col("any_base").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def _dedup_incremental_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The delta-sized candidate generator (the original declared
    shape, kept as the production-ingest form): candidates join
    the DELTA's shingles against the stored df-capped index
    (delta-sized × cap work, never |base|²), then the same uncapped
    exact verify. Base is scanned once; no base×base pairs ever
    form."""
    rel = _incr_rel(spark, sf_dir)
    ex = _near_shingles(spark, sf_dir)
    hot = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > NEAR_TRUTH_DF_CAP)
        .select("h")
    )
    capped = ex.join(F.broadcast(hot), "h", "left_anti").join(
        rel.select("doc_id", "is_base"), "doc_id"
    )
    y, x = capped.alias("y"), capped.alias("x")
    # ordered candidates: x is a DELTA doc, y precedes x
    cand = (
        y.join(
            x,
            (F.col("y.h") == F.col("x.h"))
            & (~F.col("x.is_base"))
            & (
                F.col("y.is_base")
                | (F.col("y.doc_id") < F.col("x.doc_id"))
            ),
        )
        .select(
            F.col("y.doc_id").alias("doc_a"),
            F.col("x.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ver = _verified_pairs(cand, ex)
    # per delta doc: any base predecessor match beats delta matches
    st = (
        ver.join(
            rel.select(F.col("doc_id").alias("doc_a"), "is_base"), "doc_a"
        )
        .groupBy("doc_b")
        .agg(F.max(F.col("is_base").cast("int")).alias("any_base"))
    )
    return _incr_report(rel, st)


ORACLE_DEDUP_INCREMENTAL = rf"""
WITH t AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 < {INCR_BASE_PCT} AS is_base,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, source, is_base,
         LIST_DISTINCT(
           CASE WHEN LEN(toks) >= {SHINGLE_K}
                THEN list_transform(range(1, LEN(toks) - {SHINGLE_K - 2}),
                                    i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM t
),
e AS (SELECT doc_id, is_base, UNNEST(sh) AS h FROM w),
i AS (
  SELECT y.doc_id AS doc_a, x.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM e y JOIN e x ON y.h = x.h
   AND NOT x.is_base
   AND (y.is_base OR y.doc_id < x.doc_id)
  GROUP BY 1, 2
),
p AS (
  SELECT i.doc_a, i.doc_b,
         i.n_inter / CAST(LEN(wa.sh) + LEN(wb.sh) - i.n_inter AS DOUBLE)
           AS jaccard,
         wa.is_base AS a_base
  FROM i
  JOIN w wa ON wa.doc_id = i.doc_a
  JOIN w wb ON wb.doc_id = i.doc_b
),
st AS (
  SELECT doc_b, MAX(CASE WHEN a_base THEN 1 ELSE 0 END) AS any_base
  FROM p WHERE jaccard >= {NEAR_JACCARD_T}
  GROUP BY doc_b
)
SELECT w.source,
       CAST(COUNT(*) AS BIGINT) AS n_delta,
       CAST(SUM(CASE WHEN st.any_base = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_base,
       CAST(SUM(CASE WHEN st.any_base = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_delta,
       CAST(SUM(CASE WHEN st.any_base IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept
FROM w LEFT JOIN st ON st.doc_b = w.doc_id
WHERE NOT w.is_base
GROUP BY w.source
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "dedup_near": dedup_near,
    "dedup_near_recall": dedup_near_recall,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram": dedup_ngram,
    "dedup_clusters": dedup_clusters,
    "dedup_incremental": dedup_incremental,
}

# dedup_near_recall's oracle: the same-source truth count is fully
# SQL-replicable (dedup_ngram's oracle counted); the banding side
# enters only through the signed recall floor.
ORACLE_DEDUP_NEAR_RECALL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_true, TRUE AS recall_ok
FROM ({ORACLE_DEDUP_NGRAM})
"""

# dedup_near's oracle (audit graduation, r11): the corpus-wide exact
# truth count is replayed via the shared-shingle candidate join — the
# unblocked dedup_ngram shape, quadratic-safe at oracle SF (the oracle
# is uncapped; Spark's NEAR_TRUTH_DF_CAP provably never binds on
# testdata, pinned in tests). Both booleans are stated TRUE: a hash
# mismatch here is an LSH precision/recall-floor breach, not an
# engine divergence.
ORACLE_DEDUP_NEAR = rf"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id,
         LIST_DISTINCT(
           CASE WHEN LEN(toks) >= {SHINGLE_K}
                THEN list_transform(range(1, LEN(toks) - {SHINGLE_K - 2}),
                                    i -> array_to_string(toks[i:i+{SHINGLE_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM t
),
e AS (SELECT doc_id, UNNEST(sh) AS h FROM w),
i AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM e a JOIN e b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT i.doc_a, i.doc_b,
         i.n_inter / CAST(LEN(wa.sh) + LEN(wb.sh) - i.n_inter AS DOUBLE)
           AS jaccard
  FROM i
  JOIN w wa ON wa.doc_id = i.doc_a
  JOIN w wb ON wb.doc_id = i.doc_b
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
       TRUE AS precision_ok,
       TRUE AS recall_ok
FROM p WHERE jaccard >= {NEAR_JACCARD_T}
"""

ORACLE_SQL = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_near": ORACLE_DEDUP_NEAR,
    "dedup_near_recall": ORACLE_DEDUP_NEAR_RECALL,
    "dedup_simhash": _oracle_simhash(),
    "dedup_ngram": ORACLE_DEDUP_NGRAM,
    "dedup_clusters": _oracle_dedup_clusters(),
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
}
