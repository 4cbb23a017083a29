"""End-to-end corpus cleaning — the composition the individual text/
dedup operators exist for: one declared key that exact-dedups,
quality-gates, and language-filters `documents` the way an LLM
training-data pipeline does before tokenization.

`pipeline_clean_corpus` is the FUSED form of
text_fingerprint × text_quality × text_lang_id + exact keep-first:
one scan of `documents` computes every per-doc column (fingerprint,
quality counts, language scores — all whole-stage-codegen
expressions shared with the standalone keys via text.py's column
builders), then a single window shuffle on the fingerprint picks the
keep-first representative. At 100 TB this one-scan-one-shuffle shape
is the difference between re-reading the text column four times with
three joins and touching it once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import table
from .text import (
    LANG_MARKERS,
    LANG_ORDER,
    QUALITY_MAX_AVG_TOKEN,
    QUALITY_MAX_CHARS,
    QUALITY_MIN_AVG_TOKEN,
    QUALITY_MIN_CHARS,
    QUALITY_MIN_DIVERSITY,
    _marker_score,
    _norm_tokens,
    _tokens,
    fingerprint_col,
    lang_pred_col,
    quality_base_cols,
    quality_score_col,
)

KEEP_LANG = "en"
KEEP_MIN_QUALITY = 3


def _md5_u32(salt: str = "") -> F.Column:
    """The ONE content-stable uniform draw every membership decision
    in this module derives from: the first 8 hex chars of
    md5(salt || doc_id) as a bigint in [0, 2³²). sample/split/mix/
    stratified consume it unsalted (so a doc's memberships are
    mutually consistent by construction); weighted sampling salts it
    (so composing with corpus_sample multiplies rates instead of
    nesting). Single definition — a change to the draw (hash, width,
    salt convention) must land here and nowhere else."""
    key = F.col("doc_id").cast("string")
    if salt:
        key = F.concat(F.lit(salt), key)
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("bigint")


def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kept documents after exact dedup (keep-first per fingerprint),
    quality gating (score >= KEEP_MIN_QUALITY) and language filtering
    (predicted KEEP_LANG) → (doc_id, fingerprint, quality_score,
    lang_pred)."""
    td = F.array_distinct(_tokens())
    base = table(spark, sf_dir, "documents").select(
        "doc_id",
        fingerprint_col().alias("fingerprint"),
        *quality_base_cols(),
        *[_marker_score(td, lg).alias(f"s_{lg}") for lg in LANG_ORDER],
    )
    scored = base.withColumn("quality_score", quality_score_col()).withColumn(
        "lang_pred", lang_pred_col()
    )
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("quality_score") >= KEEP_MIN_QUALITY)
            & (F.col("lang_pred") == KEEP_LANG)
        )
        .select("doc_id", "fingerprint", "quality_score", "lang_pred")
    )


def _oracle() -> str:
    en = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    score_cols = ",\n         ".join(
        "LEN(LIST_INTERSECT(LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\\s+')), ["
        + ", ".join(f"'{m}'" for m in LANG_MARKERS[lg])
        + f"])) AS s_{lg}"
        for lg in LANG_ORDER
    )
    branches = []
    for i, lg in enumerate(LANG_ORDER):
        later = LANG_ORDER[i + 1:]
        if later:
            cond = " AND ".join(f"s_{lg} >= s_{o}" for o in later)
            branches.append(f"WHEN {cond} THEN '{lg}'")
        else:
            branches.append(f"ELSE '{lg}'")
    case = "CASE " + " ".join(branches) + " END"
    return rf"""
WITH b AS (
  SELECT doc_id,
         md5(LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'))) AS fingerprint,
         LENGTH(text) AS n_chars,
         LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_tokens,
         LEN(LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\s+'))) AS n_distinct,
         LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS n_nonspace,
         LEN(LIST_INTERSECT(LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\s+')),
                            [{en}])) AS n_stop,
         {score_cols}
  FROM documents
),
s AS (
  SELECT doc_id, fingerprint,
         CAST(n_chars BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS} AS INT)
       + CAST(n_nonspace / n_tokens >= {QUALITY_MIN_AVG_TOKEN}
              AND n_nonspace / n_tokens <= {QUALITY_MAX_AVG_TOKEN} AS INT)
       + CAST(n_distinct / CAST(n_tokens AS DOUBLE) >= {QUALITY_MIN_DIVERSITY} AS INT)
       + CAST(n_stop >= 1 AS INT) AS quality_score,
         {case} AS lang_pred,
         ROW_NUMBER() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM b
)
SELECT doc_id, fingerprint, quality_score, lang_pred
FROM s
WHERE rn = 1 AND quality_score >= {KEEP_MIN_QUALITY} AND lang_pred = '{KEEP_LANG}'
"""


SAMPLE_MOD = 10  # keep 1-in-10


def corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 1-in-SAMPLE_MOD corpus sample by content-stable
    hash of doc_id → (doc_id, source, lang). The reproducible
    subsample every training pipeline needs: never `rand()` (breaks
    task retries and cross-run comparability) and never `LIMIT`
    (driver-biased); a hash-mod filter is embarrassingly parallel,
    pushdown-friendly, and yields the same rows on any cluster layout.
    md5 keeps it engine-portable for the oracle."""
    bucket = _md5_u32() % SAMPLE_MOD
    return (
        table(spark, sf_dir, "documents")
        .filter(bucket == 0)
        .select("doc_id", "source", "lang")
    )


ORACLE_CORPUS_SAMPLE = f"""
SELECT doc_id, source, lang
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
      % {SAMPLE_MOD} = 0
"""


# Quality-weighted sampling: P(keep) = quality_score / WSAMPLE_DEN,
# so top-quality docs (score 4) always survive and zero-score docs
# never do. The salt decorrelates the draw from corpus_sample's
# unsalted md5 so composing both samples multiplies their rates.
WSAMPLE_DEN = 4
_WSAMPLE_SALT = "wsample:"
_U32 = 4294967296  # 2^32 — modulus of the 8-hex-char md5 draw


def corpus_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli corpus sample → kept (doc_id,
    source, quality_score): the DCLM/FineWeb-style move of sampling
    training data PROPORTIONALLY to a quality signal instead of
    gating on it — low-quality docs are down-weighted, not cliffed.
    Membership is the salted content-stable draw u32(doc_id)/2³² <
    quality_score/WSAMPLE_DEN, evaluated as the division-free bigint
    cross-multiplication u32·WSAMPLE_DEN < score·2³² — never rand()
    (retries and re-runs must agree), never a float.

    Scale shape: ONE scan of documents computing the quality gates
    inline (quality_base_cols/quality_score_col — the same
    single-definition columns text_quality emits, composed at column
    level precisely so this never self-joins documents against the
    quality key), then a per-row filter. Embarrassingly parallel; no
    shuffle at any corpus size."""
    u32 = _md5_u32(_WSAMPLE_SALT)
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", *quality_base_cols())
        .select(
            "doc_id",
            "source",
            quality_score_col().cast("bigint").alias("quality_score"),
            u32.alias("u32"),
        )
        .filter(
            F.col("u32") * F.lit(WSAMPLE_DEN)
            < F.col("quality_score") * F.lit(_U32)
        )
        .select("doc_id", "source", "quality_score")
    )


def _oracle_sample_weighted() -> str:
    from .text import _oracle_quality

    return f"""
WITH q AS ({_oracle_quality()})
SELECT d.doc_id, d.source, CAST(q.quality_score AS BIGINT) AS quality_score
FROM documents d JOIN q USING (doc_id)
WHERE CAST(('0x' || substr(md5('{_WSAMPLE_SALT}' || CAST(d.doc_id AS VARCHAR)),
                           1, 8)) AS BIGINT) * {WSAMPLE_DEN}
      < CAST(q.quality_score AS BIGINT) * {_U32}
"""


SPLIT_TRAIN_PCT = 96  # hash buckets 0-95 → train
SPLIT_VAL_PCT = 98    # 96-97 → val; 98-99 → test


def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (96/2/2 by content-stable
    hash) with per-split per-source bookkeeping → (split, source,
    n_docs, n_chars). The split every training run needs frozen
    BEFORE any mixing/packing: hash-assigned (never rand() — retries
    and re-runs must land every doc in the same split; never
    row-position — layout-dependent), stratification auditable per
    source from this exact output.

    Scale: one scan, one map-side-combined groupBy on a 12-cell key
    space; the split expression is the same md5-bucket idiom as
    corpus_sample/corpus_mix, so all three stay consistent (a doc's
    sample membership and split assignment derive from one hash)."""
    bucket = _md5_u32() % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        table(spark, sf_dir, "documents")
        .groupBy(split.alias("split"), "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


ORACLE_CORPUS_SPLIT = f"""
WITH b AS (
  SELECT source, n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < {SPLIT_TRAIN_PCT} THEN 'train'
            WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
            ELSE 'test' END AS split,
       source, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars
FROM b GROUP BY 1, 2
"""


PACK_BUDGET = 2048   # tokens per training sequence
PACK_SHARDS = 16     # parallel packer shards (scales with corpus)


def corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sequence packing — the step between a cleaned
    corpus and a training run: stream documents into PACK_BUDGET-token
    bins ("concat and chunk") → (shard, bin, n_docs, n_tokens).

    Determinism + scale in one shape: docs are sharded by a stable
    md5(doc_id) key into PACK_SHARDS independent packers (at 100 TB
    the shard count scales with the corpus — each shard's running sum
    is one window partition, so no global single-partition window
    ever exists), ordered within the shard by (content hash, doc_id)
    — a reproducible shuffle, not rand() — and assigned to the bin
    where their running token count starts. A bin may overflow its
    budget by one document tail, exactly like the standard LLM
    packing approximation; the fill report this emits is how you size
    PACK_BUDGET against truncation loss."""
    toks = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        toks.alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    shard = (
        F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint") % PACK_SHARDS
    ).alias("shard")
    w = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        docs.select("doc_id", "n_tokens", "h", shard)
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn(
            "bin",
            F.floor((F.col("cum") - F.col("n_tokens")) / F.lit(PACK_BUDGET)),
        )
    )
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
        .select("shard", "bin", "n_docs", "n_tokens")
    )


ORACLE_CORPUS_PACK = rf"""
WITH d AS (
  SELECT doc_id,
         LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
s AS (
  SELECT doc_id, n_tokens, h,
         CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % {PACK_SHARDS} AS shard
  FROM d
),
c AS (
  SELECT shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM s
)
SELECT shard,
       CAST(FLOOR((cum - n_tokens) / {PACK_BUDGET}) AS BIGINT) AS bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
FROM c GROUP BY 1, 2
"""


# Training-mixture weights: keep-rate per source bucket. Pinned module
# constants (the mixture IS configuration — reproducibility demands it
# live in one place, interpolated into both engines). Sources not
# listed fall back to MIX_DEFAULT_PCT.
MIX_WEIGHTS_PCT: dict[str, int] = {
    "src0": 100, "src1": 100,   # premium sources: keep everything
    "src2": 50, "src3": 50,     # mid tier: half
}
MIX_DEFAULT_PCT = 20            # long tail: 1 in 5


# Token-window chunking: the step between packing (corpus_pack bins
# whole documents) and a context-length-bounded training run — every
# document is cut into CHUNK_SIZE-token windows advanced by
# CHUNK_STRIDE (< size ⇒ overlapping windows, the standard long-doc
# treatment so no boundary context is lost).
CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def corpus_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking of every document →
    (doc_id, chunk_id, n_chunk_tokens, chunk_md5): windows of
    CHUNK_SIZE whitespace tokens every CHUNK_STRIDE, the final window
    truncating at the document tail; chunk text travels as its md5 so
    the cross-engine hash pins the exact reconstructed text without
    shipping it.

    One narrow scan, zero shuffles, zero UDFs: split → posexplode of
    the arithmetic start sequence → slice + concat_ws + md5, all
    whole-stage-codegen'd. Work is Σ ceil(n_tokens/stride) — linear in
    corpus tokens with the overlap factor size/stride, which is the
    knob a 100 TB run tunes; short docs (≤ size tokens) emit exactly
    one window, so the op never inflates the common case."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("arr")
    )
    n = F.size("arr")
    starts = docs.select(
        "doc_id",
        "arr",
        F.posexplode(
            F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(CHUNK_STRIDE))
        ).alias("chunk_id", "s"),
    )
    c = F.slice(F.col("arr"), F.col("s") + 1, CHUNK_SIZE)
    return starts.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(c).cast("bigint").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", c)).alias("chunk_md5"),
    )


ORACLE_CORPUS_CHUNK = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS arr FROM documents
),
starts AS (
  SELECT doc_id, arr, len(arr) AS n,
         unnest(range(0, GREATEST(len(arr), 1), {CHUNK_STRIDE})) AS s
  FROM toks
),
chunks AS (
  SELECT doc_id,
         CAST(s / {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
         arr[s + 1 : LEAST(s + {CHUNK_SIZE}, n)] AS c
  FROM starts
)
SELECT doc_id, chunk_id,
       CAST(len(c) AS BIGINT) AS n_chunk_tokens,
       md5(array_to_string(c, ' ')) AS chunk_md5
FROM chunks
"""


# Stratified sampling rates per language stratum (percent kept).
# Oversample scarce/priority strata, downsample the bulk — the
# composition-control step distinct from corpus_sample's uniform 10%.
STRATA_PCT = {"en": 40, "de": 30, "es": 20, "fr": 20, "zh": 10}
STRATA_DEFAULT_PCT = 5


def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic STRATIFIED sample: each language stratum keeps
    its own hash-bucket fraction (en 40%, de 30%, … default 5%) →
    (doc_id, lang, source). The corpus-composition control a training
    mix needs when uniform sampling (corpus_sample) would starve rare
    strata: per-stratum rates, still rand()-free — the same md5
    bucket as sample/split/mix, so one doc's membership across ALL
    sampling keys derives from one hash and stratum membership is
    reproducible on any cluster layout.

    Scale: a pure scan-side filter (bucket < rate(lang)); the rate
    lookup is a CASE over the tiny strata map — no join, no shuffle,
    pushdown-eligible."""
    bucket = _md5_u32() % 100
    rate = F.lit(STRATA_DEFAULT_PCT)
    for lg, pct in STRATA_PCT.items():
        rate = F.when(F.col("lang") == lg, pct).otherwise(rate)
    return (
        table(spark, sf_dir, "documents")
        .filter(bucket < rate)
        .select("doc_id", "lang", "source")
    )


def _oracle_stratified() -> str:
    branches = " ".join(
        f"WHEN lang = '{lg}' THEN {pct}" for lg, pct in STRATA_PCT.items()
    )
    return f"""
SELECT doc_id, lang, source
FROM documents
WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
      < CASE {branches} ELSE {STRATA_DEFAULT_PCT} END
"""


def _mix_bucket() -> F.Column:
    return _md5_u32() % 100


def corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source mixture sampling — the step that turns a
    cleaned corpus into a TRAINING MIX (upweight premium sources,
    downsample the long tail) → (source, n_total, n_kept). Keep rule:
    md5(doc_id) % 100 < source's percentage, so the mix is
    deterministic, retry-safe, cluster-layout-independent, and
    cheaply re-weightable (same hash, different thresholds ⇒ nested
    samples: lowering a rate always keeps a subset). One scan, one
    tiny aggregate; the filter is a codegen'd CASE — no join against
    a weights table needed below ~thousands of sources (broadcast it
    beyond that)."""
    rate = F.lit(MIX_DEFAULT_PCT)
    for src, pct in MIX_WEIGHTS_PCT.items():
        rate = F.when(F.col("source") == src, F.lit(pct)).otherwise(rate)
    return (
        table(spark, sf_dir, "documents")
        .select("doc_id", "source", (_mix_bucket() < rate).alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.col("keep").cast("bigint")).cast("bigint").alias("n_kept"),
        )
    )


def _oracle_corpus_mix() -> str:
    branches = " ".join(
        f"WHEN source = '{s}' THEN {p}" for s, p in MIX_WEIGHTS_PCT.items()
    )
    return f"""
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                          % 100 < (CASE {branches} ELSE {MIX_DEFAULT_PCT} END)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM documents GROUP BY source
"""


# Temperature-weighted mixture sampling: α grid in quarters so every
# membership test is an EXACT integer cross-multiplication (see the
# key's docstring); the draw is 16-bit so u⁴ stays inside the exact
# width budget.
TMIX_ALPHA_DEN = 4
TMIX_ALPHAS = (1, 2, 3, 4)  # numerators: α = p/4
_TMIX_SALT = "tmix:"
_U16_POW4 = "18446744073709551616"  # 2^64 = (2^16)^4, the draw's unit


def corpus_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted mixture sampling — corpus_mix's
    generalization (VERDICT r12 next #7) and the multilingual/domain
    balance curve every pretraining mix uses (the mC4/XLM-R rule):
    language s is kept at rate (n_min/n_s)^(1−α), so expected kept
    counts ∝ n_s^α — α=1 keeps everything (natural mix), α→0 flattens
    toward uniform across languages, with the smallest language always
    kept fully. Output: (alpha, lang, n_total, n_kept) for α ∈
    {{1,2,3,4}}/4.

    Exact integer membership (the corpus_sample discipline — never
    rand(), never a float pow whose rounding could diverge between
    engines): with a 16-bit content-stable draw u = md5_16(salt ||
    doc_id) and α = p/4, keep ⇔ u/2¹⁶ < (n_min/n_s)^((4−p)/4)
    ⇔ u⁴·n_s^(4−p) < 2⁶⁴·n_min^(4−p) — both sides exact integers
    (decimal(38,0) here, HUGEINT in the oracle). The α grid shares
    ONE draw, so keep sets NEST as α decreases (lowering temperature
    always keeps a subset — re-weighting never resamples), the law
    tests/test_r13_ops.py signs along with per-language monotonicity.

    Width budget, guarded at runtime (the ql_regr discipline): the
    largest term is 2⁶⁴·n_s³ ≤ 10³⁸−1 ⇔ n_s ≲ 1.76e6 docs per language
    — beyond that the key fails loudly (assert_true riding n_total)
    instead of silently NULLing flags; the documented escalation is a
    narrower draw (8-bit ⇒ n_s ≲ 7e9) or the α denominator dropped to
    2, not approximate floats.

    Scale shape: one map-side-combined count per language (at 100 TB a
    catalog statistic), broadcast back over ONE corpus scan computing
    all four flags per row; no shuffle of the corpus, no collect, no
    join bigger than |languages|."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    nmin = counts.agg(F.min("n_total").alias("n_min"))
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(_TMIX_SALT), F.col("doc_id").cast("string"))),
            1,
            4,
        ),
        16,
        10,
    ).cast("bigint")
    d = (
        docs.select("lang", u.alias("u"))
        .join(F.broadcast(counts), "lang")
        .crossJoin(F.broadcast(nmin))
    )

    def _dec(c):
        return c.cast("decimal(38,0)")

    u2 = F.col("u") * F.col("u")  # < 2^32, exact in bigint
    u4 = _dec(u2) * _dec(u2)
    pow4 = F.expr(f"CAST({_U16_POW4} AS DECIMAL(38,0))")

    def _npow(col: str, e: int):
        out = F.lit(1).cast("decimal(38,0)")
        for _ in range(e):
            out = out * _dec(F.col(col))
        return out

    keeps = {
        p: u4 * _npow("n_total", TMIX_ALPHA_DEN - p)
        < pow4 * _npow("n_min", TMIX_ALPHA_DEN - p)
        for p in TMIX_ALPHAS
    }
    agg = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum(F.when(keeps[p], 1).otherwise(0))
            .cast("bigint")
            .alias(f"k{p}")
            for p in TMIX_ALPHAS
        ],
    )
    decmax = F.expr(f"CAST({'9' * 38} AS DECIMAL(38,0))")
    guard = F.assert_true(
        pow4 * _npow("n_total", TMIX_ALPHA_DEN - 1) <= decmax,
        F.lit(
            "corpus_mix_temperature: language count exceeds the exact "
            "integer width budget — narrow the draw or the alpha grid"
        ),
    )
    per_alpha = F.array(
        *[
            F.struct(
                (F.lit(p) / F.lit(TMIX_ALPHA_DEN)).alias("alpha"),
                F.col(f"k{p}").alias("n_kept"),
            )
            for p in TMIX_ALPHAS
        ]
    )
    return agg.select(
        "lang",
        # the guard rides n_total (assert_true is NULL or throws) so
        # column pruning can never drop it
        F.when(guard.isNull(), F.col("n_total")).alias("n_total"),
        F.explode(per_alpha).alias("a"),
    ).select(
        F.col("a.alpha").alias("alpha"), "lang", "n_total", F.col("a.n_kept").alias("n_kept")
    )


ORACLE_CORPUS_MIX_TEMPERATURE = f"""
WITH c AS (
  SELECT lang, COUNT(*) AS n_total FROM documents GROUP BY lang
),
m AS (SELECT MIN(n_total) AS n_min FROM c),
d AS (
  SELECT lang,
         CAST(('0x' || substr(md5('{_TMIX_SALT}' || CAST(doc_id AS VARCHAR)),
                              1, 4)) AS BIGINT) AS u
  FROM documents
),
j AS (
  SELECT d.lang,
         CAST(d.u AS HUGEINT) * d.u * d.u * d.u AS u4,
         CAST(c.n_total AS HUGEINT) AS nt,
         CAST(m.n_min AS HUGEINT) AS nm,
         c.n_total
  FROM d JOIN c USING (lang) CROSS JOIN m
),
k AS (
  SELECT lang, n_total,
         CAST(SUM(CASE WHEN u4 * nt*nt*nt
                       < CAST({_U16_POW4} AS HUGEINT) * nm*nm*nm
                  THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         CAST(SUM(CASE WHEN u4 * nt*nt
                       < CAST({_U16_POW4} AS HUGEINT) * nm*nm
                  THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         CAST(SUM(CASE WHEN u4 * nt
                       < CAST({_U16_POW4} AS HUGEINT) * nm
                  THEN 1 ELSE 0 END) AS BIGINT) AS k3,
         CAST(SUM(CASE WHEN u4 < CAST({_U16_POW4} AS HUGEINT)
                  THEN 1 ELSE 0 END) AS BIGINT) AS k4
  FROM j GROUP BY lang, n_total
)
SELECT a.alpha, k.lang, k.n_total,
       CASE a.p WHEN 1 THEN k.k1 WHEN 2 THEN k.k2
                WHEN 3 THEN k.k3 ELSE k.k4 END AS n_kept
FROM k CROSS JOIN (
  SELECT p, p / {TMIX_ALPHA_DEN}.0 AS alpha
  FROM (SELECT UNNEST([1, 2, 3, 4]) AS p)
) a
"""


def corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave of sources into one global
    training order → (doc_id, source, global_pos): position k·S + r
    goes to the k-th document (in reproducible md5 order) of the
    r-th source. The curriculum/ordering op every multi-source
    training run needs — consecutive positions cycle through sources
    so no batch is single-source, and the order is cluster-layout-
    independent (hash order, never rand() or zipWithIndex).

    Scale shape: within-source numbering is a window partitioned by
    source (S-way parallel, the same partitioning the corpus already
    has); the source-rank dimension is computed on the DISTINCT
    source table (tiny) and broadcast back — the global ordinal is
    pure arithmetic, so there is NO global window or single-partition
    sort anywhere. Positions are dense iff sources are equal-sized;
    order, not density, is the contract."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "source")
    srcs = (
        docs.select("source").distinct()
        .withColumn(
            "source_rank",
            F.row_number().over(Window.orderBy("source")),
        )
    )
    n_sources = srcs.select(F.max("source_rank").alias("n_sources"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .join(F.broadcast(srcs), "source")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "doc_id",
            "source",
            (
                (F.col("rn") - 1) * F.col("n_sources")
                + F.col("source_rank")
                - 1
            ).cast("bigint").alias("global_pos"),
        )
    )


ORACLE_CORPUS_INTERLEAVE = """
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         DENSE_RANK() OVER (ORDER BY source) AS source_rank
  FROM documents
),
n AS (SELECT COUNT(DISTINCT source) AS n_sources FROM documents)
SELECT doc_id, source,
       CAST((rn - 1) * n.n_sources + source_rank - 1 AS BIGINT) AS global_pos
FROM ranked CROSS JOIN n
"""


TOKEN_BUDGET = 10_000  # global token budget to apportion across sources


def corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a global token
    budget across sources → (source, n_tokens_available, quota): the
    mix-planning step that turns "train on B tokens" into exact
    per-source integer quotas proportional to availability, with
    Σ quota = TOKEN_BUDGET EXACTLY (floor shares + the leftover
    distributed to the largest remainders, ties by source name). The
    arithmetic every corpus-mixing recipe needs and naive
    rounding gets wrong (floors under-shoot, round() can over- or
    under-shoot — both break the budget invariant).

    Pure integer algebra end to end — floor = (B·aᵢ) div T,
    remainder = (B·aᵢ) mod T — so the key is hash-exact with zero
    float anywhere. Scale: one map-side-combined token-count
    aggregate over the corpus; the apportionment itself runs on the
    |sources|-row summary (window over a domain-bounded frame, the
    eqdepth precedent). B·aᵢ fits bigint up to ~9e18 — i.e. a 1e6×
    budget×token product headroom beyond any real corpus; past that,
    decimal(38,0) is the drop-in."""
    docs = table(spark, sf_dir, "documents")
    avail = (
        docs.select("source", F.size(_tokens()).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("bigint").alias("n_tokens_available"))
    )
    tot = avail.agg(F.sum("n_tokens_available").cast("bigint").alias("t"))
    w = Window.orderBy(
        F.col("rem").desc(), F.col("source")
    )
    shares = (
        avail.crossJoin(F.broadcast(tot))
        .withColumn(
            "fl",
            F.expr(f"({TOKEN_BUDGET} * n_tokens_available) div t"),
        )
        .withColumn(
            "rem",
            F.expr(f"({TOKEN_BUDGET} * n_tokens_available) % t"),
        )
    )
    leftover = shares.agg(
        (F.lit(TOKEN_BUDGET) - F.sum("fl")).cast("bigint").alias("lo")
    )
    return (
        shares.withColumn("rk", F.row_number().over(w))
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "n_tokens_available",
            (
                F.col("fl")
                + F.when(F.col("rk") <= F.col("lo"), 1).otherwise(0)
            ).cast("bigint").alias("quota"),
        )
    )


ORACLE_CORPUS_TOKEN_BUDGET = rf"""
WITH avail AS (
  SELECT source,
         CAST(SUM(LEN(regexp_split_to_array(TRIM(text), '\s+'))) AS BIGINT)
           AS n_tokens_available
  FROM documents GROUP BY source
),
tot AS (SELECT CAST(SUM(n_tokens_available) AS BIGINT) AS t FROM avail),
shares AS (
  SELECT source, n_tokens_available,
         ({TOKEN_BUDGET} * n_tokens_available) // t AS fl,
         ({TOKEN_BUDGET} * n_tokens_available) % t AS rem
  FROM avail CROSS JOIN tot
),
lo AS (SELECT {TOKEN_BUDGET} - CAST(SUM(fl) AS BIGINT) AS lo FROM shares),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk FROM shares
)
SELECT source, n_tokens_available,
       CAST(fl + CASE WHEN rk <= lo.lo THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM ranked CROSS JOIN lo
"""


# --- the curation funnel report ---------------------------------------
# Stage labels, in application order. Each stage is CUMULATIVE (a doc
# survives stage k iff it survives 0..k), so the report reads as the
# classic data-curation funnel: raw → exact dedup → near-dup cluster
# canonicals → repetition gate → benchmark decontamination.
FUNNEL_STAGES = [
    "0_raw",
    "1_exact_dedup",
    "2_near_dedup",
    "3_repetition_gate",
    "4_decontaminated",
]


def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation funnel → one row per stage
    (stage, n_docs, n_tokens): how many documents and tokens survive
    each cumulative gate of a training-data pipeline — exact
    keep-first dedup, near-dup cluster canonicalization
    (dedup_clusters: keep only cluster representatives), the
    repetition quality rule (text_repetition's flag), and benchmark
    decontamination (text_contamination: drop benchmark members and
    any train doc sharing a shingle with them). The before/after
    report every corpus release ships with.

    Composition, not re-implementation: the stage predicates COME
    FROM the standalone keys (dedup_clusters / text_repetition /
    text_contamination are called as functions; exact-dedup reuses
    dedup_exact's normalization), so funnel semantics can never
    drift from the operators users run individually. Scale shape:
    every input is a per-doc frame joined on doc_id (the cluster
    frame arrives via the session-shared pair cache); the five
    cumulative (count, token-sum) pairs fold into ONE map-side-
    combined global aggregate, unpivoted by a constant 5-row stack —
    output is 5 rows regardless of corpus size."""
    from .dedup import dedup_clusters
    from .text import text_contamination, text_repetition

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(_norm_tokens()).alias("n_tokens"),
        # Single-definition exact-dedup key (shared with dedup_exact
        # and text_fingerprint): if the normalization ever changes,
        # the funnel's stage 1 moves with it.
        fingerprint_col().alias("h"),
    )
    winners = docs.groupBy("h").agg(F.min("doc_id").alias("w"))
    clusters = dedup_clusters(spark, sf_dir)
    rep = text_repetition(spark, sf_dir).select("doc_id", "repetitive")
    contam = text_contamination(spark, sf_dir).select("doc_id", "contaminated")
    flagged = (
        docs.join(winners, "h")
        .join(clusters, "doc_id", "left")
        .join(rep, "doc_id")
        .join(contam, "doc_id", "left")
    )
    s1 = F.col("doc_id") == F.col("w")
    s2 = s1 & (F.col("cluster_id").isNull() | (F.col("cluster_id") == F.col("doc_id")))
    s3 = s2 & ~F.col("repetitive")
    # Bench docs (absent from the contamination report) drop here too:
    # they are eval material, not training data.
    s4 = s3 & ~F.coalesce(F.col("contaminated"), F.lit(True))
    aggs = []
    for i, s in enumerate([F.lit(True), s1, s2, s3, s4]):
        aggs.append(F.sum(F.when(s, 1).otherwise(0)).alias(f"d{i}"))
        aggs.append(
            F.sum(F.when(s, F.col("n_tokens")).otherwise(0)).alias(f"t{i}")
        )
    one = flagged.agg(*aggs)
    stack_args = ", ".join(
        f"'{name}', d{i}, t{i}" for i, name in enumerate(FUNNEL_STAGES)
    )
    return one.select(
        F.expr(
            f"stack({len(FUNNEL_STAGES)}, {stack_args}) "
            "as (stage, n_docs, n_tokens)"
        )
    )


def _oracle_dedup_report() -> str:
    from .dedup import _oracle_dedup_clusters
    from .text import ORACLE_TEXT_CONTAMINATION, ORACLE_TEXT_REPETITION

    # Cumulative stage predicates as single-definition Python
    # fragments (the tie-break-fragment discipline): each builds on
    # the previous, so Spark and SQL can never disagree on a stage
    # boundary.
    s1 = "f.doc_id = f.w"
    s2 = f"({s1}) AND (f.cluster_id IS NULL OR f.cluster_id = f.doc_id)"
    s3 = f"({s2}) AND NOT f.repetitive"
    s4 = f"({s3}) AND NOT COALESCE(f.contaminated, TRUE)"
    preds = ["TRUE", s1, s2, s3, s4]
    stages = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS stage,"
        f" CAST(COUNT(*) FILTER (WHERE {preds[i]}) AS BIGINT) AS n_docs,"
        f" CAST(COALESCE(SUM(n_tokens) FILTER (WHERE {preds[i]}), 0)"
        f" AS BIGINT) AS n_tokens FROM f"
        for i, name in enumerate(FUNNEL_STAGES)
    )
    return rf"""
WITH docs AS (
  SELECT doc_id,
         LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS n_tokens,
         md5(LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'))) AS h
  FROM documents
),
winners AS (SELECT h, MIN(doc_id) AS w FROM docs GROUP BY h),
clusters AS ({_oracle_dedup_clusters()}),
rep AS (SELECT doc_id, repetitive FROM ({ORACLE_TEXT_REPETITION})),
contam AS (SELECT doc_id, contaminated FROM ({ORACLE_TEXT_CONTAMINATION})),
f AS (
  SELECT d.doc_id, d.n_tokens, w.w, c.cluster_id, r.repetitive,
         ct.contaminated
  FROM docs d
  JOIN winners w USING (h)
  LEFT JOIN clusters c ON c.doc_id = d.doc_id
  JOIN rep r ON r.doc_id = d.doc_id
  LEFT JOIN contam ct ON ct.doc_id = d.doc_id
)
{stages}
"""


QUERIES = {
    "pipeline_clean_corpus": pipeline_clean_corpus,
    "corpus_sample": corpus_sample,
    "corpus_sample_weighted": corpus_sample_weighted,
    "corpus_stratified_sample": corpus_stratified_sample,
    "corpus_split": corpus_split,
    "corpus_pack": corpus_pack,
    "corpus_chunk": corpus_chunk,
    "corpus_mix": corpus_mix,
    "corpus_mix_temperature": corpus_mix_temperature,
    "corpus_interleave": corpus_interleave,
    "corpus_token_budget": corpus_token_budget,
    "corpus_dedup_report": corpus_dedup_report,
}

ORACLE_SQL = {
    "pipeline_clean_corpus": _oracle(),
    "corpus_sample": ORACLE_CORPUS_SAMPLE,
    "corpus_sample_weighted": _oracle_sample_weighted(),
    "corpus_stratified_sample": _oracle_stratified(),
    "corpus_split": ORACLE_CORPUS_SPLIT,
    "corpus_pack": ORACLE_CORPUS_PACK,
    "corpus_chunk": ORACLE_CORPUS_CHUNK,
    "corpus_mix": _oracle_corpus_mix(),
    "corpus_mix_temperature": ORACLE_CORPUS_MIX_TEMPERATURE,
    "corpus_interleave": ORACLE_CORPUS_INTERLEAVE,
    "corpus_token_budget": ORACLE_CORPUS_TOKEN_BUDGET,
    "corpus_dedup_report": _oracle_dedup_report(),
}
