"""Text-analysis operators over the `documents` table — the
LLM-training-pipeline surface (BASELINE.json north star; SURVEY.md
§2.2 extensions). Not present in the reference (its only strings are
file names); everything here is Spark built-ins — zero UDFs, fully
whole-stage-codegen'd, and every key has an exact DuckDB oracle.

Cross-engine determinism notes:
- token split is `\\s+` on trimmed text — same semantics in Java regex
  (Spark) and RE2 (DuckDB) for ASCII input;
- ratios are divisions of exact integers → identical doubles;
- fingerprints use md5 (identical across engines), with the first 8
  hex chars convertible to an int in both dialects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo, shared
from ..catalog import table

# BPE-ish pre-tokenizer: letter runs | digit runs | single punctuation.
BPE_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# Marker stopwords per language for the n-gram-free lang-ID heuristic.
# Deterministic and tiny by design — the declared semantic is "argmax
# of marker-set hits with fixed precedence", not linguistic accuracy.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "los", "y", "es", "un"],
    "fr": ["le", "la", "les", "et", "est", "un"],
    "zh": ["de", "le", "shi", "zai", "he"],
}
LANG_ORDER = list(LANG_MARKERS)  # tie-break precedence


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.trim(F.col(col)), r"\s+")


def _norm_tokens() -> F.Column:
    """The `text` column lower-cased and split on whitespace runs: the
    one word tokenization the dedup, n-gram and corpus-statistics
    operators share."""
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document surface statistics → one row per doc.

    All counts are exact ints; avg_token_chars is int/int division.
    """
    docs = table(spark, sf_dir, "documents")
    t = _tokens()
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct_tokens"),
        (F.length(F.regexp_replace(F.col("text"), r"\s+", ""))).alias("n_nonspace_chars"),
        F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).alias("n_digits"),
    ).withColumn(
        "avg_token_chars",
        F.col("n_nonspace_chars") / F.col("n_tokens"),
    )


ORACLE_TEXT_STATS = r"""
SELECT doc_id,
       LENGTH(text) AS n_chars,
       LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_tokens,
       LEN(LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\s+'))) AS n_distinct_tokens,
       LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS n_nonspace_chars,
       LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g')) AS n_digits,
       LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g'))
         / LEN(regexp_split_to_array(TRIM(text), '\s+')) AS avg_token_chars
FROM documents
"""


def text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pre-tokenization (letter runs / digit runs / punct singletons) —
    the standard cheap token-budget estimator for LLM corpora."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(_tokens()).alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)).alias("bpe_tokens"),
    )


ORACLE_TEXT_TOKENS = rf"""
SELECT doc_id,
       LEN(regexp_split_to_array(TRIM(text), '\s+')) AS ws_tokens,
       LEN(regexp_extract_all(text, '{BPE_RE}')) AS bpe_tokens
FROM documents
"""


def _marker_score(tokens: F.Column, lang: str) -> F.Column:
    markers = F.array(*[F.lit(m) for m in LANG_MARKERS[lang]])
    return F.size(F.array_intersect(tokens, markers))


def lang_pred_col() -> F.Column:
    """Argmax-with-precedence over the s_<lang> score columns: the
    first language (in LANG_ORDER) whose score >= all later ones.
    Usable on any frame carrying the s_* columns."""
    pred = None
    for i, lg in enumerate(LANG_ORDER):
        later = LANG_ORDER[i + 1:]
        cond = None
        for other in later:
            c = F.col(f"s_{lg}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        branch = F.lit(lg)
        if pred is None:
            pred = F.when(cond, branch) if cond is not None else branch
        else:
            pred = pred.when(cond, branch) if cond is not None else pred.otherwise(branch)
    return pred


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID: score = |distinct marker hits| per
    language; prediction = argmax with fixed precedence order on ties.
    Returns the label column too so accuracy is a downstream GROUP BY.
    """
    docs = table(spark, sf_dir, "documents")
    t = F.array_distinct(_tokens())
    scored = docs.select(
        "doc_id",
        "lang",
        *[_marker_score(t, lg).alias(f"s_{lg}") for lg in LANG_ORDER],
    )
    return scored.withColumn("lang_pred", lang_pred_col()).select(
        "doc_id", "lang", "lang_pred",
        *[f"s_{lg}" for lg in LANG_ORDER],
    )


def _oracle_lang_id() -> str:
    score_cols = ",\n       ".join(
        "LEN(LIST_INTERSECT(toks, ["
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
WITH tok AS (
  SELECT doc_id, lang,
         LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\s+')) AS toks
  FROM documents
),
scored AS (
  SELECT doc_id, lang,
       {score_cols}
  FROM tok
)
SELECT doc_id, lang, {case} AS lang_pred,
       {", ".join(f"s_{lg}" for lg in LANG_ORDER)}
FROM scored
"""


def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + per-class precision/recall of the lang-ID
    heuristic against the ground-truth label → one row per true
    language: (lang, n_docs, n_correct, recall, precision) — the
    eval-the-classifier discipline ml_confusion_metrics applies to the
    centroid classifier, applied to the text heuristic (every
    production filter ships its measured error, not just its output).

    Ratios divide exact integers (identical doubles cross-engine);
    precision joins the per-PREDICTED-class totals back onto the
    per-true-class rollup — two tiny aggregates over an
    already-aggregated 5×5 space, nothing rescans text."""
    scored = text_lang_id(spark, sf_dir).select("lang", "lang_pred")
    cm = scored.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n")
    )
    per_true = cm.groupBy("lang").agg(
        F.sum("n").alias("n_docs"),
        F.sum(F.when(F.col("lang_pred") == F.col("lang"), F.col("n"))).alias(
            "n_correct_raw"
        ),
    )
    per_pred = cm.groupBy("lang_pred").agg(F.sum("n").alias("n_predicted"))
    return (
        per_true.withColumn("n_correct", F.coalesce("n_correct_raw", F.lit(0)))
        .join(
            F.broadcast(per_pred),
            per_true.lang == per_pred.lang_pred,
            "left",
        )
        .select(
            "lang",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_correct").cast("bigint").alias("n_correct"),
            F.round(F.col("n_correct") / F.col("n_docs"), 6).alias("recall"),
            # never-predicted class → NULL precision on BOTH engines
            # (the left join's null propagates; no 0-division branch)
            F.round(F.col("n_correct") / F.col("n_predicted"), 6).alias(
                "precision"
            ),
        )
    )


def _oracle_langid_eval() -> str:
    inner = _oracle_lang_id()
    return f"""
WITH scored AS ({inner}),
cm AS (SELECT lang, lang_pred, COUNT(*) AS n FROM scored GROUP BY 1, 2),
per_true AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_docs,
         CAST(COALESCE(SUM(CASE WHEN lang_pred = lang THEN n END), 0) AS BIGINT)
           AS n_correct
  FROM cm GROUP BY lang
),
per_pred AS (SELECT lang_pred, SUM(n) AS n_predicted FROM cm GROUP BY 1)
SELECT t.lang, t.n_docs, t.n_correct,
       ROUND(t.n_correct / CAST(t.n_docs AS DOUBLE), 6) AS recall,
       ROUND(t.n_correct / CAST(p.n_predicted AS DOUBLE), 6) AS precision
FROM per_true t LEFT JOIN per_pred p ON p.lang_pred = t.lang
"""


# Quality thresholds (deterministic ints/ratios; weights sum to 4).
QUALITY_MIN_CHARS = 100
QUALITY_MAX_CHARS = 2000
QUALITY_MIN_AVG_TOKEN = 3.0
QUALITY_MAX_AVG_TOKEN = 10.0
QUALITY_MIN_DIVERSITY = 0.3


def quality_base_cols() -> list[F.Column]:
    """The five surface counts the quality gates read (select these
    alongside whatever else the caller needs from `documents`)."""
    t = _tokens()
    en = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    return [
        F.length("text").alias("n_chars"),
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_distinct"),
        F.length(F.regexp_replace(F.col("text"), r"\s+", "")).alias("n_nonspace"),
        F.size(F.array_intersect(F.array_distinct(t), en)).alias("n_stop"),
    ]


def quality_score_col() -> F.Column:
    """Gate sum ∈ 0..4 over the quality_base_cols() columns."""
    g_len = F.col("n_chars").between(QUALITY_MIN_CHARS, QUALITY_MAX_CHARS)
    avg_tok = F.col("n_nonspace") / F.col("n_tokens")
    g_tok = (avg_tok >= QUALITY_MIN_AVG_TOKEN) & (avg_tok <= QUALITY_MAX_AVG_TOKEN)
    g_div = (F.col("n_distinct") / F.col("n_tokens")) >= QUALITY_MIN_DIVERSITY
    g_stop = F.col("n_stop") >= 1
    return (
        g_len.cast("int") + g_tok.cast("int") + g_div.cast("int") + g_stop.cast("int")
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score for corpus filtering: length window,
    token-length window, type-token diversity, stopword presence.
    score ∈ 0..4 (sum of boolean gates); keep = score >= 3."""
    docs = table(spark, sf_dir, "documents").select("doc_id", *quality_base_cols())
    score = quality_score_col()
    return docs.select(
        "doc_id",
        score.alias("quality_score"),
        (score >= 3).alias("keep"),
    )


def _oracle_quality() -> str:
    en = ", ".join(f"'{m}'" for m in LANG_MARKERS["en"])
    return rf"""
WITH b AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         LEN(regexp_split_to_array(TRIM(text), '\s+')) AS n_tokens,
         LEN(LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\s+'))) AS n_distinct,
         LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g')) AS n_nonspace,
         LEN(LIST_INTERSECT(LIST_DISTINCT(regexp_split_to_array(TRIM(text), '\s+')),
                            [{en}])) AS n_stop
  FROM documents
),
s AS (
  SELECT doc_id,
         CAST(n_chars BETWEEN {QUALITY_MIN_CHARS} AND {QUALITY_MAX_CHARS} AS INT)
       + CAST(n_nonspace / n_tokens >= {QUALITY_MIN_AVG_TOKEN}
              AND n_nonspace / n_tokens <= {QUALITY_MAX_AVG_TOKEN} AS INT)
       + CAST(n_distinct / CAST(n_tokens AS DOUBLE) >= {QUALITY_MIN_DIVERSITY} AS INT)
       + CAST(n_stop >= 1 AS INT) AS quality_score
  FROM b
)
SELECT doc_id, quality_score, quality_score >= 3 AS keep FROM s
"""


def fingerprint_col() -> F.Column:
    """md5 over whitespace-normalized lowered text — the exact-dedup key."""
    return F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 over whitespace-normalized lowered
    text (the exact-dedup key), plus a 32-bit int fingerprint from the
    first 8 hex chars (the cheap shard/bucket key). md5 is identical
    across engines, so this is fully oracle-checkable."""
    fp = fingerprint_col()
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        fp.alias("fingerprint"),
        F.conv(F.substring(fp, 1, 8), 16, 10).cast("bigint").alias("fingerprint32"),
    )


ORACLE_TEXT_FINGERPRINT = r"""
WITH n AS (
  SELECT doc_id,
         md5(LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g'))) AS fingerprint
  FROM documents
)
SELECT doc_id, fingerprint,
       CAST(('0x' || substr(fingerprint, 1, 8)) AS UBIGINT) AS fingerprint32
FROM n
"""


QUANTILES = (0.25, 0.5, 0.75, 0.95)


def text_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus length distribution — the quantile profile a
    pipeline reads before choosing truncation/packing lengths →
    (source, n_docs, q25/q50/q75/q95 of chars, q50/q95 of ws tokens).

    Exact `percentile` (not approx): Spark and DuckDB both use the
    classic (1-g)·a + g·b linear interpolation and produce
    bit-identical doubles (verified; rounded to 6dp as ulp armor).
    At 100 TB swap in percentile_approx and a rows-only oracle — the
    scan/groupBy shape is unchanged.
    """
    docs = table(spark, sf_dir, "documents").select(
        "source",
        F.length("text").alias("n_chars"),
        F.size(_tokens()).alias("n_tokens"),
    )
    aggs = [F.count(F.lit(1)).alias("n_docs")]
    for q in QUANTILES:
        tag = f"q{int(q * 100)}"
        aggs.append(
            F.round(F.expr(f"percentile(n_chars, {q})"), 6).alias(f"{tag}_chars")
        )
    for q in (0.5, 0.95):
        tag = f"q{int(q * 100)}"
        aggs.append(
            F.round(F.expr(f"percentile(n_tokens, {q})"), 6).alias(f"{tag}_tokens")
        )
    return docs.groupBy("source").agg(*aggs)


def _oracle_length_quantiles() -> str:
    cols = ["COUNT(*) AS n_docs"]
    for q in QUANTILES:
        cols.append(
            f"ROUND(quantile_cont(LENGTH(text), {q}), 6) AS q{int(q*100)}_chars"
        )
    for q in (0.5, 0.95):
        cols.append(
            "ROUND(quantile_cont(LEN(regexp_split_to_array(TRIM(text), '\\s+')), "
            f"{q}), 6) AS q{int(q*100)}_tokens"
        )
    return f"SELECT source, {', '.join(cols)} FROM documents GROUP BY source"


NGRAM_TOP_K = 20


def text_ngrams_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K bigrams → (ngram, n_docs, n_occurrences),
    ordered by occurrences desc (ngram asc tie-break). The vocabulary
    report behind stop-shingle caps and contamination checks.

    Columnar shape: the token array is materialized (lazy checkpoint)
    before the bigram transform — `element_at` inside a HOF lambda
    re-evaluates its argument per element, so pairing straight off
    `split()` re-runs the regex per bigram (the dedup-shingle lesson).
    The global top-K is TakeOrdered over the aggregated (distinct
    bigram) set, never a full sort."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _norm_tokens().alias("toks"))
        .localCheckpoint(eager=False)
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                    ),
                ),
            ).otherwise(F.array())
        ).alias("ngram"),
    )
    return (
        bigrams.groupBy("ngram")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .orderBy(F.desc("n_occurrences"), "ngram")
        .limit(NGRAM_TOP_K)
    )


ORACLE_TEXT_NGRAMS_TOP = rf"""
WITH t AS (
  SELECT doc_id,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
b AS (
  SELECT doc_id,
         UNNEST(CASE WHEN LEN(toks) >= 2
                THEN list_transform(range(1, LEN(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS ngram
  FROM t
)
SELECT ngram,
       COUNT(DISTINCT doc_id) AS n_docs,
       COUNT(*) AS n_occurrences
FROM b GROUP BY ngram
ORDER BY n_occurrences DESC, ngram
LIMIT {NGRAM_TOP_K}
"""


TFIDF_TOP_TERMS = 3


def text_tfidf_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-TFIDF_TOP_TERMS characteristic terms per document by
    tf·idf → (doc_id, term, tf, score) — the per-doc keyword profile
    (topic drift / contamination triage over a training corpus).

    Fully distributed: term frequencies are one groupBy over the
    exploded token table; document frequencies one more over its
    distinct (the df side is |vocabulary|-sized and joins back by
    term); the corpus size N enters as a broadcast 1-row cross join,
    never a driver-side collect. Ranking uses the ROUNDED score
    (6 dp) with a term tie-break so cross-engine ulp jitter in ln()
    cannot flip ranks."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_norm_tokens()).alias("term"))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = (
        table(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n_corpus"))
    )
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_corpus") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_TERMS)
        .select("doc_id", "term", "tf", "score")
    )


ORACLE_TEXT_TFIDF_TOP = rf"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_corpus FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         ROUND(tf.tf * LN(n.n_corpus / CAST(df.df AS DOUBLE)), 6) AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, term) AS rn
  FROM scored
)
SELECT doc_id, term, tf, score FROM ranked WHERE rn <= {TFIDF_TOP_TERMS}
"""


CONTAM_SHINGLE_K = 4
CONTAM_BENCH_MOD = 10


def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    CONTAM_SHINGLE_K-token shingle with the benchmark set (docs with
    doc_id % CONTAM_BENCH_MOD == 0 stand in for the eval suite) →
    (doc_id, n_hit_shingles, contaminated) — one row per TRAIN doc,
    zero-hit docs included, so the output is the full audit report.

    Scale shape: the benchmark shingle-hash set is tiny relative to
    the corpus (eval suites are ~1e3-1e6 docs vs 1e9+ training docs),
    so it is DISTINCT'd and broadcast — the train side streams through
    a broadcast semi-ish join with zero shuffle of the corpus; the
    per-doc hit count is one map-side-combined groupBy on doc_id. The
    token array is materialized (lazy checkpoint) before the HOF pairs
    shingles — `element_at` re-evaluates its argument per element
    (the dedup-shingle lesson, see text_ngrams_top).

    Session-shared since r13 (the lpa_communities owner/composite
    rule): corpus_dedup_report consumes this audit as funnel stage 4,
    so the shingle scan + broadcast join materialize once per
    (session, sf) as the `text_contamination_flags` bench setup line
    item instead of once per consumer."""
    return shared(
        spark,
        sf_dir,
        "text_contamination",
        lambda: _text_contamination(spark, sf_dir),
    )


def _text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = CONTAM_SHINGLE_K
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _norm_tokens().alias("toks"))
        .localCheckpoint(eager=False)
    )
    sh = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", *[F.element_at("toks", i + j) for j in range(k)]
                        )
                    ),
                ),
            ).otherwise(F.array())
        ).alias("sh"),
    )
    is_bench = F.col("doc_id") % CONTAM_BENCH_MOD == 0
    bench = sh.filter(is_bench).select("sh").distinct()
    hits = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.countDistinct("sh").alias("n_hit_shingles"))
    )
    train = toks.select("doc_id").filter(~is_bench)
    return train.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hit_shingles", F.lit(0)).alias("n_hit_shingles"),
        (F.coalesce("n_hit_shingles", F.lit(0)) >= 1).alias("contaminated"),
    )


ORACLE_TEXT_CONTAMINATION = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS t
  FROM documents
),
sh AS (
  SELECT doc_id,
         UNNEST(CASE WHEN LEN(t) >= {CONTAM_SHINGLE_K}
                THEN list_transform(range(1, LEN(t) - {CONTAM_SHINGLE_K - 2}),
                     i -> md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
                ELSE [] END) AS sh
  FROM toks
),
bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % {CONTAM_BENCH_MOD} = 0),
hits AS (
  SELECT t.doc_id, COUNT(DISTINCT t.sh) AS n_hit_shingles
  FROM sh t JOIN bench USING (sh)
  WHERE t.doc_id % {CONTAM_BENCH_MOD} <> 0
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n_hit_shingles, 0) AS n_hit_shingles,
       COALESCE(h.n_hit_shingles, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {CONTAM_BENCH_MOD} <> 0
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character-distribution Shannon entropy →
    (doc_id, n_distinct_chars, entropy): the statistical quality gate
    that catches what rule-based gates (text_quality) can't —
    near-zero entropy flags repeated-character spam / template
    boilerplate, abnormally high entropy flags binary-in-text and
    encoding garbage.

    One explode to (doc_id, char) + ONE map-side-combined groupBy per
    level: H = ln(n) − (Σ c·ln c)/n needs only the per-(doc, char)
    counts — no second pass over the text and no window. The explode
    multiplies rows by doc length, but the per-partition partial
    aggregate collapses them to |alphabet| rows per doc before any
    shuffle, so shuffled bytes stay tiny at corpus scale.

    Cross-engine: Σ c·ln(c) sums ~60 doubles per doc; summation-order
    jitter is ~1e-13 absolute on an O(1) result — far below the 6dp
    rounding."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    chars = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.col("text"), F.lit(r"[\s\S]"), 0)
        ).alias("ch"),
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.sum("c").alias("n"),
            F.sum(F.col("c") * F.log("c")).alias("clogc"),
        )
        .select(
            "doc_id",
            "n_distinct_chars",
            F.round(
                F.log("n") - F.col("clogc") / F.col("n"), 6
            ).alias("entropy"),
        )
    )


ORACLE_TEXT_CHAR_ENTROPY = r"""
WITH chars AS (
  SELECT doc_id, UNNEST(regexp_extract_all(text, '[\s\S]')) AS ch
  FROM documents
),
counts AS (
  SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
)
SELECT doc_id,
       COUNT(*) AS n_distinct_chars,
       ROUND(LN(SUM(c)) - SUM(c * LN(c)) / SUM(c), 6) AS entropy
FROM counts GROUP BY doc_id
"""


# Collocation extraction: a bigram must occur this often to be scored
# (kills the long tail of one-off pairs before the join), and the
# report is the global PMI top-k.
COLLOC_MIN_PAIR = 5
COLLOC_TOP_K = 20


def _colloc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "documents")
        .select(_tokens().alias("t"))
        .filter(F.size("t") >= 2)
    )


def _colloc_unigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _colloc_tokens(spark, sf_dir)
        .select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI-ranked collocations: the COLLOC_TOP_K adjacent token pairs
    whose pointwise mutual information ln(c_xy·N / (c_x·c_y)) is
    highest, among pairs seen ≥ COLLOC_MIN_PAIR times → (w1, w2, cxy,
    pmi). The phrase detector of the text-analysis family — what
    "New York"-style multiword detection runs on before tokenizer
    retraining.

    Exactness: every count is an integer from the shared whitespace
    tokenizer; the PMI is one ln() of a quotient of identical integer
    products both engines cast to double the same way, rounded to 6dp
    — hash-stable like ql_corr. Ties on pmi break by (w1, w2).

    Scale: pair generation is a flat transform inside the scan (no
    shuffle); the bigram and unigram counts are two map-side-combined
    groupBys on (w1,w2)/w. The unigram table has THREE consumers (both
    join sides + the corpus total), so it is materialized once via
    cache.shared — without that, each reference re-scans the corpus; at
    100 TB it's the ingest-time vocabulary table. It is
    vocabulary-sized (≈millions of rows), so AQE broadcasts it when it
    fits and shuffle-joins otherwise — never the corpus. The MIN_PAIR
    gate runs BEFORE the join, so the joined side is only the
    surviving bigram heads. Top-k is TakeOrderedAndProject."""
    uni = shared(
        spark, sf_dir, "colloc_unigrams",
        lambda: _colloc_unigrams(spark, sf_dir),
    )
    toks = _colloc_tokens(spark, sf_dir)
    # Adjacent pairs via an index transform — t[] subscripts are
    # 0-based in Spark SQL; sequence stays ascending because size>=2.
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(t)-2),"
                " i -> struct(t[i] AS w1, t[i+1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    total = uni.agg(F.sum("c").alias("n_tokens"))
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cxy"))
        .filter(F.col("cxy") >= COLLOC_MIN_PAIR)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    joined = (
        big.join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(total))
    )
    pmi = F.round(
        F.log(
            (F.col("cxy") * F.col("n_tokens")).cast("double")
            / (F.col("c1") * F.col("c2")).cast("double")
        ),
        6,
    )
    return (
        joined.select("w1", "w2", "cxy", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(COLLOC_TOP_K)
    )


ORACLE_TEXT_COLLOCATIONS = rf"""
WITH t AS (
  SELECT regexp_split_to_array(TRIM(text), '\s+') AS toks
  FROM documents
  WHERE LEN(regexp_split_to_array(TRIM(text), '\s+')) >= 2
),
uni AS (
  SELECT w, COUNT(*) AS c
  FROM (SELECT UNNEST(toks) AS w FROM t)
  GROUP BY w
),
n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_tokens FROM uni),
pairs AS (
  SELECT p['w1'] AS w1, p['w2'] AS w2
  FROM (
    SELECT UNNEST(list_transform(range(1, LEN(toks)),
                  i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
    FROM t
  )
),
big AS (
  SELECT w1, w2, COUNT(*) AS cxy
  FROM pairs GROUP BY w1, w2
  HAVING COUNT(*) >= {COLLOC_MIN_PAIR}
)
SELECT b.w1, b.w2, b.cxy,
       ROUND(LN(CAST(b.cxy * n.n_tokens AS DOUBLE)
                / CAST(u1.c * u2.c AS DOUBLE)), 6) AS pmi
FROM big b, n, uni u1, uni u2
WHERE u1.w = b.w1 AND u2.w = b.w2
ORDER BY pmi DESC, b.w1, b.w2
LIMIT {COLLOC_TOP_K}
"""


# --- BPE merge-table training ----------------------------------------------

BPE_MERGES = 8  # merge rules learned (a real run learns 30k-100k)


def _bpe_merge_fold(sym_col: str) -> F.Column:
    """Apply the current (l, r) merge rule to a symbol array with a
    left-to-right non-overlapping fold — the exact classical BPE
    semantics ("aaa" under (a,a) → ["aa","a"]): append each symbol
    unless it completes the pair with the accumulator's tail, in
    which case the tail is replaced by the merged symbol."""
    return F.aggregate(
        sym_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.col("l"))
            & (s == F.col("r")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(F.col("l"), F.col("r"))),
            ),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding merge-table training over the corpus →
    (round, left, right, pair_count): the BPE_MERGES highest-count
    adjacent-symbol merges, learned exactly as the classical algorithm
    does — the tokenizer-training step of an LLM data pipeline.

    Distribution split mirrors production BPE: the CORPUS-scale work
    is one distributed word count (scan + map-side-combined groupBy);
    the merge loop then runs over the word-frequency DICT — itself a
    DataFrame, so a multi-million-word vocabulary still distributes —
    with each round one pair count (explode adjacent symbol pairs,
    weighted by word frequency), one deterministic argmax
    (count DESC, then lexicographic pair), and one fold-rewrite of
    the symbol arrays (whole-stage-codegen'd HOF aggregate, the
    left-to-right non-overlapping merge). Per-round state is a tiny
    checkpointed dict; the chosen rule is a broadcast 1-row join,
    never a driver collect.

    Exact oracle (since r8): the loop is a deterministic argmax, so
    _oracle_bpe_train unrolls all BPE_MERGES rounds as CTEs replaying
    the same count → argmax → positional-merge algebra in DuckDB; the
    sequential fold's positional equivalence argument lives in that
    docstring. tests/test_bpe.py additionally pins the FULL merge
    table against an independent reference implementation of
    classical BPE run on the same corpus."""
    return _bpe_loop(spark, sf_dir)[0]


# One loop, two consumers: text_bpe_train reads the merge table,
# text_bpe_encode the final word-state dict. Both frames are
# checkpointed, so neither key re-runs the 8-round loop.
def _bpe_loop(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Run the BPE_MERGES-round merge loop once per (session, sf_dir)
    → (merge table (round, left, right, pair_count), final word state
    (w, cnt, sym)). The state carries the word string through every
    round solely as text_bpe_encode's join key — the training algebra
    never reads it."""
    return memo(spark, sf_dir, "bpe_loop", lambda: _bpe_run(spark, sf_dir))


def _bpe_run(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    # Drop the empty token a whitespace-only document tokenizes to:
    # the engines genuinely disagree on ''-word symbol lists (Spark
    # split('', '') → [''], DuckDB's range-transform → []), and an
    # empty word carries no pairs anyway — the trained table is
    # unchanged on any corpus with real text.
    words = (
        table(spark, sf_dir, "documents")
        .select(F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    state = words.select(
        "w", "cnt", F.split("w", "").alias("sym")
    ).localCheckpoint(eager=True)
    rounds = []
    for rnd in range(BPE_MERGES):
        pairs = (
            state.filter(F.size("sym") >= 2)
            .select(
                "cnt",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("sym") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("sym"), i).alias("l"),
                            F.element_at(F.col("sym"), i + F.lit(1)).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("l"), F.col("r")
        ).limit(1)
        rounds.append(
            best.select(
                F.lit(rnd).cast("int").alias("round"),
                F.col("l").alias("left"),
                F.col("r").alias("right"),
                F.col("pair_count").cast("bigint").alias("pair_count"),
            )
        )
        # LEFT join, not crossJoin: when a tiny corpus exhausts its
        # merge rules before BPE_MERGES rounds, `best` is EMPTY and a
        # cross join would wipe the word state (on both engines —
        # parity would hold while the dict silently vanished). With
        # null (l, r) the fold's merge condition is never true, so
        # the state passes through unchanged.
        state = state.join(
            F.broadcast(best.select("l", "r")), F.lit(True), "left"
        ).select(
            "w", "cnt", _bpe_merge_fold("sym").alias("sym")
        ).localCheckpoint(eager=True)
    out = rounds[0]
    for r in rounds[1:]:
        out = out.unionByName(r)
    return out.localCheckpoint(eager=True), state


def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the TRAINED merge table → (doc_id,
    n_ws_tokens, n_bpe_tokens): the follow-on every tokenizer
    training has — once text_bpe_train learns the merges, the token
    count that prices a document for corpus_token_budget is the BPE
    count, not the whitespace count.

    Production shape (and why this never re-folds per document): BPE
    encoding is word-local, so the encoded length of a corpus is a
    pure function of the word-frequency DICT the trainer already
    folds — after the final round, word w tokenizes to exactly
    size(sym) pieces. Per-doc counts are then one exploded-token
    groupBy joined against that dict on the token key (the
    text_unigram_logprob discipline: the vocabulary is a TABLE, never
    a broadcast, and document text never shuffles). The inner join is
    lossless here because the dict is trained on the same corpus;
    encoding NEW text against a frozen tokenizer would left-join and
    fall back to character count (documented contract, untested
    path). Whitespace-only documents contribute no tokens and emit NO
    row — the ''-token is filtered on both engines, which disagree on
    its symbol list. Exact oracle: the unrolled state CTEs (_oracle_bpe_states)
    expose the same final dict to DuckDB."""
    dict_state = _bpe_loop(spark, sf_dir)[1]
    vocab = dict_state.select("w", F.size("sym").alias("nb"))
    occurrences = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens()).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("occ"))
    )
    return (
        occurrences.join(vocab, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_ws_tokens"),
            F.sum(F.col("occ") * F.col("nb"))
            .cast("bigint")
            .alias("n_bpe_tokens"),
        )
    )


# --- unigram language-model quality score ----------------------------------


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram-LM negative log-likelihood → (doc_id,
    n_tokens, avg_neg_logprob): the CCNet-style perplexity-proxy
    quality filter of an LLM data pipeline — documents whose tokens
    are improbable under the corpus's own unigram model (gibberish,
    boilerplate soup, wrong-language fragments) score HIGH and get culled.
    Uses add-one smoothing: p(w) = (c_w + 1) / (T + V).

    Scale shape: one token-count aggregate builds the vocabulary
    (map-side combined; shuffle carries (token, count) partials, never
    text), one equi-join of exploded tokens against the vocab on the
    token key (hash-partitioned both sides — at 100 TB the vocab is a
    table, not a broadcast), the (T, V) totals ride a broadcast 1-row
    frame, and the per-doc score is one more map-side-combined
    aggregate. Three shuffles total, all on keys with natural
    cardinality; no global state.

    Float contract: ln/avg are genuinely real-valued — round(6) on the
    output, the cosine-key precedent; counts stay exact bigints."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(_tokens()).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.agg(
        F.sum("c").cast("bigint").alias("t"),
        F.count(F.lit(1)).alias("v"),
    )
    return (
        toks.join(vocab, "w")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.avg(
                    F.log((F.col("c") + 1) / (F.col("t") + F.col("v")))
                ),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


ORACLE_TEXT_UNIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
  FROM documents
),
vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t, COUNT(*) AS v FROM vocab
)
SELECT doc_id, COUNT(*) AS n_tokens,
       ROUND(-AVG(LN((c + 1) / CAST(t + v AS DOUBLE))), 6)
         AS avg_neg_logprob
FROM toks JOIN vocab USING (w) CROSS JOIN tot
GROUP BY doc_id
"""


def _oracle_bpe_train() -> str:
    """Unrolled BPE_MERGES-round replay of the deterministic-argmax
    merge loop (VERDICT r7 missing #4): each round counts adjacent
    symbol pairs weighted by word frequency, picks the argmax
    (count DESC, then lexicographic pair — the same tiebreak as the
    Spark side), and rewrites every word's symbol list with the
    classical left-to-right non-overlapping merge.

    The fold is sequential on the Spark side (HOF aggregate); here it
    is replayed POSITIONALLY, which is equivalent: two matches of rule
    (l, r) can only overlap when l = r (a match at i needs sym[i+1]=r,
    a match at i+1 needs sym[i+1]=l), so
      - l ≠ r: every match is a merge start;
      - l = r: within each maximal run of l's, matches at even run
        offsets are merge starts (the greedy pairing of "aaaa" →
        "aa","aa").
    A position is dropped iff its predecessor is a merge start. Run
    offsets come from the last-non-l-position window max; everything
    is integer/string-exact, so the merge table hash-matches (and
    tests/test_bpe.py independently pins the same table against a
    classical reference implementation)."""
    selects = [
        f'SELECT CAST({k - 1} AS INT) AS round, l AS "left", '
        f'r AS "right", pair_count FROM b{k}'
        for k in range(1, BPE_MERGES + 1)
    ]
    return _oracle_bpe_states() + "\n" + "\nUNION ALL ".join(selects)


def _oracle_bpe_states() -> str:
    """The unrolled WITH-clause prefix shared by the train and encode
    oracles: word counts w0, initial symbol state s0, and per round k
    the pair counts pc{k}, argmax b{k}, positional merge st{k}, and
    next state s{k}. Single definition so the two oracles can never
    replay different loops."""
    base = r"""
WITH w0 AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
    FROM documents
  ) WHERE w <> '' GROUP BY w
),
s0 AS MATERIALIZED (
  SELECT w, cnt,
         list_transform(range(1, length(w) + 1), i -> w[i]) AS sym
  FROM w0
)"""
    rounds = []
    for k in range(1, BPE_MERGES + 1):
        p = k - 1
        rounds.append(f""",
pc{k} AS MATERIALIZED (
  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
    SELECT cnt, sym[i] AS l, sym[i + 1] AS r
    FROM (SELECT cnt, sym, UNNEST(range(1, len(sym))) AS i
          FROM s{p} WHERE len(sym) >= 2)
  ) GROUP BY l, r
),
b{k} AS MATERIALIZED (
  SELECT l, r, pair_count FROM pc{k}
  ORDER BY pair_count DESC, l, r LIMIT 1
),
pos{k} AS MATERIALIZED (
  SELECT u.w, u.cnt, u.i, u.sym[u.i] AS c, b.l, b.r,
         CASE WHEN u.i < u.n AND u.sym[u.i] = b.l
                   AND u.sym[u.i + 1] = b.r
              THEN 1 ELSE 0 END AS m
  FROM (SELECT w, cnt, sym, len(sym) AS n,
               UNNEST(range(1, len(sym) + 1)) AS i FROM s{p}) u
  LEFT JOIN b{k} b ON TRUE
),
st{k} AS MATERIALIZED (
  SELECT *, CASE WHEN m = 1 AND (l <> r OR off % 2 = 0)
                 THEN 1 ELSE 0 END AS mstart
  FROM (
    SELECT *, i - COALESCE(MAX(CASE WHEN c <> l THEN i END) OVER
                (PARTITION BY w ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
              0) - 1 AS off
    FROM pos{k}
  )
),
s{k} AS MATERIALIZED (
  SELECT w, ANY_VALUE(cnt) AS cnt,
         list(CASE WHEN mstart = 1 THEN l || r ELSE c END
              ORDER BY i) AS sym
  FROM (SELECT *, COALESCE(LAG(mstart) OVER
            (PARTITION BY w ORDER BY i), 0) AS dropped
        FROM st{k})
  WHERE dropped = 0
  GROUP BY w
)""")
    return base + "".join(rounds)


def _oracle_bpe_encode() -> str:
    """Per-doc BPE token counts off the final unrolled word state:
    word w tokenizes to len(sym) pieces after round BPE_MERGES, so
    the doc count is one token-explode joined against s{BPE_MERGES}."""
    return rf"""{_oracle_bpe_states()}
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_ws_tokens,
       CAST(SUM(len(s.sym)) AS BIGINT) AS n_bpe_tokens
FROM (SELECT doc_id, w FROM (
        SELECT doc_id,
               UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
        FROM documents) WHERE w <> '') d
JOIN s{BPE_MERGES} s USING (w)
GROUP BY d.doc_id"""


# --- repetition signals (Gopher-style quality rules) -----------------
# A doc is flagged repetitive when its most frequent token exceeds
# 1/REP_TOP_UNIGRAM_DEN of all tokens, or its duplicate-bigram count
# exceeds 1/REP_DUP_BIGRAM_DEN of all bigrams. Both verdicts are
# integer cross-multiplications — division-free, so the flag is exact.
REP_TOP_UNIGRAM_DEN = 5
REP_DUP_BIGRAM_DEN = 4


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals → (doc_id, n_tokens,
    top_unigram_count, n_bigrams, dup_bigram_count, repetitive) — the
    Gopher/MassiveText repetition rules (most-common-word fraction,
    duplicate-n-gram fraction) that catch looping generators and
    boilerplate which length/stopword gates (text_quality) miss.

    All columns are exact integers or integer-comparison booleans —
    the fractions the literature quotes are emitted as
    numerator/denominator pairs so the hash check is float-free.
    Scale shape: two map-side-combined per-doc groupBys over the
    exploded token/bigram tables (second level keyed by doc_id only);
    n_bigrams is DERIVED (n_tokens − 1 when ≥ 2 tokens) rather than
    re-aggregated, so the bigram leg only counts distincts. No
    windows, no driver work; the token array is materialized once
    (lazy checkpoint) before the bigram HOF pairs it — `element_at`
    re-evaluates its argument per element (the dedup-shingle lesson).

    Session-shared since r13 (the lpa_communities owner/composite
    rule): corpus_dedup_report consumes this per-doc flag frame as
    funnel stage 3, so the two token/bigram corpus passes materialize
    once per (session, sf) as the `text_repetition_flags` bench setup
    line item instead of once per consumer."""
    return shared(
        spark,
        sf_dir,
        "text_repetition",
        lambda: _text_repetition(spark, sf_dir),
    )


def _text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _norm_tokens().alias("toks"))
        .localCheckpoint(eager=False)
    )
    uni = (
        toks.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_unigram_count"),
            F.sum("c").alias("n_tokens"),
        )
    )
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("toks") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.concat_ws(
                        " ", F.element_at("toks", i), F.element_at("toks", i + 1)
                    ),
                ),
            ).otherwise(F.array())
        ).alias("bg"),
    )
    big = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_distinct_bigrams"))
    )
    pre = (
        uni.join(big, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "top_unigram_count",
            F.greatest(F.col("n_tokens") - 1, F.lit(0)).alias("n_bigrams"),
            (
                F.greatest(F.col("n_tokens") - 1, F.lit(0))
                - F.coalesce("n_distinct_bigrams", F.lit(0))
            ).alias("dup_bigram_count"),
        )
    )
    return pre.withColumn(
        "repetitive",
        (F.col("top_unigram_count") * REP_TOP_UNIGRAM_DEN > F.col("n_tokens"))
        | (F.col("dup_bigram_count") * REP_DUP_BIGRAM_DEN > F.col("n_bigrams")),
    )


ORACLE_TEXT_REPETITION = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
uni AS (
  SELECT doc_id, tok, COUNT(*) AS c
  FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t)
  GROUP BY doc_id, tok
),
u AS (
  SELECT doc_id, MAX(c) AS top_unigram_count,
         CAST(SUM(c) AS BIGINT) AS n_tokens
  FROM uni GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         UNNEST(CASE WHEN LEN(toks) >= 2
                THEN list_transform(range(1, LEN(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS bg
  FROM t
),
b AS (
  SELECT doc_id, COUNT(DISTINCT bg) AS n_distinct_bigrams
  FROM bg GROUP BY doc_id
),
pre AS (
  SELECT u.doc_id, u.n_tokens, u.top_unigram_count,
         GREATEST(u.n_tokens - 1, 0) AS n_bigrams,
         GREATEST(u.n_tokens - 1, 0)
           - COALESCE(b.n_distinct_bigrams, 0) AS dup_bigram_count
  FROM u LEFT JOIN b USING (doc_id)
)
SELECT *,
       (top_unigram_count * {REP_TOP_UNIGRAM_DEN} > n_tokens)
       OR (dup_bigram_count * {REP_DUP_BIGRAM_DEN} > n_bigrams) AS repetitive
FROM pre
"""


# --- cross-document duplicate shingles (exact-substring-dedup probe) --
# k is deliberately different from CONTAM_SHINGLE_K: contamination is
# the train-vs-benchmark broadcast-join shape; this key is corpus-
# internal all-docs duplication via a full shuffle join — the shingle
# analog of the suffix-array exact-substring dedup of Lee et al. 2021.
DUPNG_K = 5


def text_dup_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-shingle coverage → (doc_id,
    n_shingles, n_dup_shingles, cross_duplicated): for every document,
    how many of its DUPNG_K-token shingles also occur in at least one
    OTHER document. The per-doc report behind exact-substring dedup
    (which spans to remove) and boilerplate mining (headers/footers
    shared across a crawl).

    Scale shape: shingle hashes are md5 strings; the duplicate set is
    one groupBy over the distinct (doc, shingle) pairs (count ≥ 2
    docs), rejoined on the hash key with NO broadcast hint — corpus-
    internal duplication is corpus-sized (unlike the tiny benchmark
    side of text_contamination), so the join must be allowed to
    degrade to a shuffle hash join at scale; AQE still broadcasts it
    when the measured dup set is small. Per-doc totals are
    DERIVED from the token count (n − k + 1), not re-aggregated. The
    shingle frame is materialized once (lazy checkpoint) since both
    the duplicate set and the per-doc counts consume it."""
    k = DUPNG_K
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", _norm_tokens().alias("toks"))
        .localCheckpoint(eager=False)
    )
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("toks") >= k,
                    F.transform(
                        F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                        lambda i: F.md5(
                            F.concat_ws(
                                " ", *[F.element_at("toks", i + j) for j in range(k)]
                            )
                        ),
                    ),
                ).otherwise(F.array())
            ).alias("sh"),
        )
        .localCheckpoint(eager=False)
    )
    dup = (
        sh.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("sh")
    )
    per = (
        sh.join(dup, "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup_shingles"))
    )
    base = toks.select(
        "doc_id",
        F.greatest(F.size("toks") - (k - 1), F.lit(0)).alias("n_shingles"),
    )
    return (
        base.join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce("n_dup_shingles", F.lit(0)).alias("n_dup_shingles"),
        )
        .withColumn("cross_duplicated", F.col("n_dup_shingles") > 0)
    )


def _oracle_dup_ngrams() -> str:
    k = DUPNG_K
    cat = " || ' ' || ".join(
        f"toks[i+{j}]" if j else "toks[i]" for j in range(k)
    )
    return rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
sh AS (
  SELECT doc_id,
         UNNEST(CASE WHEN LEN(toks) >= {k}
                THEN list_transform(range(1, LEN(toks) - {k - 2}),
                                    i -> md5({cat}))
                ELSE [] END) AS sh
  FROM t
),
dup AS (
  SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sh)
  GROUP BY sh HAVING COUNT(*) >= 2
),
per AS (
  SELECT sh.doc_id, COUNT(*) AS n_dup_shingles
  FROM sh JOIN dup USING (sh) GROUP BY sh.doc_id
)
SELECT t.doc_id,
       GREATEST(LEN(t.toks) - {k - 1}, 0) AS n_shingles,
       COALESCE(per.n_dup_shingles, 0) AS n_dup_shingles,
       COALESCE(per.n_dup_shingles, 0) > 0 AS cross_duplicated
FROM t LEFT JOIN per USING (doc_id)
"""


# --- readability ------------------------------------------------------------
# Flesch reading ease with a deterministic syllable heuristic:
# syllables(word) = max(1, vowel-group runs of [aeiouy]+ in the
# lowered word). Classical Flesch weights; READ_MIN_FLESCH = 60 is the
# published "plain English" band edge.
READ_MIN_FLESCH = 60


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Flesch reading-ease → (doc_id, n_words,
    n_sentences, n_syllables, flesch, readable): the classic
    readability gate of a text-quality stack (Flesch 1948), with a
    deterministic, engine-portable syllable heuristic — a word's
    syllable count is max(1, count of maximal [aeiouy]+ runs in the
    lowered word) — so every column is SQL-replayable. Corpus-level
    syllable total folds to one regexp count over the whole lowered
    text plus one count of vowel-free tokens (each contributing the
    max(1,·) floor); sentences are maximal [.!?]+ runs floored at 1
    (this synthetic corpus has no sentence punctuation, so
    n_sentences degenerates to 1 and the score is driven by the
    syllable/word ratio — documented, not hidden).

    Exactness: counts are bigint; `flesch` is a genuinely-float
    output (round 6, the repo idiom); `readable` (flesch ≥ 60) is NOT
    derived from the float — it is the division-free
    cross-multiplication 206835·s·w − 1015·w² − 84600·y·s ≥
    60000·s·w evaluated in DECIMAL with pinned widths (constants
    decimal(6,0), counts decimal(13,0)), so every product stays
    inside decimal(38) headroom and the verdict is exact for any
    document up to 10¹³ tokens — bigint products would silently wrap
    (Spark non-ANSI) or raise (DuckDB) from w ≈ 10⁸. Scale shape:
    one scan, per-row expressions only — no shuffle, no UDF."""
    low = F.lower(F.trim(F.col("text")))
    toks = F.split(low, r"\s+")
    base = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.greatest(
            F.lit(1).cast("bigint"),
            F.regexp_count(F.col("text"), F.lit(r"[.!?]+")).cast("bigint"),
        ).alias("n_sentences"),
        (
            F.regexp_count(low, F.lit(r"[aeiouy]+"))
            + F.size(F.filter(toks, lambda t: ~t.rlike("[aeiouy]")))
        )
        .cast("bigint")
        .alias("n_syllables"),
    )
    w, s, y = F.col("n_words"), F.col("n_sentences"), F.col("n_syllables")
    flesch = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (w.cast("double") / s)
        - F.lit(84.6) * (y.cast("double") / w),
        6,
    )
    readable = _readable_verdict(w, s, y)
    return base.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch"),
        readable.alias("readable"),
    )


def _readable_verdict(w: F.Column, s: F.Column, y: F.Column) -> F.Column:
    """flesch(w, s, y) ≥ READ_MIN_FLESCH as a division-free DECIMAL
    cross-multiplication with pinned widths: constants decimal(6,0),
    counts decimal(13,0) — every product stays inside decimal(38)
    headroom, so the verdict is exact for any document up to 10¹³
    tokens. Factored out so the overflow regime is directly testable
    (bigint products would wrap from w ≈ 10⁸)."""
    wd, sd, yd = (c.cast("decimal(13,0)") for c in (w, s, y))

    def dc(v: int) -> F.Column:
        return F.lit(v).cast("decimal(6,0)")

    return (
        dc(206835) * sd * wd - dc(1015) * wd * wd - dc(84600) * yd * sd
        >= dc(1000 * READ_MIN_FLESCH) * sd * wd
    )


ORACLE_TEXT_READABILITY = rf"""
WITH b AS (
  SELECT doc_id,
         CAST(LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+'))
              AS BIGINT) AS n_words,
         GREATEST(CAST(1 AS BIGINT),
                  CAST(LEN(regexp_extract_all(text, '[.!?]+'))
                       AS BIGINT)) AS n_sentences,
         CAST(LEN(regexp_extract_all(LOWER(TRIM(text)), '[aeiouy]+'))
              + LEN(LIST_FILTER(
                      regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
                      t -> NOT regexp_matches(t, '[aeiouy]')))
              AS BIGINT) AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       ROUND(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                     - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
             6) AS flesch,
       CAST(206835 AS DECIMAL(6,0)) * CAST(n_sentences AS DECIMAL(13,0))
           * CAST(n_words AS DECIMAL(13,0))
         - CAST(1015 AS DECIMAL(6,0)) * CAST(n_words AS DECIMAL(13,0))
           * CAST(n_words AS DECIMAL(13,0))
         - CAST(84600 AS DECIMAL(6,0)) * CAST(n_syllables AS DECIMAL(13,0))
           * CAST(n_sentences AS DECIMAL(13,0))
         >= CAST(60000 AS DECIMAL(6,0)) * CAST(n_sentences AS DECIMAL(13,0))
           * CAST(n_words AS DECIMAL(13,0)) AS readable
FROM b
"""


ZIPF_TOP_N = 50  # head-of-vocabulary size the power law is fit over


def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary → ONE row
    (vocab_size, total_tokens, n_top, slope, intercept, r2): OLS of
    ln(frequency) on ln(rank) over the ZIPF_TOP_N most frequent
    tokens. The standard corpus-health diagnostic of an LLM data
    pipeline — natural text sits near slope −1; template/boilerplate
    corpora flatten the head, gibberish steepens it — and the
    companion law to text_char_entropy's per-document signal.

    Scale shape: ONE token-count aggregate builds the vocabulary
    (map-side combined; the shuffle carries (token, count) partials,
    never text — the text_unigram_logprob scan), the head is
    TakeOrdered over the aggregated vocab (never a full sort), and
    the regression is a single agg of 5 sums over ZIPF_TOP_N rows.
    The rank window runs AFTER the limit, over the tiny head only.

    Cross-engine exactness: ranks/counts are exact ints; ln and the
    OLS closed form are evaluated from the same sums in both engines,
    with ~1e-15 relative summation jitter four orders below the 6dp
    rounding (the text_unigram_logprob / ql_corr argument)."""
    docs = table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(_norm_tokens()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = vocab.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("c").cast("bigint").alias("total_tokens"),
    )
    top = vocab.orderBy(F.desc("c"), "w").limit(ZIPF_TOP_N)
    ranked = top.select(
        F.log(
            F.row_number()
            .over(Window.orderBy(F.desc("c"), "w"))
            .cast("double")
        ).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return (
        s.crossJoin(F.broadcast(totals))
        .select(
            "vocab_size",
            "total_tokens",
            F.col("n").cast("bigint").alias("n_top"),
            F.round(slope, 6).alias("slope"),
            F.round(
                (F.col("sy") - slope * F.col("sx")) / F.col("n"), 6
            ).alias("intercept"),
            F.round(
                F.pow(
                    F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2
                )
                / (
                    (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                    * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
                ),
                6,
            ).alias("r2"),
        )
    )


ORACLE_TEXT_ZIPF_FIT = rf"""
WITH toks AS (
  SELECT UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS w
  FROM documents
),
vocab AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
tot AS (
  SELECT COUNT(*) AS vocab_size, CAST(SUM(c) AS BIGINT) AS total_tokens
  FROM vocab
),
top AS (SELECT w, c FROM vocab ORDER BY c DESC, w LIMIT {ZIPF_TOP_N}),
ranked AS (
  SELECT LN(CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS DOUBLE)) AS x,
         LN(CAST(c AS DOUBLE)) AS y
  FROM top
),
s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM ranked
)
SELECT vocab_size, total_tokens, CAST(n AS BIGINT) AS n_top,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n,
             6) AS intercept,
       ROUND(POW(n * sxy - sx * sy, 2)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s CROSS JOIN tot
"""


# --- Hashing-trick vectorizer --------------------------------------
# The feature-hashing (Weinberger et al. 2009) featurizer every
# large-scale text trainer uses when the vocabulary won't fit a dict:
# token -> fixed bucket id, collisions accepted and AUDITED.
HV_WIDTH = 256   # feature-space width (small on purpose: a real
                 # collision census needs real collisions at test SF)
HV_SALT = "hv:"  # hash-domain separator


def text_hashing_vectorizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization census -> one row per OCCUPIED
    bucket (bucket, tf, df, n_tokens): total term frequency, document
    frequency, and the collision census (distinct tokens sharing the
    bucket). The audit report that decides whether HV_WIDTH is wide
    enough before anyone trains on hashed features.

    Scale shape: the exploded token table is aggregated through TWO
    high-cardinality composite-key partials — (bucket, token) for
    tf/collisions and distinct (bucket, doc_id) for df — and only the
    256-row RESULTS of those shuffles meet the tiny bucket domain. The
    naive single groupBy(bucket).agg(count, countDistinct, countDistinct)
    would expand every exploded row 3x and funnel the whole corpus
    through 256 hot reducer keys — exactly the skew shape this engine
    salts against elsewhere; contracting on composite keys first keeps
    every shuffle key space proportional to the data."""
    toks = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.explode(_tokens()).alias("tok"))
        .filter(F.length("tok") > 0)
        .withColumn(
            "bucket",
            F.conv(
                F.substring(F.md5(F.concat(F.lit(HV_SALT), F.col("tok"))), 1, 8),
                16,
                10,
            ).cast("bigint")
            % HV_WIDTH,
        )
    )
    by_tok = toks.groupBy("bucket", "tok").agg(F.count(F.lit(1)).alias("tf_tok"))
    tf = by_tok.groupBy("bucket").agg(
        F.sum("tf_tok").cast("bigint").alias("tf"),
        F.count(F.lit(1)).alias("n_tokens"),
    )
    df = (
        toks.select("bucket", "doc_id")
        .distinct()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return tf.join(df, "bucket").select("bucket", "tf", "df", "n_tokens")


ORACLE_TEXT_HASHING_VECTORIZER = f"""
WITH toks AS (
  SELECT doc_id, tok,
         CAST(('0x' || substr(md5('{HV_SALT}' || tok), 1, 8)) AS BIGINT)
           % {HV_WIDTH} AS bucket
  FROM (
    SELECT doc_id,
           UNNEST(regexp_split_to_array(TRIM(text), '\\s+')) AS tok
    FROM documents
  )
  WHERE LENGTH(tok) > 0
),
tf AS (
  SELECT bucket, CAST(SUM(tf_tok) AS BIGINT) AS tf,
         COUNT(*) AS n_tokens
  FROM (SELECT bucket, tok, COUNT(*) AS tf_tok FROM toks GROUP BY bucket, tok)
  GROUP BY bucket
),
df AS (
  SELECT bucket, COUNT(*) AS df
  FROM (SELECT DISTINCT bucket, doc_id FROM toks)
  GROUP BY bucket
)
SELECT tf.bucket, tf.tf, df.df, tf.n_tokens
FROM tf JOIN df ON tf.bucket = df.bucket
"""


# --- line-level exact dedup (r12) -------------------------------------------
# C4/RefinedWeb corpus normalization: every line that occurs more than
# once ACROSS the corpus is removed except one canonical retained
# occurrence (the lowest (doc_id, line_idx) — deterministic, so both
# engines agree on WHICH copy survives). This is the line-granular
# sibling of text_dup_ngrams' overlapping-shingle coverage and
# dedup_exact's whole-document hash: dup_ngrams REPORTS overlap,
# line dedup decides per-occurrence SURVIVAL.
#
# The synthetic corpus has no newline structure (single-line docs), so
# a "line" here is a non-overlapping LINE_W-token block — positional
# segmentation, unlike a shingle window. A real crawl swaps the
# splitter for split(text, '\n'); the survivor semantics and the
# shuffle shape (explode → one hash groupBy → one hash rejoin →
# per-doc rollup) are identical either way.
LINE_W = 3


def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document line-survival report → (doc_id, n_lines,
    n_surviving, n_removed): split each document into consecutive
    LINE_W-token lines, hash each line (md5), and keep a line
    occurrence iff it is globally unique OR it is the canonical
    occurrence (global min (doc_id, line_idx) for that hash).

    Scale shape: one corpus scan explodes lines with their positions;
    ONE groupBy on the md5 line hash computes (n_occ, canonical) with
    map-side partial aggregation (min of a struct combines like any
    min); the rejoin is on the same hash key so at 100 TB it is a
    shuffle hash join co-partitioned with the groupBy output — the
    exchange is reused, never corpus². The per-doc rollup partitions
    on doc_id. No broadcast of corpus-sized state, no window over the
    corpus (the oracle uses a window because DuckDB is single-node;
    the Spark side keeps the groupBy+join form that scales out).
    No reference analog (its only strings are file names); this is
    the pipeline-brief dedup surface at line granularity."""
    w = LINE_W
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", _norm_tokens().alias("toks")
    )
    n_blocks = F.floor((F.size("toks") + (w - 1)) / w).cast("int")
    lines = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n_blocks),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("toks", (i - 1) * w + 1, w))
                ),
            )
        ).alias("line_idx", "h"),
    ).localCheckpoint(eager=False)  # consumed by the groupBy AND the rejoin
    canon = lines.groupBy("h").agg(
        F.count(F.lit(1)).alias("n_occ"),
        F.min(F.struct("doc_id", "line_idx")).alias("canon"),
    )
    survived = (
        lines.join(canon, "h")
        .withColumn(
            "survives",
            (F.col("n_occ") == 1)
            | (
                (F.col("doc_id") == F.col("canon.doc_id"))
                & (F.col("line_idx") == F.col("canon.line_idx"))
            ),
        )
    )
    return survived.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("survives").cast("int")).cast("bigint").alias("n_surviving"),
        F.sum((~F.col("survives")).cast("int")).cast("bigint").alias("n_removed"),
    )


ORACLE_TEXT_LINE_DEDUP = rf"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
b AS (
  SELECT doc_id, i - 1 AS line_idx,
         md5(list_aggregate(toks[(i-1)*{LINE_W}+1 : i*{LINE_W}],
                            'string_agg', ' ')) AS h
  FROM t, UNNEST(range(1, ((LEN(toks) + {LINE_W - 1}) // {LINE_W}) + 1)) AS u(i)
),
w AS (
  SELECT doc_id, line_idx,
         COUNT(*) OVER (PARTITION BY h) AS n_occ,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, line_idx) AS rn
  FROM b
)
SELECT doc_id,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN n_occ = 1 OR rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_surviving,
       CAST(SUM(CASE WHEN n_occ > 1 AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_removed
FROM w GROUP BY doc_id
"""


# --- PII scrub (r12) ---------------------------------------------------------
# The redaction gate every released corpus runs: mask email / phone /
# SSN-shaped spans with typed placeholders and report per-class hit
# counts. Extends events_scrub's digit-run masking (events props JSON
# only) to the documents corpus. The synthetic corpus contains no
# PII-shaped spans at all (zero digits, zero '@'), so the key scrubs a
# deterministically PII-INJECTED view: docs with doc_id % 3 == 0 get a
# synthetic contact block (email + phone) and doc_id % 6 == 0
# additionally an SSN-shaped id, derived arithmetically from doc_id in
# BOTH engines — the same synthesize-then-process contract as the
# multimodal payload keys (mm_decode_*), keeping the regex machinery
# and the per-class accounting real and hash-checked.
#
# Patterns are deliberately backreference/lookaround-free so Java
# regex (Spark) and RE2 (DuckDB) match identically. Mask order is
# fixed and documented: EMAIL → PHONE → SSN (the shapes are mutually
# non-overlapping — a 3-2-4 digit group never occurs inside the
# 1/2-3-3-4 phone shape — but a fixed order makes the composition
# deterministic by construction, not by argument).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_SSN_RE = r"[0-9]{3}-[0-9]{2}-[0-9]{4}"


def _pii_aug_col() -> F.Column:
    """The PII-injected document text (see module comment): appended
    spans use width-guaranteed arithmetic (d%900+100 is always 3
    digits, d%9000+1000 always 4) so no padding functions enter the
    cross-engine string contract."""
    d = F.col("doc_id")
    contact = F.format_string(
        " contact u%d@ex%d.org or call +1-%d-555-%d",
        d, d % 7, d % 900 + 100, d % 9000 + 1000,
    )
    ssn = F.format_string(
        " id %d-%d-%d", d % 900 + 100, d % 90 + 10, d % 9000 + 1000
    )
    return F.concat(
        F.col("text"),
        F.when(d % 3 == 0, contact).otherwise(F.lit("")),
        F.when(d % 6 == 0, ssn).otherwise(F.lit("")),
    )


def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scrub report → (doc_id, n_email, n_phone,
    n_ssn, scrub_fp): per-class hit counts over the (injected) text
    plus the md5 fingerprint of the fully-masked text — the
    fingerprint pins the ENTIRE masked byte stream into the hash
    check, so a regex drift in either engine flips the key.

    Scale shape: one corpus scan, zero shuffles before the final
    collect — counts and masks are per-row regexp expressions inside
    whole-stage codegen. At 100 TB this is the map stage of the
    release pipeline; the masked text would be written back columnar
    and the report is a groupBy-free projection."""
    aug = _pii_aug_col()
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ),
        PII_SSN_RE,
        "[SSN]",
    )
    return table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), 0)).cast("bigint").alias("n_email"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE_RE), 0)).cast("bigint").alias("n_phone"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_SSN_RE), 0)).cast("bigint").alias("n_ssn"),
        F.md5(scrubbed).alias("scrub_fp"),
    )


ORACLE_TEXT_PII_SCRUB = f"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
              THEN ' contact u' || doc_id || '@ex' || (doc_id % 7)
                   || '.org or call +1-' || (doc_id % 900 + 100)
                   || '-555-' || (doc_id % 9000 + 1000)
              ELSE '' END
         || CASE WHEN doc_id % 6 = 0
              THEN ' id ' || (doc_id % 900 + 100) || '-'
                   || (doc_id % 90 + 10) || '-' || (doc_id % 9000 + 1000)
              ELSE '' END AS a
  FROM documents
)
SELECT doc_id,
       CAST(LEN(regexp_extract_all(a, '{PII_EMAIL_RE}')) AS BIGINT) AS n_email,
       CAST(LEN(regexp_extract_all(a, '{PII_PHONE_RE}')) AS BIGINT) AS n_phone,
       CAST(LEN(regexp_extract_all(a, '{PII_SSN_RE}')) AS BIGINT) AS n_ssn,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(a, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
               '{PII_PHONE_RE}', '[PHONE]', 'g'),
             '{PII_SSN_RE}', '[SSN]', 'g')) AS scrub_fp
FROM aug
"""


# text_search: the query front door of an inverted index. Terms are a
# pinned constant (a user query); K and the term set are part of the
# declared semantics so the oracle can replay them.
SEARCH_TERMS = ("spark", "vector", "window")
SEARCH_TOP_K = 20


def text_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search over the corpus: rank documents by summed
    tf·idf of the pinned SEARCH_TERMS → (rank, doc_id, n_terms,
    tf_total, score) for the SEARCH_TOP_K best documents — the
    retrieval front door (RAG / corpus triage) next to sim_topk's
    dense sibling.

    Inverted-index shape at 100 TB: the token explode is filtered to
    the query terms BEFORE any shuffle (predicate on the generator
    output — the scan emits ~|terms|·selectivity rows, not the token
    stream), per-(doc, term) tf is one map-side-combined groupBy, and
    the |terms|-row df/idf table joins back broadcast. Nothing
    corpus-sized is sorted: the final rank is a top-K over the scored
    HIT set (docs containing ≥1 query term). A real deployment would
    serve this from a materialized postings table (store_* family);
    this key is the query-time plan over raw text.

    Cross-engine exactness: tf/df/N are exact integers; per-doc score
    sums ≤|SEARCH_TERMS| ln-terms then rounds to 6dp (the
    text_tfidf_top discipline), and ranking orders by the ROUNDED
    score with a doc_id tie-break, so ulp jitter in ln cannot flip
    ranks."""
    terms = list(SEARCH_TERMS)
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(_norm_tokens()).alias("term"),
        )
        .filter(F.col("term").isin(terms))
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).alias("n_corpus")
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("tf").alias("tf_total"),
            F.round(
                F.sum(F.col("tf") * F.log(F.col("n_corpus") / F.col("df"))), 6
            ).alias("score"),
        )
    )
    w = Window.orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SEARCH_TOP_K)
        .select("rank", "doc_id", "n_terms", "tf_total", "score")
    )


def _oracle_text_search() -> str:
    in_list = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    return rf"""
WITH toks AS (
  SELECT doc_id,
         UNNEST(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks
  WHERE term IN ({in_list}) GROUP BY doc_id, term
),
df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_corpus FROM documents),
scored AS (
  SELECT tf.doc_id,
         COUNT(*) AS n_terms,
         CAST(SUM(tf.tf) AS BIGINT) AS tf_total,
         ROUND(SUM(tf.tf * LN(CAST(n.n_corpus AS DOUBLE) / df.df)), 6)
           AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
  GROUP BY tf.doc_id
)
SELECT * FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rank,
         doc_id, n_terms, tf_total, score
  FROM scored
) WHERE rank <= {SEARCH_TOP_K}
"""


# text_novelty: k-token shingle width. Deliberately distinct from
# CONTAM_SHINGLE_K (contamination flags verbatim eval overlap; novelty
# measures fresh-content rate, where a shorter gram is the standard
# sensitivity choice).
NOVELTY_SHINGLE_K = 3


# The md5 release split text_novelty and dedup_incremental share:
# buckets 0-89 → released base; 90-99 → delta.
INCR_BASE_PCT = 90


def text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source novelty of the incoming DELTA vs the released BASE
    → (source, n_docs, n_shingles, n_novel, novelty_pct): the fraction
    of a new shard's distinct NOVELTY_SHINGLE_K-gram shingles never
    seen in the released corpus — the freshness/memorization dial a
    pretraining ingest watches next to dedup_incremental's drop
    report (same md5 release split: buckets < INCR_BASE_PCT are the
    base, the dedup_incremental convention, so 'released' means the
    same docs in both keys).

    Scale shape: both sides contract to md5 shingle HASHES before
    meeting; the base side is DISTINCT'd (bounded by the shingle-hash
    domain, not by corpus size) and the delta side — 10% of ingest —
    left-anti joins it on the hash, a co-partitioned hash join with
    map-side-combined distinct counts per source. No raw text and no
    doc×doc pairs cross the shuffle. All outputs are exact integers;
    the pct is one integer division in double (bit-identical across
    engines)."""
    from .clean import _md5_u32

    k = NOVELTY_SHINGLE_K
    toks = (
        table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            (_md5_u32() % 100 < INCR_BASE_PCT).alias("is_base"),
            _norm_tokens().alias("toks"),
        )
        .localCheckpoint(eager=False)
    )
    sh = toks.select(
        "doc_id",
        "source",
        "is_base",
        F.explode(
            F.when(
                F.size("toks") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - (k - 1)),
                    lambda i: F.md5(
                        F.concat_ws(
                            " ", *[F.element_at("toks", i + j) for j in range(k)]
                        )
                    ),
                ),
            ).otherwise(F.array())
        ).alias("sh"),
    )
    base_sh = sh.filter("is_base").select("sh").distinct()
    delta = sh.filter(~F.col("is_base"))
    novel = delta.join(base_sh, "sh", "left_anti").select(
        "source", F.col("sh").alias("novel_sh")
    )
    per_src = delta.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.countDistinct("sh").alias("n_shingles"),
    )
    per_src_novel = novel.groupBy("source").agg(
        F.countDistinct("novel_sh").alias("n_novel")
    )
    return (
        per_src.join(per_src_novel, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            F.round(
                F.coalesce("n_novel", F.lit(0)) * 100.0 / F.col("n_shingles"), 6
            ).alias("novelty_pct"),
        )
    )


def _oracle_text_novelty() -> str:
    k = NOVELTY_SHINGLE_K
    gram = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return rf"""
WITH toks AS (
  SELECT doc_id, source,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 < {INCR_BASE_PCT} AS is_base,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS t
  FROM documents
),
sh AS (
  SELECT doc_id, source, is_base,
         UNNEST(CASE WHEN LEN(t) >= {k}
                THEN list_transform(range(1, LEN(t) - {k - 2}),
                     i -> md5({gram}))
                ELSE [] END) AS sh
  FROM toks
),
base_sh AS (SELECT DISTINCT sh FROM sh WHERE is_base),
delta AS (SELECT * FROM sh WHERE NOT is_base),
novel AS (
  SELECT d.source, d.sh FROM delta d
  WHERE NOT EXISTS (SELECT 1 FROM base_sh b WHERE b.sh = d.sh)
),
per_src AS (
  SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
         COUNT(DISTINCT sh) AS n_shingles
  FROM delta GROUP BY source
),
per_src_novel AS (
  SELECT source, COUNT(DISTINCT sh) AS n_novel FROM novel GROUP BY source
)
SELECT p.source, p.n_docs, p.n_shingles,
       COALESCE(n.n_novel, 0) AS n_novel,
       ROUND(COALESCE(n.n_novel, 0) * 100.0 / p.n_shingles, 6)
         AS novelty_pct
FROM per_src p LEFT JOIN per_src_novel n USING (source)
"""


# text_boilerplate: a line (LINE_W-token block, the text_line_dedup
# granularity) is boilerplate WITHIN a source when at least
# BOILER_MIN_DOCS distinct documents of that source contain it — the
# header/footer/nav-chrome removal step every web-corpus pipeline
# runs before dedup. An ABSOLUTE support threshold, not a percentage:
# on this corpus per-source line support tops out at ~5-16% of docs
# (measured sf0.001-0.1), so any meaningful percent cut is either
# empty or flips between scale factors, while "shared by ≥k docs"
# is the scale-stable form (and the one repeated-chrome actually
# satisfies — chrome recurs per page, independent of corpus size).
BOILER_MIN_DOCS = 2


def text_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate report → (doc_id, source, n_lines,
    n_boiler, n_kept): distinct LINE_W-token line hashes per doc,
    flagged boilerplate when ≥ BOILER_MIN_DOCS distinct documents of
    the doc's source contain the line.

    Scale shape: one corpus scan explodes per-doc DISTINCT line
    hashes (array_distinct runs inside codegen before the shuffle);
    ONE groupBy on (source, h) counts supporting docs with map-side
    combine; the per-source doc totals are a |sources|-row broadcast;
    the flag rejoins on the same (source, h) key so the exchange is
    reused — nothing corpus² anywhere, and the 100 TB cost is two
    co-partitioned passes over the line table. No reference analog
    (its only strings are file names); this is the pipeline-brief
    cleaning surface between text_line_dedup (global exact lines)
    and text_novelty (delta-vs-base shingles)."""
    w = LINE_W
    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        _norm_tokens().alias("toks"),
    )
    n_blocks = F.floor((F.size("toks") + (w - 1)) / w).cast("int")
    lines = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n_blocks),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice("toks", (i - 1) * w + 1, w))
                    ),
                )
            )
        ).alias("h"),
    ).localCheckpoint(eager=False)  # consumed by the groupBy AND the rejoin
    support = (
        lines.groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
        .withColumn(
            "is_boiler", F.col("n_docs_with") >= F.lit(BOILER_MIN_DOCS)
        )
        .select("source", "h", "is_boiler")
    )
    return (
        lines.join(support, ["source", "h"])
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_boiler").cast("int")).cast("bigint").alias("n_boiler"),
            F.sum((~F.col("is_boiler")).cast("int")).cast("bigint").alias("n_kept"),
        )
    )


ORACLE_TEXT_BOILERPLATE = rf"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
lines AS (
  SELECT DISTINCT doc_id, source,
         md5(list_aggregate(toks[(i-1)*{LINE_W}+1 : i*{LINE_W}],
                            'string_agg', ' ')) AS h
  FROM t, UNNEST(range(1, ((LEN(toks) + {LINE_W - 1}) // {LINE_W}) + 1)) AS u(i)
),
support AS (
  SELECT l.source, l.h,
         COUNT(*) >= {BOILER_MIN_DOCS} AS is_boiler
  FROM lines l
  GROUP BY l.source, l.h
)
SELECT l.doc_id, l.source,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN s.is_boiler THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boiler,
       CAST(SUM(CASE WHEN s.is_boiler THEN 0 ELSE 1 END) AS BIGINT)
         AS n_kept
FROM lines l JOIN support s USING (source, h)
GROUP BY l.doc_id, l.source
"""


def text_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise content-overlap matrix between sources → (src_a,
    src_b, n_shared): for every unordered source pair, the number of
    distinct LINE_W-token line hashes occurring in BOTH — the triage
    matrix that decides which source pairs are worth a full cross-
    source dedup pass (whole-doc md5 finds zero cross-source dups in
    this corpus; line granularity exposes the real overlap).

    Scale shape: distinct (h, source) contraction first (bounded by
    |line-hash space| × |sources|), then ONE groupBy on h collects
    the ≤|sources| source set per hash, pairs are generated inside
    codegen (nested transform over the sorted source array — at most
    C(|sources|,2) per hash, |sources| is tens not millions), and the
    final groupBy runs on the pair key. No self-join of the corpus,
    no pair ever materialized per-document. At 100 TB the only big
    exchange is the distinct — map-side combined on (h, source)."""
    w = LINE_W
    docs = table(spark, sf_dir, "documents").select(
        "source",
        _norm_tokens().alias("toks"),
    )
    n_blocks = F.floor((F.size("toks") + (w - 1)) / w).cast("int")
    hs = docs.select(
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n_blocks),
                lambda i: F.md5(
                    F.concat_ws(" ", F.slice("toks", (i - 1) * w + 1, w))
                ),
            )
        ).alias("h"),
    ).distinct()
    srcs = hs.groupBy("h").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    # guard: F.sequence(1, 0) runs DESCENDING in Spark, so a 1-source
    # hash must short-circuit to an empty pair array, not a sequence
    pairs = srcs.select(
        F.explode(
            F.when(
                F.size("ss") >= 2,
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.size("ss") - 1),
                        lambda i: F.transform(
                            F.sequence(i + 1, F.size("ss")),
                            lambda j: F.struct(
                                F.element_at("ss", i).alias("src_a"),
                                F.element_at("ss", j).alias("src_b"),
                            ),
                        ),
                    )
                ),
            ).otherwise(
                F.expr("array()").cast(
                    "array<struct<src_a:string,src_b:string>>"
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


ORACLE_TEXT_SOURCE_OVERLAP = rf"""
WITH t AS (
  SELECT doc_id, source,
         regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
  FROM documents
),
hs AS (
  SELECT DISTINCT source,
         md5(list_aggregate(toks[(i-1)*{LINE_W}+1 : i*{LINE_W}],
                            'string_agg', ' ')) AS h
  FROM t, UNNEST(range(1, ((LEN(toks) + {LINE_W - 1}) // {LINE_W}) + 1)) AS u(i)
)
SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
GROUP BY a.source, b.source
"""


QUERIES = {
    "text_stats": text_stats,
    "text_length_quantiles": text_length_quantiles,
    "text_tokens": text_tokens,
    "text_lang_id": text_lang_id,
    "text_langid_eval": text_langid_eval,
    "text_quality": text_quality,
    "text_fingerprint": text_fingerprint,
    "text_ngrams_top": text_ngrams_top,
    "text_tfidf_top": text_tfidf_top,
    "text_contamination": text_contamination,
    "text_char_entropy": text_char_entropy,
    "text_collocations": text_collocations,
    "text_bpe_train": text_bpe_train,
    "text_bpe_encode": text_bpe_encode,
    "text_unigram_logprob": text_unigram_logprob,
    "text_repetition": text_repetition,
    "text_dup_ngrams": text_dup_ngrams,
    "text_readability": text_readability,
    "text_zipf_fit": text_zipf_fit,
    "text_hashing_vectorizer": text_hashing_vectorizer,
    "text_line_dedup": text_line_dedup,
    "text_pii_scrub": text_pii_scrub,
    "text_search": text_search,
    "text_novelty": text_novelty,
    "text_boilerplate": text_boilerplate,
    "text_source_overlap": text_source_overlap,
}

ORACLE_SQL = {
    "text_stats": ORACLE_TEXT_STATS,
    "text_length_quantiles": _oracle_length_quantiles(),
    "text_tokens": ORACLE_TEXT_TOKENS,
    "text_lang_id": _oracle_lang_id(),
    "text_langid_eval": _oracle_langid_eval(),
    "text_quality": _oracle_quality(),
    "text_fingerprint": ORACLE_TEXT_FINGERPRINT,
    "text_ngrams_top": ORACLE_TEXT_NGRAMS_TOP,
    "text_tfidf_top": ORACLE_TEXT_TFIDF_TOP,
    "text_contamination": ORACLE_TEXT_CONTAMINATION,
    "text_char_entropy": ORACLE_TEXT_CHAR_ENTROPY,
    "text_collocations": ORACLE_TEXT_COLLOCATIONS,
    # Exact-parity since r8: the merge loop is a deterministic argmax,
    # so an unrolled CTE replays it (it was rows-only through r7).
    "text_bpe_train": _oracle_bpe_train(),
    "text_bpe_encode": _oracle_bpe_encode(),
    "text_unigram_logprob": ORACLE_TEXT_UNIGRAM_LOGPROB,
    "text_repetition": ORACLE_TEXT_REPETITION,
    "text_dup_ngrams": _oracle_dup_ngrams(),
    "text_readability": ORACLE_TEXT_READABILITY,
    "text_zipf_fit": ORACLE_TEXT_ZIPF_FIT,
    "text_hashing_vectorizer": ORACLE_TEXT_HASHING_VECTORIZER,
    "text_line_dedup": ORACLE_TEXT_LINE_DEDUP,
    "text_pii_scrub": ORACLE_TEXT_PII_SCRUB,
    "text_search": _oracle_text_search(),
    "text_novelty": _oracle_text_novelty(),
    "text_boilerplate": ORACLE_TEXT_BOILERPLATE,
    "text_source_overlap": ORACLE_TEXT_SOURCE_OVERLAP,
}
