"""Similarity search over the `embeddings` table (array<float>, d=64)
— the ANN surface of the LLM-data-pipeline brief.

Three paths, as the brief prescribes:
- `sim_topk` — brute-force cosine top-k: the exact baseline. Query
  set (a handful of pinned vec_ids) is broadcast against the corpus;
  per-query top-k via window row_number. Exact DuckDB oracle (cosine
  rounded to 6dp: both engines accumulate 64-term double dots whose
  ulp jitter is ~1e-14, far below the rounding quantum).
- `sim_topk_ivf` — IVF-bucketed scale path: C pinned centroid vectors
  partition the corpus by nearest-centroid (coarse quantizer); each
  query probes only its NPROBE nearest cells. At 100 TB the corpus is
  hash-partitioned by cell id so a probe touches NPROBE/C of the data
  instead of all of it. Recall < 1 by design → rows-only oracle +
  recall property test against the exact path.
- `dedup_embed` — embedding-cosine near-dup pairs: multi-probe IVF
  cell blocking + exact verification inside the join projection.
  Deterministic blocking ⇒ exact oracle (unlike hash-LSH).

Everything is JVM-side (`zip_with`/`aggregate` expressions); no UDFs.
At 100 TB the dot-product kernel would be the one candidate for a
vectorized Pandas-UDF rewrite — benchmarked here, the built-in
expression wins at d=64 because it never leaves codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import memo, shared
from ..catalog import table
from ..session import local_frame

N_QUERIES = 5       # pinned query set: lowest vec_ids
TOP_K = 10
IVF_CELLS = 16      # pinned centroid set: next-lowest vec_ids
IVF_NPROBE = 4
DEDUP_PROBES = 2    # dedup_embed: cells each vector is blocked into
DEDUP_CELLS = 64    # dedup_embed: finer grid than IVF_CELLS (≈4x fewer pairs)
EMBED_COSINE_T = 0.4  # dedup_embed near-dup threshold
TREE_OCC = 50       # tree keys: cells ∝ N target per-cell occupancy
COARSE_PROBES = 2   # tree keys: coarse groups each vector/cell routes into


def _dot(a, b) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a) -> F.Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def _spread_scan(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Repartition a corpus scan up to the session's parallelism when
    the file layout under-splits it (r12 ingest-probe finding: the
    sf10 embeddings table is ONE ~51 MB parquet split, so the
    N·cells assign crossJoin — 8e8 dot products at cells ∝ N — ran
    as ONE task; jstack showed a single executor thread 38 min deep
    in ArrayAggregate.eval while 31 cores idled). One linear narrow
    shuffle, and only when the scan is narrower than the cluster: at
    100 TB the scan arrives in thousands of splits and this is a
    no-op. Caveat (ADVICE r12): the gate reads the pre-execution RDD
    partition count, which under AQE can differ from the
    post-coalesce runtime partitioning — so it is a heuristic on the
    FILE-SPLIT layout (exact for a parquet scan, which is the only
    input this wraps), not a guarantee about the executed plan; a
    lower spark.sql.files.maxPartitionBytes on the embeddings scan
    would achieve the same spread declaratively."""
    p = spark.sparkContext.defaultParallelism
    return df.repartition(p) if df.rdd.getNumPartitions() < p else df


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    # float -> double once, up front: all downstream math in float64
    # (bit-compatible with the oracle, which also promotes on read).
    return e.select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("v"),
    )


def sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry point (see cache.shared): reused by
    sim_ivf_recall within a session."""
    return shared(spark, sf_dir, "sim_topk", lambda: _sim_topk(spark, sf_dir))


def _raw_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, qv): the pinned query set (N_QUERIES lowest vec_ids)
    over RAW vectors — the single definition the pinned-query keys
    derive their query side from (the unit-normalized flavor is
    _pq_queries; sim_range_search cuts the same rows from its own
    scan)."""
    return (
        _embeddings(spark, sf_dir)
        .orderBy("vec_id")
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )


def _pq_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, qv): the pinned query set, unit-normalized — the query
    side of the PQ keys' lookup table and exact re-rank."""
    return _unit(_raw_queries(spark, sf_dir), "qv")


# --- The ANN pipeline ---------------------------------------------------
# Every top-k key is one pass through the same stages, the distributed
# top-k shape of REPOSE (ICDE'21): candidates (the broadcast query set
# against the whole corpus, or only the IVF-probed cells) → score →
# [ADC shortlist → exact re-rank] → per-key top-k; the recall keys
# compare two such results. Each key keeps its own score expression
# (dot/(‖q‖·‖v‖) on raw vectors, a plain dot on unit vectors): the
# oracles replay that exact expression, and a different rounding path
# could flip a tie.


def _cosine(a: str, b: str) -> F.Column:
    """Cosine of two raw-vector columns, dot/(‖a‖·‖b‖)."""
    return _dot(F.col(a), F.col(b)) / (_norm(a) * _norm(b))


def _all_pairs(q: DataFrame, emb: DataFrame, key: str = "query_id") -> DataFrame:
    """Brute-force candidates: the broadcast query set × one corpus
    scan, each query's own vector excluded."""
    return F.broadcast(q).join(emb, F.col("vec_id") != F.col(key))


def _topk(scored: DataFrame, by, score: F.Column, k: int) -> DataFrame:
    """The `k` best rows per `by` (a column name or list of names):
    row_number ordered by the sort column `score`, ties to the smaller
    vec_id, kept while rank <= k. That rank filter is the form Spark
    plans as a WindowGroupLimit, the partial top-k that runs before the
    window's shuffle."""
    w = Window.partitionBy(by).orderBy(score, F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _neighbors(scored: DataFrame, key: str, score: str, k: int) -> DataFrame:
    """The `k` highest-`score` rows per `key` in the ranked-neighbor
    schema of every top-k key: (key, neighbor_id, rank, score rounded
    to 6dp)."""
    return _topk(scored, key, F.desc(score), k).select(
        key,
        F.col("vec_id").alias("neighbor_id"),
        "rank",
        F.round(score, 6).alias(score),
    )


def _recall(exact: DataFrame, approx: DataFrame, key: str) -> DataFrame:
    """(key, n_hits, recall_at_k): how many of each key's exact
    neighbors the approximate result also returns. A left join, so a
    key with no approximate hit still reports n_hits = 0."""
    hits = approx.select(key, "neighbor_id", F.lit(1).alias("hit"))
    hit = F.coalesce("hit", F.lit(0))
    return (
        exact.select(key, "neighbor_id")
        .join(hits, [key, "neighbor_id"], "left")
        .groupBy(key)
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            F.round(F.sum(hit) / F.count(F.lit(1)), 6).alias("recall_at_k"),
        )
    )


def _sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: pinned queries (N_QUERIES lowest vec_ids) ×
    full corpus → (query_id, neighbor_id, rank, cosine). The query
    side is tiny and broadcast; the corpus is scanned once."""
    scored = _all_pairs(_raw_queries(spark, sf_dir), _embeddings(spark, sf_dir))
    return _neighbors(
        scored.withColumn("cosine", _cosine("qv", "v")), "query_id", "cosine", TOP_K
    )


ORACLE_SIM_TOPK = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.v)
           / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
           AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank,
         cosine
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


def _cells(spark: SparkSession, sf_dir: str, n_cells: int = IVF_CELLS) -> DataFrame:
    """Pinned coarse quantizer: n_cells vectors right after the query
    ids serve as centroids (deterministic stand-in for k-means — the
    cell *assignment* machinery is what's being exercised)."""
    emb = _embeddings(spark, sf_dir)
    return (
        emb.orderBy("vec_id")
        .limit(N_QUERIES + n_cells)
        .orderBy(F.col("vec_id").desc())
        .limit(n_cells)
        .select(F.col("vec_id").alias("cell_id"), F.col("v").alias("cv"))
    )


# Per-(session, sf_dir) corpus size backing the cells ∝ N quantizer
# scaling: one COUNT action per session/sf (the sanctioned 1-row-seed
# class, like derive.default_start), reused by every scaled key.
def _corpus_n(spark: SparkSession, sf_dir: str) -> int:
    return memo(
        spark, sf_dir, "corpus_n", lambda: table(spark, sf_dir, "embeddings").count()
    )


def _unit(df: DataFrame, col: str) -> DataFrame:
    """Replace array column `col` with its L2-normalized form. Norms
    are computed once per vector, so every later cosine is a single
    dot — at |pairs| ≫ |vectors| that triples per-pair throughput
    (the HOF aggregate is evaluated once, not thrice)."""
    return df.withColumn("_n", _norm(col)).withColumn(
        col, F.transform(col, lambda x: x / F.col("_n"))
    ).drop("_n")


def _assign(
    df: DataFrame,
    cells: DataFrame,
    vec_col: str,
    out: str,
    n: int,
) -> DataFrame:
    """Nearest-n-centroid assignment by cosine; emits `out` = array of
    cell ids (n=1 → corpus partitioning, n=NPROBE → query probes)."""
    key = df.columns[0]
    if n == 1:
        # Argmax fast path (r14, guide §2.4 remove shuffles outright):
        # nearest-1 assignment needs no rank window and no join-back —
        # collect the (tiny, broadcast-bounded) centroid table into ONE
        # sorted array row, crossJoin it, and fold an argmax over it
        # per input row. The window path shuffled N·cells narrow rows
        # into a sort + row_number and then hash-joined the picked
        # cells back onto the corpus — two exchanges per assignment
        # that this path removes entirely; the dot products computed
        # per (row, cell) are the identical _dot expressions. Tie-break
        # identical by construction: the array is sorted by cell_id
        # ascending and the fold keeps the incumbent on sim equality,
        # so the lowest cell_id among sim-maxima wins — exactly
        # row_number over (sim DESC, cell_id ASC). Centroid norms ride
        # the collected structs so each is computed once, as _unit
        # does for the corpus side.
        carr = cells.agg(
            F.array_sort(
                F.collect_list(
                    F.struct("cell_id", "cv", _norm("cv").alias("cvn"))
                )
            ).alias("_ca")
        )
        withv = df.crossJoin(F.broadcast(carr)).withColumn("_vn", _norm(vec_col))

        def _step(acc, c):
            s = _dot(F.col(vec_col), c["cv"]) / (F.col("_vn") * c["cvn"])
            return F.when(
                s > acc["s"], F.struct(s.alias("s"), c["cell_id"].alias("c"))
            ).otherwise(acc)

        best = F.aggregate(
            F.col("_ca"),
            F.struct(
                F.lit(float("-inf")).alias("s"),
                F.lit(None).cast("bigint").alias("c"),
            ),
            _step,
        )
        return withv.withColumn(out, F.array(best["c"])).drop("_ca", "_vn")
    sim = _dot(F.col(vec_col), F.col("cv")) / (_norm(vec_col) * _norm("cv"))
    # NARROW the rank window (r12, the sf10 ingest-probe fix): the
    # crossJoin must see the vector to score it, but only
    # (key, cell_id, sim) enters the exchange + sort feeding
    # row_number — the vector column rejoins by key AFTER the top-n
    # filter. The old shape carried the 64-dim array through the
    # window sort: at sf10 that is N·cells ≈ 9e7 rows × ~550 B ≈
    # 49 GB of sort payload (spills), vs ~3 GB narrow; the rejoin is
    # one linear hash join on the unique key. Result-identical (same
    # rank keys, same tie-break), measured A/B in
    # SCALE_PROBE_SF10_INGEST.json.
    scored = (
        df.crossJoin(F.broadcast(cells))
        .select(key, "cell_id", sim.alias("sim"))
    )
    w = Window.partitionBy(key).orderBy(F.col("sim").desc(), F.col("cell_id"))
    picked = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= n)
        .groupBy(key)
        .agg(F.collect_list("cell_id").alias(out))
    )
    return df.join(picked, key)


def sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry point (see cache.shared): reused by
    sim_ivf_recall within a session."""
    return shared(spark, sf_dir, "sim_topk_ivf", lambda: _sim_topk_ivf(spark, sf_dir))


def _ivf_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(cells, corpus): the pinned IVF quantizer and every raw corpus
    vector in its one home cell, (vec_id, v, cell_id)."""
    cells = _cells(spark, sf_dir)
    corpus = _assign(_embeddings(spark, sf_dir), cells, "v", "cells", 1).select(
        "vec_id", "v", F.explode("cells").alias("cell_id")
    )
    return cells, corpus


def _probed(probes: DataFrame, corpus: DataFrame) -> DataFrame:
    """IVF candidates: the broadcast probes (query_id, qv, cell_id, …)
    × the corpus vectors homed in the probed cells, each query's own
    vector excluded, scored by raw cosine."""
    return (
        F.broadcast(probes)
        .join(corpus, "cell_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cosine", _cosine("qv", "v"))
    )


def _ivf_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF candidate routing of sim_topk_ivf and sim_ivfpq_topk:
    each pinned raw query probes its IVF_NPROBE nearest cells →
    (query_id, qv, vec_id, v, cosine)."""
    cells, corpus = _ivf_corpus(spark, sf_dir)
    probes = _assign(
        _raw_queries(spark, sf_dir), cells, "qv", "probe_cells", IVF_NPROBE
    ).select("query_id", "qv", F.explode("probe_cells").alias("cell_id"))
    return _probed(probes, corpus)


def _sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: corpus assigned to 1 cell, queries probe
    their IVF_NPROBE nearest cells; exact cosine + top-k inside the
    probed cells only → same schema as sim_topk. (sim_recall_curve
    does NOT call this per leg — it ranks probes once at the largest
    count and filters, see its docstring; only the ORACLE side is
    parameterized, _oracle_ivf_route(nprobe).)"""
    return _neighbors(_ivf_route(spark, sf_dir), "query_id", "cosine", TOP_K)


def dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry point (see cache.shared): the verified pair set is
    reused by corpus_semdedup and the dedup_embed_tree alias within a
    session (r11) — at 100 TB the pair table is an ingest-time
    materialized artifact every consumer reads (the
    dedup_ngram/dedup_clusters sharing rule)."""
    return shared(
        spark, sf_dir, "dedup_embed_pairs", lambda: _dedup_embed(spark, sf_dir)
    )


def _dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (the brief's embedding-space
    dedup method): candidates are pairs sharing any of their
    DEDUP_PROBES nearest quantizer cells; candidates are exact-verified
    at cosine ≥ EMBED_COSINE_T → (vec_a, vec_b, cosine).

    The cell blocking makes the quadratic term per-cell (Σ|cell|²),
    never corpus² — same trade as dedup_ngram's source blocking but on
    a learned/geometric key. Multi-probe (2 cells per vector) recovers
    most boundary pairs a 1-cell blocking would split. Everything —
    centroid set, assignment tiebreaks, threshold — is deterministic,
    so unlike hash-LSH this blocked dedup has an EXACT DuckDB oracle
    replaying the routing tree.

    r13 (VERDICT r12 next #1): the build is pinned to the
    deployment-scale quantizer — cells ∝ N (max(DEDUP_CELLS,
    N // TREE_OCC), per-cell occupancy ≈ TREE_OCC) routed by the
    two-level tree (_assign_2level). The r8–r12 build assigned every
    vector flat against √N cells: N·cells assign dots, N^1.5, measured
    exp 1.40 sf1→sf10 (240 s at sf10). The tree build measured exp
    0.70 at 59.3 s sf10 with the blocking-recall trade quantified in
    SCALE_PROBE_SF10_INGEST.json `dedup_pair_quality` (tree pairs
    99.8% a subset of flat's at sf10; precision stays exact — every
    emitted pair is cosine-verified inside the join).

    Vectors and cells are normalized once up front, so routing and
    every pairwise cosine are single dots (the HOF aggregate, ~10µs
    per eval, is the unit of cost). Verifying INSIDE the join
    projection filters candidates to survivors before any further
    shuffle — dedupe-then-verify shuffles |candidates| × 2d doubles
    and measured 10x slower at sf0.1.

    100 TB notes: per-cell occupancy is CONSTANT (≈TREE_OCC), so the
    per-cell verify join is linear in N; the corpus is
    hash-partitioned by cell id so each pair bucket is one
    partition's work; nothing corpus-proportional is broadcast (the
    only broadcast inside _assign_2level is the √cells coarse table).
    """
    n_cells = max(DEDUP_CELLS, _corpus_n(spark, sf_dir) // TREE_OCC)
    emb = _spread_scan(spark, _unit(_embeddings(spark, sf_dir), "v"))
    cells = _unit(_cells(spark, sf_dir, n_cells), "cv")
    blocked = (
        _assign_2level(spark, emb, cells, DEDUP_PROBES, n_cells)
        .select("vec_id", F.col("v").alias("nv"), "cell_id")
        .localCheckpoint(eager=True)  # both self-join branches read it
    )
    a, b = blocked.alias("a"), blocked.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cell_id") == F.col("b.cell_id"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _dot(F.col("a.nv"), F.col("b.nv")).alias("cosine"),
        )
        .filter(F.col("cosine") >= EMBED_COSINE_T)
        .dropDuplicates(["vec_a", "vec_b"])
        .select("vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))
    )


def corpus_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup report (the Abbas et al. 2023
    recipe — cluster the embedding space, drop all-but-one of each
    semantic-duplicate group — recast Spark-first): connected
    components over dedup_embed's deterministic IVF-blocked
    cosine ≥ T pair graph, min-vec_id canonical per component,
    survivors = singletons + canonicals → per-label
    (label, n_vectors, n_clustered, n_survivors).

    Composition showcase (VERDICT r10 #7): the pair kernel is the
    session-shared dedup_embed artifact, clustering is the engine's
    own large-star/small-star CC operator — the embedding sibling of
    dedup_clusters, closing the last widely-used dedup modality. The
    deterministic quantizer keeps the whole path exact-oracle-able
    (the oracle replays the pairs + a recursive-CTE CC).

    100 TB shape: CC rounds are output-bounded (pair graph ≪ corpus),
    the cluster map is duplicate-bounded, and the final pass is one
    corpus scan + an equi-join + a map-side-combined groupBy on the
    tiny label domain. Keeping survivors per SOURCE group is the
    report a curation pipeline acts on (how much of each slice
    semantic dedup removes)."""
    from ..graph import traversal
    from ..graph.derive import symmetrize

    pairs = dedup_embed(spark, sf_dir)
    sym = symmetrize(
        pairs.select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    )
    comp = traversal.connected_components(spark, sym).select(
        F.col("vid").alias("vec_id"), F.col("comp").alias("cluster_id")
    )
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    survivor = F.col("cluster_id").isNull() | (
        F.col("cluster_id") == F.col("vec_id")
    )
    return (
        lab.join(comp, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_clustered"),
            F.sum(F.when(survivor, 1).otherwise(0))
            .cast("bigint")
            .alias("n_survivors"),
        )
    )


# Formulated the same way as the Spark side (ADVICE r2): every vector
# is L2-normalized ONCE in a CTE, and every later cosine is a plain
# dot — not dot/(|a||b|) over raw vectors, whose different rounding
# path could flip cell-assignment ties or threshold-boundary pairs
# between the engines on other data. Since r13 this replays the
# two-level routing tree (coarse anchors → cell routing → vector
# routing → fine rank) — the declared build's quantizer.
ORACLE_DEDUP_EMBED = f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
cells AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  ORDER BY vec_id
  LIMIT (SELECT GREATEST({DEDUP_CELLS}, COUNT(*) // {TREE_OCC})
         FROM embeddings)
  OFFSET {N_QUERIES}
),
ng AS (
  SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))
                          AS BIGINT)) AS g
  FROM cells
),
coarse AS (
  SELECT cell_id AS grp, cv AS gv FROM cells
  ORDER BY cell_id LIMIT (SELECT g FROM ng)
),
cell_grp AS (
  SELECT grp, cell_id, cv FROM (
    SELECT c.cell_id, c.cv, g.grp,
           ROW_NUMBER() OVER (PARTITION BY c.cell_id
             ORDER BY list_dot_product(c.cv, g.gv) DESC, g.grp) AS rn
    FROM cells c CROSS JOIN coarse g) WHERE rn = 1
),
vec_grp AS (
  SELECT vec_id, grp FROM (
    SELECT e.vec_id, g.grp,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, g.gv) DESC, g.grp) AS rn
    FROM e CROSS JOIN coarse g) WHERE rn <= {COARSE_PROBES}
),
blocked AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT vg.vec_id, e.v, cg.cell_id,
           ROW_NUMBER() OVER (PARTITION BY vg.vec_id
             ORDER BY list_dot_product(e.v, cg.cv) DESC, cg.cell_id) AS rn
    FROM vec_grp vg
    JOIN e ON e.vec_id = vg.vec_id
    JOIN cell_grp cg ON cg.grp = vg.grp) WHERE rn <= {DEDUP_PROBES}
),
cand AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         FIRST(a.v) AS va, FIRST(b.v) AS vb
  FROM blocked a JOIN blocked b
    ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
)
SELECT vec_a, vec_b, ROUND(list_dot_product(va, vb), 6) AS cosine
FROM cand
WHERE list_dot_product(va, vb) >= {EMBED_COSINE_T}
"""


def dedup_embed_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALIAS of dedup_embed since r13. r12 staged the two-level
    cells-∝-N build under this key while the primary still ran the √N
    flat quantizer; r13 promoted the tree build to be the primary
    (VERDICT r12 next #1), so the two keys are now the same artifact.
    The key is retained for surface continuity (every prior round's
    correctness union stays comparable) and costs one cache read —
    both names serve the session-shared `dedup_embed_pairs`
    checkpoint."""
    return dedup_embed(spark, sf_dir)

ORACLE_DEDUP_EMBED_TREE = ORACLE_DEDUP_EMBED


# corpus_semdedup: dedup_embed's pair oracle + the dedup_clusters
# recursive-CTE CC + a per-label survivor aggregate. The UNION-dedup
# bounds the recursion (same rationale as _oracle_dedup_clusters).
ORACLE_CORPUS_SEMDEDUP = f"""
WITH RECURSIVE pairs AS ({ORACLE_DEDUP_EMBED}),
sym AS (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b AS src, vec_a AS dst FROM pairs
),
verts AS (SELECT DISTINCT src AS vid FROM sym),
walk(vid, lbl) AS (
    SELECT vid, vid FROM verts
    UNION
    SELECT s.dst, w.lbl FROM walk w JOIN sym s ON s.src = w.vid
),
comp AS (SELECT vid AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY vid)
SELECT e.label,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM(CASE WHEN c.cluster_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clustered,
       CAST(SUM(CASE WHEN c.cluster_id IS NULL OR c.cluster_id = e.vec_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
FROM embeddings e LEFT JOIN comp c ON c.vec_id = e.vec_id
GROUP BY e.label
"""


SWEEP_THRESHOLDS = [0.4, 0.5, 0.6, 0.7, 0.8, 0.9]  # sim_dedup_sweep


def sim_dedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup YIELD CURVE vs cosine threshold → (threshold, n_pairs,
    n_dropped): for each candidate threshold, how many verified
    near-dup pairs survive and how many documents the keep-lowest-id
    rule would drop (distinct higher vec_id across surviving pairs) —
    the sweep a curation team runs BEFORE committing to a semantic
    dedup threshold, as a hash-checked deliverable rather than a
    notebook one-off (the sibling of sim_recall_curve's
    quality-vs-nprobe sweep, on the dedup side).

    100 TB shape: zero additional corpus work — the sweep reads the
    session-shared dedup_embed pair table (an ingest-time artifact;
    pairs ≪ corpus by construction). The threshold fan-out is a
    MAP-SIDE array HOF (filter the 6-element literal by cosine ≥ t,
    explode) — no join ever touches the pair table, so there is no
    non-equi BroadcastNestedLoopJoin to blow up when pairs are
    billions of rows; per-threshold aggregation is one
    map-side-combined groupBy on a ≤6-key domain. The only join is
    6-row × ≤6-row (the literal domain LEFT-joins the aggregate so
    thresholds with no surviving pairs still report (0, 0) — the
    curve's domain is fixed by SWEEP_THRESHOLDS, not by the data)."""
    pairs = dedup_embed(spark, sf_dir)
    th_arr = F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])
    agg = (
        pairs.select(
            "vec_b",
            F.explode(
                F.filter(th_arr, lambda t: F.col("cosine") >= t)
            ).alias("threshold"),
        )
        .groupBy("threshold")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("vec_b").alias("n_dropped"),
        )
    )
    th = local_frame(
        spark, [(float(t),) for t in SWEEP_THRESHOLDS], "threshold double"
    )
    return th.join(F.broadcast(agg), "threshold", "left").select(
        "threshold",
        F.coalesce("n_pairs", F.lit(0).cast("bigint")).alias("n_pairs"),
        F.coalesce("n_dropped", F.lit(0).cast("bigint")).alias("n_dropped"),
    )


# The sweep oracle reuses the declared pair oracle verbatim as a CTE
# (the corpus_semdedup composition pattern), so the two keys can never
# disagree about what a "pair" is; thresholds compare against the same
# 6dp-rounded cosine column the pair table exports.
ORACLE_SIM_DEDUP_SWEEP = f"""
WITH pairs AS ({ORACLE_DEDUP_EMBED}),
th AS (SELECT UNNEST(CAST({SWEEP_THRESHOLDS} AS DOUBLE[])) AS threshold)
SELECT th.threshold,
       CAST(COUNT(p.vec_a) AS BIGINT) AS n_pairs,
       CAST(COUNT(DISTINCT p.vec_b) AS BIGINT) AS n_dropped
FROM th LEFT JOIN pairs p ON p.cosine >= th.threshold
GROUP BY th.threshold
"""


# sim_topk_ivf is deterministic algebra end-to-end (pinned centroid
# set, row_number tiebreaks on cell_id/vec_id) — so unlike hash-LSH it
# has an EXACT oracle: DuckDB replays the same coarse quantization,
# probe selection, and in-cell ranking. Upgraded from rows-only in r3
# (VERDICT r2 #5: approximate operators must ship measured quality,
# and the first step is making the approximation itself auditable).
# Shared IVF routing CTE fragment: the coarse-cell assignment both
# sim_topk_ivf and the IVF-PQ hybrid build on. One definition so the
# tie-break-sensitive expressions (rank by raw cosine, cell_id / vec_id
# tie-breaks) cannot drift between the two oracles — the Spark twins
# share _cells/_assign/_raw_queries the same way.
def _oracle_ivf_route(nprobe: int = IVF_NPROBE) -> str:
    """The IVF routing CTE set, parameterized by probe count (the
    declared keys use the IVF_NPROBE default; sim_recall_curve sweeps
    it) — one definition for every IVF oracle."""
    return f"""
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cells AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  ORDER BY vec_id LIMIT {IVF_CELLS} OFFSET {N_QUERIES}
),
corpus AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT e.vec_id, e.v, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell_id) AS rn
    FROM e CROSS JOIN cells c) WHERE rn <= 1
),
qr AS (
  SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT {N_QUERIES}
),
probes AS (
  SELECT query_id, qv, cell_id FROM (
    SELECT q.query_id, q.qv, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY list_dot_product(q.qv, c.cv)
                        / (sqrt(list_dot_product(q.qv, q.qv))
                           * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell_id) AS rn
    FROM qr q CROSS JOIN cells c) WHERE rn <= {nprobe}
)
"""


_ORACLE_IVF_ROUTE = _oracle_ivf_route()

ORACLE_SIM_TOPK_IVF = f"""
WITH {_ORACLE_IVF_ROUTE},
scored AS (
  SELECT p.query_id, ca.vec_id AS neighbor_id,
         list_dot_product(p.qv, ca.v)
           / (sqrt(list_dot_product(p.qv, p.qv))
              * sqrt(list_dot_product(ca.v, ca.v))) AS cosine
  FROM probes p JOIN corpus ca ON p.cell_id = ca.cell_id
  WHERE ca.vec_id <> p.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank,
         cosine
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= {TOP_K}
"""


def sim_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the IVF path against the exact baseline →
    (query_id, n_hits, recall_at_k) — the quality metric a real ANN
    deployment ships next to its index (VERDICT r2 #5). Both sides are
    declared operators; the recall VALUE is hash-checked by the oracle,
    so the driver artifact itself records how much the nprobe={IVF_NPROBE}
    approximation gives up. Cost: one extra broadcast join over two
    already-tiny (N_QUERIES·K-row) results."""
    return _recall(sim_topk(spark, sf_dir), sim_topk_ivf(spark, sf_dir), "query_id")


def _oracle_recall(approx_sql: str) -> str:
    """The DuckDB twin of _recall against the exact sim_topk oracle —
    one template for the IVF, PQ and IVF-PQ recall keys."""
    return f"""
WITH exact AS ({ORACLE_SIM_TOPK}),
approx AS ({approx_sql})
SELECT e.query_id,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_k
FROM exact e
LEFT JOIN approx a
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY e.query_id
"""


ORACLE_SIM_IVF_RECALL = _oracle_recall(ORACLE_SIM_TOPK_IVF)


# sim_recall_curve's probe sweep (the declared sim_topk_ivf point,
# IVF_NPROBE=4, sits inside it).
RECALL_CURVE_PROBES = (1, 2, 4, 8)


def sim_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall/probe-count tuning curve an ANN deployment reads
    before picking its operating point → one row per probed cell
    count: (nprobe, n_hits, recall_at_k). sim_ivf_recall hash-checks
    the SINGLE declared operating point; this key sweeps nprobe over
    RECALL_CURVE_PROBES against the same exact baseline, so the driver
    artifact records the whole cost/quality frontier (recall must be
    non-decreasing in nprobe — asserted in tests).

    Cost/scale — ONE cell-blocked search for the whole curve, not one
    per leg: probes are ranked once at the LARGEST probe count (a leg
    with nprobe=p is exactly the probe-rank ≤ p subset, because probe
    assignment is top-p by the same (sim desc, cell_id) order —
    _assign's tie-break, enforced per leg by the oracle), the
    candidate join against the corpus runs once, and the legs expand
    as a broadcast ≤-join on the tiny probe_rank column before the
    per-(leg, query) top-k window. Candidate work stays bounded by
    max(nprobe)/cells of the corpus; the recall join is over
    N_QUERIES·K·legs rows. At 100 TB this is the offline index-tuning
    job vector stores run on a sample."""
    cells, corpus = _ivf_corpus(spark, sf_dir)
    wq = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("cell_id")
    )
    probes = (
        _raw_queries(spark, sf_dir)
        .crossJoin(F.broadcast(cells))
        .withColumn("sim", _cosine("qv", "cv"))
        .withColumn("probe_rank", F.row_number().over(wq))
        .filter(F.col("probe_rank") <= max(RECALL_CURVE_PROBES))
        .select("query_id", "qv", "cell_id", "probe_rank")
    )
    cand = _probed(probes, corpus).select("query_id", "vec_id", "probe_rank", "cosine")
    legs = local_frame(spark, [(p,) for p in RECALL_CURVE_PROBES], "nprobe int")
    approx = _topk(
        cand.join(F.broadcast(legs), F.col("probe_rank") <= F.col("nprobe")),
        ["nprobe", "query_id"],
        F.desc("cosine"),
        TOP_K,
    ).select(
        "nprobe", "query_id", F.col("vec_id").alias("neighbor_id"),
        F.lit(1).alias("hit"),
    )
    exact = (
        sim_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .crossJoin(F.broadcast(legs))
    )
    return (
        exact.join(approx, ["nprobe", "query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
            F.count(F.lit(1)).alias("n_truth"),
        )
        .select(
            "nprobe",
            "n_hits",
            F.round(F.col("n_hits") / F.col("n_truth"), 6).alias("recall_at_k"),
        )
    )


def _oracle_recall_curve() -> str:
    legs = []
    for np_ in RECALL_CURVE_PROBES:
        legs.append(f"""
SELECT {np_} AS nprobe,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_k
FROM (SELECT query_id, neighbor_id FROM ({{exact}}) x) e
LEFT JOIN (
  WITH {_oracle_ivf_route(np_)},
  scored AS (
    SELECT p.query_id, ca.vec_id AS neighbor_id,
           list_dot_product(p.qv, ca.v)
             / (sqrt(list_dot_product(p.qv, p.qv))
                * sqrt(list_dot_product(ca.v, ca.v))) AS cosine
    FROM probes p JOIN corpus ca ON p.cell_id = ca.cell_id
    WHERE ca.vec_id <> p.query_id
  )
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {TOP_K}
) a ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id""")
    return "\nUNION ALL\n".join(legs)


RANGE_SEARCH_T = 0.3  # cosine radius (testdata cosines top out ~0.40)


def sim_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search — the OTHER ANN query form next to top-k: every
    corpus vector within cosine ≥ RANGE_SEARCH_T of each pinned query
    → (query_id, neighbor_id, cosine). Unlike top-k the result size is
    data-dependent, which is exactly why real vector stores expose
    both (dedup wants a radius, retrieval wants a k).

    Same scale shape as sim_topk: the query set broadcasts, the corpus
    is scanned once, and the threshold filter runs inside the join
    projection, so only matches reach the (absent) downstream shuffle
    — a radius query is a pure map over the corpus. The IVF-bucketed
    variant would prune cells by centroid-distance bound
    (|cos(q,c)| ≥ T - cell radius); at this corpus size the single
    scan IS the right plan."""
    emb = _unit(_embeddings(spark, sf_dir), "v")
    # The query side is cut from the same scan frame as the corpus
    # side: _pq_queries would read the table a second time, and each
    # read costs one more Spark job (parquet schema inference).
    q = (
        emb.orderBy("vec_id")
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    )
    # Threshold on the ROUNDED cosine (the same value both engines
    # compare and emit): a raw-double threshold could flip membership
    # of a vector whose cosine lands within float rounding of T
    # between the two engines' independent dot evaluations (ADVICE r5).
    return (
        _all_pairs(q, emb)
        .withColumn("cosine", F.round(_dot(F.col("qv"), F.col("v")), 6))
        .filter(F.col("cosine") >= RANGE_SEARCH_T)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cosine",
        )
    )


# Unit-normalize once in a CTE (the dedup_embed formulation) so both
# engines compare the identical plain-dot double at the threshold.
ORACLE_SIM_RANGE_SEARCH = f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT {N_QUERIES}
)
SELECT query_id, neighbor_id, cosine FROM (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         ROUND(list_dot_product(q.qv, e.v), 6) AS cosine
  FROM q JOIN e ON e.vec_id <> q.query_id
)
WHERE cosine >= {RANGE_SEARCH_T}
"""


KNN_K = 5          # neighbors per vector in the kNN graph
# Cells each SOURCE vector probes. The testdata embeddings are uniform
# random (no cluster structure — the worst case for geometric
# blocking), so recall@5 is ~0.34 at 2 probes and ~0.52 at 4; 4 is the
# honest knob setting where the measured recall key stays >0.5 while
# candidate work is still N²·(PROBES/CELLS) = N²/4, not N².
KNN_PROBES = 4
# Absolute exact-query budget for the recall audit — the 100 TB knob
# (VERDICT r6 item 4): a modulus sample (`vec_id % 10 == 0`) scales
# WITH the corpus (1e8 exact queries at 1e9 vectors); an absolute cap
# keeps the audit O(CAP × corpus) no matter the scale. Membership is
# the corpus_sample idiom: the CAP vec_ids with the smallest
# md5(vec_id) — deterministic, engine-portable, and planned as a
# distributed partial top-N (TakeOrderedAndProject), never a global
# sort.
KNN_SAMPLE_CAP = 64


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry point (see cache.shared): reused by
    sim_knn_recall and the sim_knn_graph_tree alias within a
    session."""
    return shared(
        spark, sf_dir, "sim_knn_graph", lambda: _sim_knn_graph(spark, sf_dir)
    )


def _sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-corpus approximate kNN graph (VERDICT r5 item 3): every
    vector's top-KNN_K cosine neighbors among candidates sharing a
    probed quantizer cell → (src_id, neighbor_id, rank, cosine). This
    is the batch ANN join that feeds embedding dedup, graph
    clustering, and diversity sampling at scale — sim_topk generalized
    from a pinned query set to query-set = corpus.

    The reference's data model is an undirected neighbor graph over
    small vertex sets (adjacency matrix, secondary_server.c:119-153);
    this operator is the scale analogue — neighbor edges DERIVED from
    geometry over a corpus too large to materialize a matrix for.

    r13 (VERDICT r12 next #1): the DECLARED build is the
    deployment-scale quantizer — cells ∝ N (max(IVF_CELLS,
    N // TREE_OCC), per-cell occupancy ≈ TREE_OCC) routed by the
    two-level tree (_assign_2level), the shape measured at sf10 as
    56.8 s / exponent 0.20 with recall@5 = 1.0 on both probe decks
    (SCALE_PROBE_SF10_INGEST.json). The r8–r12 build assigned every
    vector flat against √N cells and measured exp 1.53 sf1→sf10
    (462 s at sf10 — the N·cells assign dots are N^1.5 at cells = √N).

    Shape: each vector routes into its KNN_PROBES nearest fine cells
    through COARSE_PROBES coarse anchors (the rn=1 cell doubles as
    the vector's HOME cell, so corpus partitioning and probe
    selection come out of one pass); the candidate join is home-side
    × probe-side on cell_id, so the quadratic term is
    Σ|cell|·|probes into cell| — per-cell occupancy is constant
    (≈TREE_OCC), making candidate work linear in N. A (src, dst) pair
    arises at most once because dst has exactly one home cell. At
    100 TB: hash-partition the home table by cell_id and the join is
    per-cell-local; recall is measured (sim_knn_recall — a signed
    deliverable, not a probe note), the knobs are KNN_PROBES /
    TREE_OCC / COARSE_PROBES.

    Deterministic end-to-end (pinned centroids, rank tie-breaks on
    grp/cell_id/vec_id) ⇒ EXACT DuckDB oracle replaying the whole
    routing tree, like sim_topk_ivf."""
    n = _corpus_n(spark, sf_dir)
    return _sim_knn_graph_2level(
        spark, sf_dir, max(IVF_CELLS, n // TREE_OCC)
    )


# Since r13 the declared key's oracle replays the two-level routing
# tree (coarse anchors → cell routing → vector routing → fine rank) —
# see _assign_2level; every rank and tie-break is deterministic, so
# the replay is exact.
ORACLE_SIM_KNN_GRAPH = f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
cells AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  ORDER BY vec_id
  LIMIT (SELECT GREATEST({IVF_CELLS}, COUNT(*) // {TREE_OCC})
         FROM embeddings)
  OFFSET {N_QUERIES}
),
ng AS (
  -- n_coarse from the ACTUAL cell count (matches the Spark side's
  -- n_cells); FLOOR(SQRT(double)) agrees with _n_coarse's integer
  -- isqrt for every count below 2^52
  SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)))
                          AS BIGINT)) AS g
  FROM cells
),
coarse AS (
  SELECT cell_id AS grp, cv AS gv FROM cells
  ORDER BY cell_id LIMIT (SELECT g FROM ng)
),
cell_grp AS (
  SELECT grp, cell_id, cv FROM (
    SELECT c.cell_id, c.cv, g.grp,
           ROW_NUMBER() OVER (PARTITION BY c.cell_id
             ORDER BY list_dot_product(c.cv, g.gv) DESC, g.grp) AS rn
    FROM cells c CROSS JOIN coarse g) WHERE rn = 1
),
vec_grp AS (
  SELECT vec_id, grp FROM (
    SELECT e.vec_id, g.grp,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, g.gv) DESC, g.grp) AS rn
    FROM e CROSS JOIN coarse g) WHERE rn <= {COARSE_PROBES}
),
assigned AS (
  SELECT vec_id, v, cell_id, rn FROM (
    SELECT vg.vec_id, e.v, cg.cell_id,
           ROW_NUMBER() OVER (PARTITION BY vg.vec_id
             ORDER BY list_dot_product(e.v, cg.cv) DESC, cg.cell_id) AS rn
    FROM vec_grp vg
    JOIN e ON e.vec_id = vg.vec_id
    JOIN cell_grp cg ON cg.grp = vg.grp) WHERE rn <= {KNN_PROBES}
),
home AS (SELECT vec_id, v, cell_id FROM assigned WHERE rn = 1),
scored AS (
  SELECT p.vec_id AS src_id, h.vec_id AS neighbor_id,
         list_dot_product(p.v, h.v) AS cosine
  FROM assigned p JOIN home h ON p.cell_id = h.cell_id
  WHERE h.vec_id <> p.vec_id
),
ranked AS (
  SELECT src_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY src_id
                            ORDER BY cosine DESC, neighbor_id) AS rank,
         cosine
  FROM scored
)
SELECT src_id, neighbor_id, rank, ROUND(cosine, 6) AS cosine
FROM ranked WHERE rank <= {KNN_K}
"""


def _knn_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KNN_SAMPLE_CAP vec_ids with the smallest md5 (the
    corpus_sample idiom) — the deterministic absolute-size recall
    sample of the kNN recall audits."""
    return (
        _embeddings(spark, sf_dir)
        .select("vec_id", F.md5(F.col("vec_id").cast("string")).alias("h"))
        .orderBy("h", "vec_id")
        .limit(KNN_SAMPLE_CAP)
        .select("vec_id")
    )


def _knn_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-sample top-KNN_K → (src_id, neighbor_id): the CAP ×
    corpus exact side of the recall audit (broadcast sample, one
    linear corpus scan).

    Session-shared since r13 (the dedup pair-table rule): THREE
    declared keys consume this exact CAP×corpus pass — sim_knn_recall,
    its sim_knn_tree_recall twin, and ml_knn_classify's neighbor
    vote — so it materializes once per (session, sf) as the
    `knn_exact_topk` bench setup line item instead of once per key.
    At 100 TB it is the ingest-time ground-truth table a recall
    monitor maintains next to the index build itself."""
    return shared(
        spark, sf_dir, "knn_exact_topk", lambda: _knn_exact_build(spark, sf_dir)
    )


def _knn_exact_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _unit(_embeddings(spark, sf_dir), "v")
    sample = _knn_sample(spark, sf_dir)
    q = emb.join(F.broadcast(sample), "vec_id", "left_semi").select(
        F.col("vec_id").alias("src_id"), F.col("v").alias("qv")
    )
    scored = _all_pairs(q, emb, "src_id").withColumn(
        "cosine", _dot(F.col("qv"), F.col("v"))
    )
    return _topk(scored, "src_id", F.desc("cosine"), KNN_K).select(
        "src_id", F.col("vec_id").alias("neighbor_id")
    )


def _n_coarse(n_cells: int) -> int:
    """Coarse anchor count of the two-level quantizer: max(4, ⌊√cells⌋).
    The oracles' GREATEST(4, FLOOR(SQRT(CAST(n AS DOUBLE)))) agrees
    with this integer isqrt for every n below 2^52."""
    import math

    return max(4, math.isqrt(n_cells))


def _assign_2level(
    spark: SparkSession,
    emb: DataFrame,
    cells: DataFrame,
    n: int,
    n_cells: int,
) -> DataFrame:
    """TWO-LEVEL (hierarchical) nearest-n-cell assignment over unit
    vectors → (vec_id, v, cell_id, rn) — the deployment shape once
    cells scale ∝ N: the flat assign's N·cells dot products become
    N·(√cells coarse + COARSE_PROBES·cells/√cells fine) ≈ 3N√cells,
    the IVF-tree routing every large ANN system uses once the
    centroid table outgrows a flat scan. (A √cells-sized coarse level
    leaves a 3N√cells term — bounded here to ~N^1.25 at cells ∝ N;
    the production escalation past that regime is a deeper tree,
    same recurrence.)

    Level 1: the first _n_coarse(cells) fine cells double as coarse
    anchors; every fine cell routes to its nearest anchor (cells ×
    √cells dots). Level 2: each vector routes into its COARSE_PROBES
    nearest anchors, then ranks only the fine cells living in those
    groups.
    Since r13 this IS the declared keys' quantizer (VERDICT r12 next
    #1); everything — pinned centroids, sim-desc/grp/cell_id
    tie-breaks — is deterministic, so the DuckDB oracles replay it
    exactly.

    Broadcast discipline (ADVICE r12): only `coarse` (√cells rows) is
    hinted broadcast — it is the one table that stays
    sublinear-in-N. `cell_grp` has cells ∝ N rows, so its join runs
    on the planner's stats: AQE converts it to broadcast in the
    bench regime (it's MBs here) and falls back to a shuffle join on
    grp once the cell table outgrows the broadcast threshold —
    nothing corpus-proportional is ever pinned driver-side. n_cells
    is passed by the caller (all callers already know it), not
    re-counted."""
    coarse = (
        cells.orderBy("cell_id")
        .limit(_n_coarse(n_cells))
        .select(F.col("cell_id").alias("grp"), F.col("cv").alias("gv"))
        .localCheckpoint(eager=True)
    )
    # fine cell -> its one coarse group (cells × n_coarse rows, tiny)
    w_cell_grp = Window.partitionBy("cell_id").orderBy(
        F.col("gsim").desc(), F.col("grp")
    )
    cell_grp = (
        cells.crossJoin(F.broadcast(coarse))
        .select(
            "cell_id", "cv", "grp",
            _dot(F.col("cv"), F.col("gv")).alias("gsim"),
        )
        .withColumn("rn", F.row_number().over(w_cell_grp))
        .filter(F.col("rn") == 1)
        .select("grp", "cell_id", "cv")
        .localCheckpoint(eager=True)
    )
    # vector -> its COARSE_PROBES nearest groups (narrow window)
    w_vec_grp = Window.partitionBy("vec_id").orderBy(
        F.col("gsim").desc(), F.col("grp")
    )
    vec_grp = (
        emb.crossJoin(F.broadcast(coarse))
        .select("vec_id", "grp", _dot(F.col("v"), F.col("gv")).alias("gsim"))
        .withColumn("rn", F.row_number().over(w_vec_grp))
        .filter(F.col("rn") <= COARSE_PROBES)
        .select("vec_id", "grp")
    )
    # vector scores ONLY the fine cells of its routed groups
    w_vec_cell = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("cell_id")
    )
    return (
        vec_grp.join(emb, "vec_id")
        .join(cell_grp, "grp")
        .select(
            "vec_id", "cell_id",
            _dot(F.col("v"), F.col("cv")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w_vec_cell))
        .filter(F.col("rn") <= n)
        .select("vec_id", "cell_id", "rn")
        .join(emb, "vec_id")
        .select("vec_id", "v", "cell_id", "rn")
        .localCheckpoint(eager=True)
    )


def _sim_knn_graph_2level(
    spark: SparkSession, sf_dir: str, n_cells: int
) -> DataFrame:
    """kNN graph built on the two-level quantizer (_assign_2level),
    parameterized by cell count (the declared key pins cells ∝ N);
    everything downstream of assignment (home/probe split, per-cell
    candidate join, top-K rank) is the candidate topology the r8–r12
    flat √N build used. Measured in
    SCALE_PROBE_SF10_INGEST.json: with cells = N/50 this build is
    56.8 s at sf10 vs 462 s for the √N flat build — 8× cheaper
    ABSOLUTE — at recall@5 = 1.0 on both probe decks."""
    emb = _spread_scan(spark, _unit(_embeddings(spark, sf_dir), "v"))
    cells = _unit(_cells(spark, sf_dir, n_cells), "cv")
    assigned = _assign_2level(spark, emb, cells, KNN_PROBES, n_cells)
    home = assigned.filter(F.col("rn") == 1).select("vec_id", "v", "cell_id")
    probes = assigned.select(
        F.col("vec_id").alias("src_id"),
        F.col("v").alias("sv"),
        "cell_id",
    )
    scored = (
        probes.join(home, "cell_id")
        .filter(F.col("vec_id") != F.col("src_id"))
        .withColumn("cosine", _dot(F.col("sv"), F.col("v")))
    )
    return _neighbors(scored, "src_id", "cosine", KNN_K)


def sim_knn_graph_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALIAS of sim_knn_graph since r13. r12 staged the two-level
    cells-∝-N build under this key while the primary still ran the √N
    flat quantizer; r13 promoted the tree build to be the primary
    (VERDICT r12 next #1), so the two keys are now the same artifact.
    Retained for surface continuity (prior rounds' correctness union
    stays comparable); both names serve the session-shared
    `sim_knn_graph` checkpoint, so this key costs one cache read."""
    return sim_knn_graph(spark, sf_dir)

ORACLE_SIM_KNN_GRAPH_TREE = ORACLE_SIM_KNN_GRAPH


def sim_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the kNN graph against per-vector EXACT
    top-k on a deterministic ABSOLUTE-size sample (the KNN_SAMPLE_CAP
    vec_ids with the smallest md5 — the corpus_sample idiom) →
    (src_id, n_hits, recall_at_k). The quality metric that turns
    sim_knn_graph from "an ANN join" into a deployable index: the
    probe-count knob is only tunable against a measured recall, and
    hash-checking the recall VALUE puts the approximation quality
    itself under the driver's gate (the sim_ivf_recall pattern).

    Cost: the exact side is CAP × corpus (broadcast sample, one
    corpus scan) — constant query count regardless of corpus size,
    the same budget trade a production recall monitor makes
    (VERDICT r6 item 4: the old `% 10` sample was 1e8 exact queries
    at 1e9 vectors)."""
    sample = _knn_sample(spark, sf_dir)
    knn = sim_knn_graph(spark, sf_dir).join(
        F.broadcast(sample.select(F.col("vec_id").alias("src_id"))),
        "src_id",
        "left_semi",
    )
    return _recall(_knn_exact_topk(spark, sf_dir), knn, "src_id")


ORACLE_SIM_KNN_RECALL = f"""
WITH samp AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {KNN_SAMPLE_CAP}
),
knn_all AS ({ORACLE_SIM_KNN_GRAPH}),
knn AS (
  SELECT src_id, neighbor_id FROM knn_all
  WHERE src_id IN (SELECT vec_id FROM samp)
),
e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
q AS (
  SELECT vec_id AS src_id, v AS qv FROM e
  WHERE vec_id IN (SELECT vec_id FROM samp)
),
scored AS (
  SELECT q.src_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.v) AS cosine
  FROM q JOIN e ON e.vec_id <> q.src_id
),
exact AS (
  SELECT src_id, neighbor_id FROM (
    SELECT src_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY src_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM scored) WHERE rank <= {KNN_K}
)
SELECT x.src_id,
       CAST(SUM(CASE WHEN k.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       ROUND(SUM(CASE WHEN k.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
               / CAST(COUNT(*) AS DOUBLE), 6) AS recall_at_k
FROM exact x
LEFT JOIN knn k
  ON x.src_id = k.src_id AND x.neighbor_id = k.neighbor_id
GROUP BY x.src_id
"""


def sim_knn_tree_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALIAS of sim_knn_recall since r13: the primary kNN graph IS the
    tree-quantizer build now (see sim_knn_graph), so its recall audit
    and the tree recall audit are one measurement. Retained for
    surface continuity (the r12 key that first signed the tree
    build's recall); the occupancy knob's quality cost stays a
    hash-checked deliverable either way — at the probe decks it reads
    1.0/1.0 (sf1/sf10), in the tiny-corpus regime the 16-cell floor
    mis-routes more (the declared value at each sf is whatever both
    engines exactly agree it is)."""
    return sim_knn_recall(spark, sf_dir)


ORACLE_SIM_KNN_TREE_RECALL = ORACLE_SIM_KNN_RECALL


KMEANS_K = 8


def ml_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means (k = KMEANS_K) over the
    embedding corpus, from the pinned deterministic init the IVF
    family uses → (cell_id, n_assigned, shift): cluster sizes and how
    far each centroid moved (L2, 6dp) after the assign+update step —
    the convergence diagnostic a training loop monitors per iteration.

    Distributed shape (the part that matters at 100 TB): assignment
    is the IVF coarse quantizer (broadcast centroids, one corpus
    scan); the centroid UPDATE is per-dimension — posexplode the
    assigned vectors to (cell, dim, val) and mean-reduce by
    (cell, dim) — so the update is one map-side-combined groupBy of
    64·N rows, never a driver-side collect of anything corpus-sized.
    Further iterations repeat the same two stages; one step is
    declared because each step's output is the auditable unit.

    Cross-engine exactness: assignment replays the deterministic
    quantizer (proven by sim_topk_ivf); per-cell means are doubles
    whose summation-order jitter (~1e-13 relative) sits far below
    the 6dp rounding on a shift of O(0.1)."""
    emb = _embeddings(spark, sf_dir)
    cells = _cells(spark, sf_dir, KMEANS_K)
    assigned = _assign(emb, cells, "v", "cells", 1).select(
        "vec_id", "v", F.explode("cells").alias("cell_id")
    )
    by_dim = _kmeans_by_dim(assigned)
    old = cells.select(
        "cell_id", F.posexplode("cv").alias("dim", "old_val")
    )
    return (
        by_dim.join(old, ["cell_id", "dim"])
        .groupBy("cell_id")
        .agg(
            F.max("n").alias("n_assigned"),
            F.round(
                F.sqrt(F.sum(F.pow(F.col("mean_val") - F.col("old_val"), 2))), 6
            ).alias("shift"),
        )
    )


ORACLE_ML_KMEANS_STEP = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cells AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  ORDER BY vec_id LIMIT {KMEANS_K} OFFSET {N_QUERIES}
),
assigned AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT e.vec_id, e.v, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell_id) AS rn
    FROM e CROSS JOIN cells c) WHERE rn <= 1
),
by_dim AS (
  SELECT cell_id, UNNEST(range(LEN(v))) AS dim, UNNEST(v) AS val
  FROM assigned
),
means AS (
  SELECT cell_id, dim, AVG(val) AS mean_val, COUNT(*) AS n
  FROM by_dim GROUP BY cell_id, dim
),
old AS (
  SELECT cell_id, UNNEST(range(LEN(cv))) AS dim, UNNEST(cv) AS old_val
  FROM cells
)
SELECT m.cell_id,
       CAST(MAX(m.n) AS BIGINT) AS n_assigned,
       ROUND(SQRT(SUM(POW(m.mean_val - o.old_val, 2))), 6) AS shift
FROM means m JOIN old o ON m.cell_id = o.cell_id AND m.dim = o.dim
GROUP BY m.cell_id
"""


def _kmeans_by_dim(assigned: DataFrame) -> DataFrame:
    """(cell_id, dim, mean_val, n) per-dimension means of the assigned
    vectors — the posexplode-then-agg shape. An r14 A/B tried the
    guide-§2.3 alternative (one groupBy(cell_id) carrying EMBED_DIM
    column sums, exploded after the aggregate): it LOST — kmeans_step
    1.0 → 1.9 s, train ~5 → 10 s steady — because at this key's scale
    the 64-wide aggregate's per-call planning/codegen cost exceeds the
    64·N-row reduction it saves; the (cell, dim) hash agg is map-side
    combined to k·64 partials either way. Kept as the measured
    optimum."""
    return assigned.select(
        "cell_id", F.posexplode("v").alias("dim", "val")
    ).groupBy("cell_id", "dim").agg(
        F.avg("val").alias("mean_val"), F.count(F.lit(1)).alias("n")
    )


KMEANS_TRAIN_ITERS = 4  # ml_kmeans_train: unrolled Lloyd rounds


def ml_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Lloyd TRAINING LOOP (KMEANS_TRAIN_ITERS rounds,
    k = KMEANS_K) over the embedding corpus from the pinned
    deterministic init → (iteration, cell_id, n_assigned, shift): the
    per-round convergence trace a k-means run actually monitors
    (cluster sizes + centroid movement), with ml_kmeans_step as the
    single-round kernel it composes. Empty clusters keep their old
    centroid (the standard Lloyd convention), expressed as a
    per-dimension LEFT join + coalesce so the rule is identical on
    both engines.

    Distributed shape at 100 TB: each round is the step kernel's two
    stages — broadcast-k-centroid assignment inside one corpus scan,
    then a map-side-combined (cell, dim) mean over 64·N rows; the
    round state that persists between iterations is the k×64 centroid
    table (localCheckpoint per round cuts the unrolled lineage, the
    graph-loop discipline of graph_pagerank/graph_hits). Nothing
    corpus-sized crosses rounds and nothing is collected — the loop
    is driver-ORCHESTRATED, executor-computed.

    Cross-engine exactness: assignment replays the deterministic
    quantizer each round; iterated centroids carry full doubles whose
    summation-order jitter (~1e-13 relative) only matters if two
    centroids tie within it on a later round's cosine — far below any
    observed margin (same exposure ml_gmm_step's softmax already
    carries), and the reported shift is rounded to 6dp."""
    emb = _embeddings(spark, sf_dir)
    cells = _cells(spark, sf_dir, KMEANS_K)
    out = None
    for it in range(1, KMEANS_TRAIN_ITERS + 1):
        assigned = _assign(emb, cells, "v", "cells", 1).select(
            "vec_id", "v", F.explode("cells").alias("cell_id")
        )
        by_dim = _kmeans_by_dim(assigned)
        old = cells.select("cell_id", F.posexplode("cv").alias("dim", "old_val"))
        # Checkpoint the k×64-row per-dimension UPDATE table, not the
        # k-row centroid table (r13 optimization): both the round
        # report and the next round's centroids derive from `upd`, so
        # checkpointing here makes each round's corpus work (assign +
        # per-dim means) run exactly ONCE — the old shape checkpointed
        # `cells`, which left `rep` un-checkpointed and the final
        # union re-ran every round's assignment a second time at
        # materialization (guide §1.2 "don't compute things you throw
        # away": measured 9.5 s → 5.0 s steady-state at sf0.1, same
        # rows/hash).
        upd = old.join(by_dim, ["cell_id", "dim"], "left").select(
            "cell_id",
            "dim",
            F.coalesce("mean_val", F.col("old_val")).alias("new_val"),
            "old_val",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        ).localCheckpoint(eager=False)
        rep = upd.groupBy("cell_id").agg(
            F.max("n").alias("n_assigned"),
            F.round(
                F.sqrt(F.sum(F.pow(F.col("new_val") - F.col("old_val"), 2))), 6
            ).alias("shift"),
        ).select(
            F.lit(it).alias("iteration"), "cell_id", "n_assigned", "shift"
        )
        out = rep if out is None else out.unionByName(rep)
        # next round's centroid table: k×64 rows back into array form
        # (derived lazily from the checkpointed `upd` — one tiny
        # groupBy per consumer, lineage stays one checkpoint deep)
        cells = (
            upd.groupBy("cell_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("dim", "new_val"))
                ).alias("s")
            )
            .select(
                "cell_id",
                F.transform("s", lambda x: x["new_val"]).alias("cv"),
            )
        )
    return out


def _oracle_kmeans_train() -> str:
    """Unrolled-CTE DuckDB twin of ml_kmeans_train: cells_0 is the
    pinned init, each round r adds assigned_r / means_r / upd_r /
    rep_r / cells_r, and the result is the UNION ALL of the round
    reports — the same per-round trace, same empty-cluster coalesce."""
    parts = [f"""
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cells_0 AS (
  SELECT vec_id AS cell_id, cv FROM (
    SELECT vec_id, v AS cv FROM e
    ORDER BY vec_id LIMIT {KMEANS_K} OFFSET {N_QUERIES})
)"""]
    for r in range(1, KMEANS_TRAIN_ITERS + 1):
        parts.append(f"""
assigned_{r} AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT e.vec_id, e.v, c.cell_id,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                        / (sqrt(list_dot_product(e.v, e.v))
                           * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell_id) AS rn
    FROM e CROSS JOIN cells_{r - 1} c) WHERE rn <= 1
),
means_{r} AS (
  SELECT cell_id, dim, AVG(val) AS mean_val, COUNT(*) AS n
  FROM (SELECT cell_id, UNNEST(range(LEN(v))) AS dim, UNNEST(v) AS val
        FROM assigned_{r})
  GROUP BY cell_id, dim
),
upd_{r} AS (
  SELECT o.cell_id, o.dim,
         COALESCE(m.mean_val, o.old_val) AS new_val,
         o.old_val,
         CAST(COALESCE(m.n, 0) AS BIGINT) AS n
  FROM (SELECT cell_id, UNNEST(range(LEN(cv))) AS dim,
               UNNEST(cv) AS old_val FROM cells_{r - 1}) o
  LEFT JOIN means_{r} m ON m.cell_id = o.cell_id AND m.dim = o.dim
),
rep_{r} AS (
  SELECT {r} AS iteration, cell_id,
         MAX(n) AS n_assigned,
         ROUND(SQRT(SUM(POW(new_val - old_val, 2))), 6) AS shift
  FROM upd_{r} GROUP BY cell_id
),
cells_{r} AS (
  SELECT cell_id, list(new_val ORDER BY dim) AS cv
  FROM upd_{r} GROUP BY cell_id
)""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM rep_{r}" for r in range(1, KMEANS_TRAIN_ITERS + 1)
    )
    return "WITH " + ",".join(parts) + "\n" + union


ORACLE_ML_KMEANS_TRAIN = _oracle_kmeans_train()


GMM_K = 3  # mixture components of the demonstrated EM step


def ml_gmm_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EM step of a spherical Gaussian mixture (K = GMM_K, σ² = 1)
    over the unit-normalized embedding corpus → (component, n_eff,
    weight_new, shift): effective counts, re-estimated mixture
    weights, and how far each mean moved — the soft-assignment
    sibling of ml_kmeans_step's hard Lloyd iteration, and the last
    classical training-loop kernel the ML family lacked (kmeans,
    logreg, linreg, NB, PCA, tree all have one).

    Means init from the pinned deterministic quantizer (_cells, the
    IVF/kmeans convention), unit-normalized. On unit vectors the
    spherical responsibility softmax collapses to
    r_k ∝ exp(−‖x−μ_k‖²/2) = e^{x·μ_k} · e^{−1}, so the constant
    cancels and the E-step is a SOFTMAX OVER COSINES — computed
    entirely inside the corpus scan's projection (broadcast 1-row
    means array, per-row transform/aggregate HOFs), zero shuffle.
    The M-step is the kmeans update shape: posexplode to
    (component, dim) partials, map-side-combined groupBy bounded by
    K·d keys, never rows; weights ride a broadcast 1-row count.

    Cross-engine exactness: both engines promote to float64 up
    front, exp/softmax agree to ~1e-15 relative, and the 6dp rounding
    sits ≥3 orders above the summation-order jitter at the sf0.01
    gate (n_eff ≈ 667: jitter ~3e-10 vs quantum 5e-7 — the ql_corr
    argument; ml_score's exp precedent)."""
    emb = _unit(_embeddings(spark, sf_dir), "v")
    means = _unit(
        _cells(spark, sf_dir, GMM_K).select(
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
    n_tot = emb.agg(F.count(F.lit(1)).cast("double").alias("n"))
    # ONE corpus pass (r13; the ml_kmeans_train checkpoint rule):
    # n_eff rides the same K·d-key aggregate (every exploded dim row
    # of a vector carries its r, so each dim's Σr is the component's
    # effective count — MAX picks one; the ≤1-ulp accumulation-order
    # spread between dims sits ~3 orders below the 6dp output quantum,
    # the docstring's jitter argument). The K·d-row table is
    # checkpointed once for its two consumers (n_eff and the shift
    # join) — previously resp's corpus-sized softmax scan re-ran
    # lazily THREE times (neff, by_dim, and neff's reuse in the
    # output join).
    by_dim = (
        resp.select("component", "r", F.posexplode("v").alias("dim", "x"))
        .groupBy("component", "dim")
        .agg(
            F.sum(F.col("r") * F.col("x")).alias("rx"),
            F.sum("r").alias("ne_d"),
        )
        .localCheckpoint(eager=True)
    )
    neff = by_dim.groupBy("component").agg(F.max("ne_d").alias("n_eff"))
    old = means.select(
        "component", F.posexplode("m").alias("dim", "old_val")
    )
    shift = (
        by_dim.join(F.broadcast(neff), "component")
        .join(old, ["component", "dim"])
        .groupBy("component")
        .agg(
            F.sqrt(
                F.sum(
                    F.pow(
                        F.col("rx") / F.col("n_eff") - F.col("old_val"), 2
                    )
                )
            ).alias("shift")
        )
    )
    return (
        neff.join(shift, "component")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "component",
            F.round("n_eff", 6).alias("n_eff"),
            F.round(F.col("n_eff") / F.col("n"), 6).alias("weight_new"),
            F.round("shift", 6).alias("shift"),
        )
    )


ORACLE_ML_GMM_STEP = f"""
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
cells AS (
  SELECT vec_id AS component, v AS m FROM e
  ORDER BY vec_id LIMIT {GMM_K} OFFSET {N_QUERIES}
),
j AS (
  SELECT e.vec_id, e.v, c.component,
         EXP(list_dot_product(e.v, c.m)) AS num
  FROM e CROSS JOIN cells c
),
den AS (SELECT vec_id, SUM(num) AS den FROM j GROUP BY vec_id),
r AS (
  SELECT j.vec_id, j.v, j.component, j.num / d.den AS r
  FROM j JOIN den d USING (vec_id)
),
neff AS (SELECT component, SUM(r) AS n_eff FROM r GROUP BY component),
ntot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM e),
bydim AS (
  SELECT component, r, UNNEST(range(LEN(v))) AS dim, UNNEST(v) AS x
  FROM r
),
rxs AS (
  SELECT component, dim, SUM(r * x) AS rx FROM bydim GROUP BY component, dim
),
old AS (
  SELECT component, UNNEST(range(LEN(m))) AS dim, UNNEST(m) AS old_val
  FROM cells
),
shift AS (
  SELECT rxs.component,
         SQRT(SUM(POW(rxs.rx / nf.n_eff - old.old_val, 2))) AS shift
  FROM rxs JOIN neff nf USING (component)
       JOIN old ON old.component = rxs.component AND old.dim = rxs.dim
  GROUP BY rxs.component
)
SELECT nf.component, ROUND(nf.n_eff, 6) AS n_eff,
       ROUND(nf.n_eff / t.n, 6) AS weight_new,
       ROUND(s.shift, 6) AS shift
FROM neff nf JOIN shift s USING (component) CROSS JOIN ntot t
"""


def ml_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model scoring at corpus scale: logistic score of every embedding
    against a pinned weight vector → (vec_id, score, keep). The shape
    of every learned quality filter / classifier-based curation pass:
    broadcast the (tiny) model, one scan of the corpus, no shuffle at
    all — the scoring column is computed inside the scan's projection.

    The weight vector is the corpus's lowest-vec_id embedding, unit-
    normalized (a deterministic stand-in for trained weights — the
    plumbing, not the model, is the operator). score =
    sigmoid(cosine) = 1/(1+exp(-w·v)) on unit vectors; keep = score
    above the midpoint. Cross-engine: cosines agree to ~1e-14 and
    sigmoid is 1/4-Lipschitz, so 6dp rounding is orders of magnitude
    above any libm ulp drift."""
    emb = _unit(_embeddings(spark, sf_dir), "v")
    w_vec = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("w_id"), F.col("v").alias("wv"))
    )
    return (
        emb.crossJoin(F.broadcast(w_vec))
        .filter(F.col("vec_id") != F.col("w_id"))
        .withColumn("cos", _dot(F.col("wv"), F.col("v")))
        .select(
            "vec_id",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("cos"))), 6).alias(
                "score"
            ),
            (F.col("cos") > 0).alias("keep"),
        )
    )


ORACLE_ML_SCORE = """
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> x / sqrt(list_dot_product(
                               CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
),
w AS (SELECT vec_id AS w_id, v AS wv FROM e ORDER BY vec_id LIMIT 1)
SELECT e.vec_id,
       ROUND(1.0 / (1.0 + EXP(-list_dot_product(w.wv, e.v))), 6) AS score,
       list_dot_product(w.wv, e.v) > 0 AS keep
FROM e CROSS JOIN w
WHERE e.vec_id <> w.w_id
"""


def ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry point (see cache.shared): the confusion matrix is
    reused by ml_confusion_metrics within a session."""
    return shared(
        spark, sf_dir, "ml_confusion",
        lambda: _ml_centroid_classify(spark, sf_dir),
    )


def _ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classification of the whole corpus against the
    labeled embeddings (the `label` column's first consumer) → the
    confusion matrix (true_label, pred_label, n). The shape of every
    cheap-classifier curation pass (domain routing, quality tiering):
    fit = one pass building L per-label mean vectors, predict = one
    corpus scan against the broadcast centroids — no shuffle touches
    anything vector-sized except the L·d centroid build.

    Cross-engine exactness: per-dim centroid means are summation-order
    sensitive (distributed partials vs single-threaded), so centroids
    are ROUNDED to 6dp before scoring — identical inputs ⇒ the fold
    dot products are bit-identical ⇒ the argmax (tie-break: smaller
    label) matches exactly. The corpus vectors themselves are unit-
    normalized by the same sequential fold on both engines, so no
    rounding is needed there.

    100 TB: centroid build is a map-side-combined (label, dim) mean —
    L·d partials per partition; predict is embarrassingly parallel
    with L·d broadcast doubles."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.transform("embedding", lambda v: v.cast("double")).alias("v"),
    )
    emb = _unit(emb, "v")
    cent = (
        emb.select("label", F.posexplode("v").alias("dim", "val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda x: x.m,
            ).alias("cv")
        )
        .select(F.col("label").alias("pred_label"), "cv")
    )
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "score", _dot(F.col("v"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("score").desc(), F.col("pred_label")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("label").alias("true_label"), "pred_label")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_ML_CENTROID_CLASSIFY = """
WITH e0 AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
e AS (
  SELECT vec_id, label,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
by_dim AS (
  SELECT label, UNNEST(range(LEN(v))) AS dim, UNNEST(v) AS val FROM e
),
centd AS (
  SELECT label, dim, ROUND(AVG(val), 6) AS m
  FROM by_dim GROUP BY label, dim
),
cent AS (
  SELECT label AS pred_label, list(m ORDER BY dim) AS cv
  FROM centd GROUP BY label
),
scored AS (
  SELECT e.vec_id, e.label, c.pred_label,
         list_dot_product(e.v, c.cv) AS score
  FROM e CROSS JOIN cent c
),
pred AS (
  SELECT vec_id, label, pred_label FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY score DESC, pred_label) AS rn
    FROM scored) WHERE rn = 1
)
SELECT label AS true_label, pred_label, COUNT(*) AS n
FROM pred GROUP BY 1, 2
"""


def ml_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class evaluation over the centroid classifier's confusion
    matrix → (label, support, predicted, tp, prec, rec, f1): the
    model-eval step every curation classifier ships with. Reads the
    session-shared confusion matrix (cache.shared — classes², a few
    dozen rows), so the corpus is not re-scored.

    Exactness: support/predicted/tp are integer marginals of the
    hash-checked confusion matrix; precision, recall and
    f1 = 2·tp/(support+predicted) are single divisions of identical
    integers, nullif-guarded for classes never predicted. Cost is a
    driver-trivial aggregate over a tiny table — the expensive part
    (scoring) already happened once."""
    conf = ml_centroid_classify(spark, sf_dir)
    t = conf.groupBy(F.col("true_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("support"),
        F.sum(
            F.when(F.col("pred_label") == F.col("true_label"), F.col("n")).otherwise(0)
        ).cast("bigint").alias("tp"),
    )
    p = conf.groupBy(F.col("pred_label").alias("label")).agg(
        F.sum("n").cast("bigint").alias("predicted")
    )
    m = t.join(p, "label", "full").select(
        "label",
        F.coalesce("support", F.lit(0)).alias("support"),
        F.coalesce("predicted", F.lit(0)).alias("predicted"),
        F.coalesce("tp", F.lit(0)).alias("tp"),
    )
    prec = F.col("tp").cast("double") / F.nullif(
        F.col("predicted").cast("double"), F.lit(0.0)
    )
    rec = F.col("tp").cast("double") / F.nullif(
        F.col("support").cast("double"), F.lit(0.0)
    )
    f1 = (F.lit(2.0) * F.col("tp").cast("double")) / F.nullif(
        (F.col("support") + F.col("predicted")).cast("double"), F.lit(0.0)
    )
    return m.select(
        "label", "support", "predicted", "tp",
        F.round(prec, 6).alias("prec"),
        F.round(rec, 6).alias("rec"),
        F.round(f1, 6).alias("f1"),
    )


ORACLE_ML_CONFUSION_METRICS = f"""
WITH conf AS ({ORACLE_ML_CENTROID_CLASSIFY}),
t AS (
  SELECT true_label AS label,
         CAST(SUM(n) AS BIGINT) AS support,
         CAST(SUM(CASE WHEN pred_label = true_label THEN n ELSE 0 END)
              AS BIGINT) AS tp
  FROM conf GROUP BY true_label
),
p AS (
  SELECT pred_label AS label, CAST(SUM(n) AS BIGINT) AS predicted
  FROM conf GROUP BY pred_label
)
SELECT COALESCE(t.label, p.label) AS label,
       COALESCE(t.support, 0) AS support,
       COALESCE(p.predicted, 0) AS predicted,
       COALESCE(t.tp, 0) AS tp,
       ROUND(CAST(COALESCE(t.tp, 0) AS DOUBLE)
               / NULLIF(CAST(COALESCE(p.predicted, 0) AS DOUBLE), 0.0), 6) AS prec,
       ROUND(CAST(COALESCE(t.tp, 0) AS DOUBLE)
               / NULLIF(CAST(COALESCE(t.support, 0) AS DOUBLE), 0.0), 6) AS rec,
       ROUND((2.0 * CAST(COALESCE(t.tp, 0) AS DOUBLE))
               / NULLIF(CAST(COALESCE(t.support, 0) + COALESCE(p.predicted, 0)
                             AS DOUBLE), 0.0), 6) AS f1
FROM t FULL JOIN p ON t.label = p.label
"""


LOGREG_LR = 0.1  # learning rate of the demonstrated gradient step
EMBED_DIM = 64


def ml_logreg_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One logistic-regression gradient step over the corpus →
    (dim, w_old, grad, w_new): the training-loop kernel that pairs
    with ml_score's inference kernel (ml_kmeans_step's discipline
    applied to a supervised model). Target y = (label == 1); weights
    start from the pinned unit vector ml_score scores with.

    The distributed-SGD shape: broadcast w, ONE corpus scan computes
    the per-row residual σ(w·x) − y inside the projection, posexplode
    turns the per-dim products into a 64-key map-side-combined
    groupBy — the shuffle carries 64 partial sums per partition, never
    rows. This is exactly how a full batch-GD loop distributes; the
    loop itself would iterate this key's plan with the bfs_levels
    checkpoint discipline. Outputs round to 6dp — gradient sums
    reorder across engines at ~1e-12 relative, four orders below the
    rounding quantum (the ql_corr argument)."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        (F.col("label") == 1).cast("int").alias("y"),
    )
    e = _unit(e, "v")
    w = (
        e.orderBy("vec_id")
        .limit(1)
        .select(F.col("vec_id").alias("w_id"), F.col("v").alias("wv"))
    )
    scored = (
        e.crossJoin(F.broadcast(w))
        .filter(F.col("vec_id") != F.col("w_id"))
        .withColumn(
            "resid",
            F.lit(1.0) / (F.lit(1.0) + F.exp(-_dot(F.col("wv"), F.col("v"))))
            - F.col("y"),
        )
    )
    # n rides the same 64-key aggregate: posexplode emits exactly one
    # row per (scored row, dim), so the per-dim count IS the corpus
    # row count — a separate count branch would lazily re-run the
    # whole broadcast-scoring scan a second time (r13; guide §1.2).
    grads = (
        scored.select("resid", F.posexplode("v").alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.sum(F.col("resid") * F.col("x")).alias("gsum"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    wd = w.select(F.posexplode("wv").alias("dim", "w_old"))
    g = F.col("gsum") / F.col("n")
    return (
        grads.join(F.broadcast(wd), "dim")
        .select(
            "dim",
            F.round("w_old", 6).alias("w_old"),
            F.round(g, 6).alias("grad"),
            F.round(F.col("w_old") - F.lit(LOGREG_LR) * g, 6).alias("w_new"),
        )
    )


ORACLE_ML_LOGREG_STEP = f"""
WITH e AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> x / sqrt(list_dot_product(
                               CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[])))) AS v,
         CASE WHEN label = 1 THEN 1 ELSE 0 END AS y
  FROM embeddings
),
w AS (
  SELECT vec_id AS w_id, v AS wv FROM e ORDER BY vec_id LIMIT 1
),
s AS (
  SELECT e.v,
         1.0 / (1.0 + exp(-list_dot_product(w.wv, e.v))) - e.y AS resid
  FROM e, w WHERE e.vec_id <> w.w_id
),
n AS (SELECT COUNT(*) AS n FROM s),
dims AS (SELECT unnest(range(0, {EMBED_DIM})) AS dim),
g AS (
  SELECT d.dim, SUM(s.resid * s.v[d.dim + 1]) AS gsum
  FROM s, dims d GROUP BY d.dim
),
wd AS (
  SELECT d.dim, w.wv[d.dim + 1] AS w_old FROM w, dims d
)
SELECT g.dim,
       ROUND(wd.w_old, 6) AS w_old,
       ROUND(g.gsum / n.n, 6) AS grad,
       ROUND(wd.w_old - {LOGREG_LR} * g.gsum / n.n, 6) AS w_new
FROM g JOIN wd ON wd.dim = g.dim CROSS JOIN n
"""


def ml_linreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS fit (distributed normal equations) →
    (param, coef): regress the label on embedding dims 0 and 1 plus an
    intercept, solved exactly from corpus moments — the cheap linear
    probe every embedding pipeline runs before training anything, and
    the closed-form complement to the iterative ml_logreg_step /
    ml_kmeans_step keys.

    Scale shape — the textbook one-pass distributed regression: ONE
    map-side-combined aggregate folds the corpus into the nine
    normal-equation moments (n, Σx₀, Σx₁, Σx₀², Σx₀x₁, Σx₁², Σy,
    Σx₀y, Σx₁y — a single 1-row frame regardless of corpus size);
    the 3×3 Cramer solve then runs as scalar expressions on that row.
    No join, no second pass, no driver math. For d features this is
    the d²-bounded Gram build of ml_pca_power with d = 3.

    Cross-engine exactness (the ml_pca_power discipline): every float
    moment is ROUNDED to 6dp at the aggregate, so both engines run
    the identical Cramer expression tree over identical doubles —
    the determinant subtractions can cancel catastrophically, which
    would amplify raw summation-order noise past round(6), hence
    rounding BEFORE the solve, not after."""
    e = table(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("x0"),
        F.element_at("embedding", 2).cast("double").alias("x1"),
        F.col("label").cast("double").alias("y"),
    )
    m = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x0"), 6).alias("sx0"),
        F.round(F.sum("x1"), 6).alias("sx1"),
        F.round(F.sum(F.col("x0") * F.col("x0")), 6).alias("sx00"),
        F.round(F.sum(F.col("x0") * F.col("x1")), 6).alias("sx01"),
        F.round(F.sum(F.col("x1") * F.col("x1")), 6).alias("sx11"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x0") * F.col("y")), 6).alias("sx0y"),
        F.round(F.sum(F.col("x1") * F.col("y")), 6).alias("sx1y"),
    )
    n, sx0, sx1 = F.col("n"), F.col("sx0"), F.col("sx1")
    sx00, sx01, sx11 = F.col("sx00"), F.col("sx01"), F.col("sx11")
    sy, sx0y, sx1y = F.col("sy"), F.col("sx0y"), F.col("sx1y")

    def det3(a1, a2, a3, b1, b2, b3, c1, c2, c3):
        return (
            a1 * (b2 * c3 - b3 * c2)
            - a2 * (b1 * c3 - b3 * c1)
            + a3 * (b1 * c2 - b2 * c1)
        )

    # A = [[n,sx0,sx1],[sx0,sx00,sx01],[sx1,sx01,sx11]], b = (sy,sx0y,sx1y);
    # det_i replaces column i of A with b (Cramer).
    solved = m.select(
        det3(n, sx0, sx1, sx0, sx00, sx01, sx1, sx01, sx11).alias("det"),
        det3(sy, sx0, sx1, sx0y, sx00, sx01, sx1y, sx01, sx11).alias("d0"),
        det3(n, sy, sx1, sx0, sx0y, sx01, sx1, sx1y, sx11).alias("d1"),
        det3(n, sx0, sy, sx0, sx00, sx0y, sx1, sx01, sx1y).alias("d2"),
    )
    # Singular normal equations (collinear/constant features) emit
    # NULL coefficients on BOTH engines: without the guard Spark's
    # non-ANSI divide returns NULL while DuckDB's double divide
    # returns inf/nan — a cross-engine divergence on exactly the
    # degenerate input a user most needs flagged.
    return solved.select(
        F.expr(
            "stack(3,"
            " 'intercept', CASE WHEN det <> 0 THEN round(d0 / det, 6) END,"
            " 'x0',        CASE WHEN det <> 0 THEN round(d1 / det, 6) END,"
            " 'x1',        CASE WHEN det <> 0 THEN round(d2 / det, 6) END)"
        ).alias("param", "coef")
    )


ORACLE_ML_LINREG_FIT = """
WITH e AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS x0,
         CAST(embedding[2] AS DOUBLE) AS x1,
         CAST(label AS DOUBLE) AS y
  FROM embeddings
),
m AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(x0), 6) AS sx0,
         ROUND(SUM(x1), 6) AS sx1,
         ROUND(SUM(x0 * x0), 6) AS sx00,
         ROUND(SUM(x0 * x1), 6) AS sx01,
         ROUND(SUM(x1 * x1), 6) AS sx11,
         ROUND(SUM(y), 6) AS sy,
         ROUND(SUM(x0 * y), 6) AS sx0y,
         ROUND(SUM(x1 * y), 6) AS sx1y
  FROM e
),
d AS (
  SELECT
    (n * (sx00 * sx11 - sx01 * sx01)
      - sx0 * (sx0 * sx11 - sx01 * sx1)
      + sx1 * (sx0 * sx01 - sx00 * sx1)) AS det,
    (sy * (sx00 * sx11 - sx01 * sx01)
      - sx0 * (sx0y * sx11 - sx01 * sx1y)
      + sx1 * (sx0y * sx01 - sx00 * sx1y)) AS d0,
    (n * (sx0y * sx11 - sx01 * sx1y)
      - sy * (sx0 * sx11 - sx01 * sx1)
      + sx1 * (sx0 * sx1y - sx0y * sx1)) AS d1,
    (n * (sx00 * sx1y - sx0y * sx01)
      - sx0 * (sx0 * sx1y - sx0y * sx1)
      + sy * (sx0 * sx01 - sx00 * sx1)) AS d2
  FROM m
)
SELECT 'intercept' AS param,
       CASE WHEN det <> 0 THEN ROUND(d0 / det, 6) END AS coef FROM d
UNION ALL SELECT 'x0', CASE WHEN det <> 0 THEN ROUND(d1 / det, 6) END FROM d
UNION ALL SELECT 'x1', CASE WHEN det <> 0 THEN ROUND(d2 / det, 6) END FROM d
"""


# --- product quantization (PQ) --------------------------------------------
#
# The COMPRESSION leg of the ANN surface (IVF partitions the corpus;
# PQ shrinks the vectors): each 64-d vector becomes PQ_M=16 sub-codes
# of 6 bits (PQ_K=64 centroids per 4-d subspace) — 96 bits vs 2048 for
# float32, a 21× compression — and queries rank the whole corpus from
# a per-query lookup table (ADC: asymmetric distance computation)
# without ever touching a full vector, then exact-rerank only the
# PQ_SHORTLIST survivors. Codebooks are the pinned-vector quantizer
# (the _cells idiom): assignment/ADC machinery is what's exercised,
# and determinism is what buys the exact oracle. Measured end-to-end
# recall@10 ≈ 0.88 on the (near-random, hence PQ-hostile) testdata
# embeddings — shipped honestly as sim_pq_recall.
PQ_M = 16          # subspaces
PQ_SUB = 4         # dims per subspace (PQ_M * PQ_SUB = 64)
PQ_K = 64          # centroids per subspace codebook (6-bit codes)
PQ_SHORTLIST = 50  # ADC survivors that get exact re-ranking


def _sub_d2(a, b) -> F.Column:
    """Squared L2 distance from three dots — the identical expression
    tree both engines evaluate (oracle: list_dot_product forms)."""
    return _dot(a, a) - 2 * _dot(a, b) + _dot(b, b)


def _subspaces(df: DataFrame, key: str, vec: str, out: str) -> DataFrame:
    """(key, m, out): array column `vec` cut into its PQ_M subspace
    slices of PQ_SUB dims, one row per subspace m."""
    return df.select(
        key, F.explode(F.sequence(F.lit(0), F.lit(PQ_M - 1))).alias("m"), vec
    ).select(key, "m", F.slice(vec, F.col("m") * PQ_SUB + 1, PQ_SUB).alias(out))


def _pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cid, m, cv): PQ_K pinned codebook vectors per subspace — the
    vectors right after the query + IVF-centroid id ranges,
    unit-normalized then sliced per subspace."""
    # The pinned id ranges (queries, IVF cells, codebook) must be
    # disjoint: on a corpus smaller than their sum the Spark
    # limit/desc-limit backfills with query/cell ids while the oracle's
    # OFFSET returns fewer rows — a confusing hash mismatch. Fail loud
    # instead (one cached COUNT action, the _corpus_n discipline).
    need = N_QUERIES + IVF_CELLS + PQ_K
    n = _corpus_n(spark, sf_dir)
    if n < need:
        raise ValueError(
            f"PQ codebook needs ≥ {need} embeddings "
            f"(queries {N_QUERIES} + cells {IVF_CELLS} + codebook "
            f"{PQ_K}); corpus has {n}"
        )
    base = (
        _unit(_embeddings(spark, sf_dir), "v")
        .orderBy("vec_id")
        .limit(N_QUERIES + IVF_CELLS + PQ_K)
        .orderBy(F.col("vec_id").desc())
        .limit(PQ_K)
    )
    # unpartitioned window is safe HERE only because the input is the
    # PQ_K-row pinned base (constant-bounded, never data-sized)
    w = Window.orderBy("vec_id")
    return _subspaces(
        base.withColumn("cid", F.row_number().over(w) - 1), "cid", "v", "cv"
    )


def _pq_codes_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cached entry (cache.shared): the encoded corpus feeds BOTH
    sim_pq_code and sim_pq_topk — encode once per (session, sf), the
    same one-materialization discipline as the closed-triangle table
    (bench: the two PQ keys each re-encoding was the #1 and #3 cost
    of the whole suite)."""
    return shared(
        spark, sf_dir, "pq_codes", lambda: _pq_codes_impl(spark, sf_dir)
    )


def _pq_codes_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code, d2): nearest codebook entry per subspace —
    the PQ encoder. One broadcast of the (PQ_M·PQ_K)-row codebook
    against the subspace-exploded corpus, argmin per (vector,
    subspace) by (d2, cid); at 100 TB this is a pure scan-side map
    with zero corpus shuffles (the window key (vec_id, m) is the
    explosion key, so AQE keeps it partition-local)."""
    emb = _unit(_embeddings(spark, sf_dir), "v")
    subs = _subspaces(emb, "vec_id", "v", "sv")
    scored = subs.join(F.broadcast(_pq_codebook(spark, sf_dir)), "m").withColumn(
        "d2", _sub_d2(F.col("sv"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id", "m").orderBy("d2", "cid")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("cid").alias("code"), "d2")
    )


def sim_pq_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the corpus → (vec_id, codes, recon_err2): the
    96-bit code string per vector plus its total squared
    reconstruction error (rounded 6dp) — the compression-quality
    profile a vector store ships with its index."""
    return (
        _pq_codes_long(spark, sf_dir)
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "-",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "code"))),
                    lambda s: s["code"].cast("string"),
                ),
            ).alias("codes"),
            F.round(F.sum("d2"), 6).alias("recon_err2"),
        )
    )


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC top-k with exact re-rank → same schema as sim_topk.
    Per query: build the (PQ_M × PQ_K)-entry distance lookup table
    ONCE, rank the whole corpus by summed table lookups (codes only —
    no vector is touched), keep the PQ_SHORTLIST best, then exact-
    cosine re-rank just those. At 100 TB the corpus side of the ADC
    join carries 96-bit codes instead of 256-byte vectors — the scan,
    the shuffle, and the state all shrink ~21×; full vectors are read
    only for |queries| · PQ_SHORTLIST rows.

    Cached entry point (cache.shared): reused by sim_pq_recall."""
    return shared(spark, sf_dir, "sim_pq_topk", lambda: _adc_topk(spark, sf_dir))


def _pq_query_lut(
    spark: SparkSession, sf_dir: str, q: DataFrame
) -> DataFrame:
    """(query_id, m, code, d2): the per-query ADC lookup table — one
    squared-L2 entry per (subspace, codebook id), N_QUERIES·PQ_M·PQ_K
    rows total (constant-bounded, always broadcastable). Takes the
    _pq_queries frame from the caller so a plan that also re-ranks
    against it derives the query set once, not twice."""
    qsubs = _subspaces(q, "query_id", "qv", "qs")
    return qsubs.join(F.broadcast(_pq_codebook(spark, sf_dir)), "m").select(
        "query_id",
        "m",
        F.col("cid").alias("code"),
        _sub_d2(F.col("qs"), F.col("cv")).alias("d2"),
    )


def _adc_topk(
    spark: SparkSession, sf_dir: str, cand: DataFrame | None = None
) -> DataFrame:
    """The ADC stages of the PQ keys → the sim_topk schema: score the
    candidates by summed lookup-table distances over their PQ codes,
    shortlist the PQ_SHORTLIST smallest per query, re-rank those by
    the exact dot of unit vectors. Candidates are the whole corpus
    (sim_pq_topk) or the (query_id, vec_id) pairs IVF routing probed
    (sim_ivfpq_topk); that is the only difference between the keys."""
    q = _pq_queries(spark, sf_dir)
    lut = F.broadcast(_pq_query_lut(spark, sf_dir, q))
    codes = _pq_codes_long(spark, sf_dir).select("vec_id", "m", "code")
    if cand is None:
        coded = codes.join(lut, ["m", "code"]).filter(
            F.col("vec_id") != F.col("query_id")
        )
    else:
        coded = codes.join(cand, "vec_id").join(lut, ["query_id", "m", "code"])
    adist = coded.groupBy("query_id", "vec_id").agg(F.sum("d2").alias("adist2"))
    short = _topk(adist, "query_id", F.asc("adist2"), PQ_SHORTLIST)
    rerank = (
        short.select("query_id", "vec_id")
        .join(_unit(_embeddings(spark, sf_dir), "v"), "vec_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", _dot(F.col("qv"), F.col("v")))
    )
    return _neighbors(rerank, "query_id", "cosine", TOP_K)


def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the PQ shortlist+rerank path against the
    exact baseline → (query_id, n_hits, recall_at_k) — the honest
    price of 21× compression on PQ-hostile near-random embeddings,
    hash-checked into the driver artifact (the sim_ivf_recall
    discipline)."""
    return _recall(sim_topk(spark, sf_dir), sim_pq_topk(spark, sf_dir), "query_id")


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ hybrid top-k — the full production ANN shape (an
    inverted-file index over PQ codes, Jégou et al.'s IVFADC):
    queries route to their IVF_NPROBE nearest coarse cells exactly as
    sim_topk_ivf, but inside the probed cells the ranking is PQ-ADC
    over the 96-bit codes instead of exact cosine over full vectors,
    with the PQ_SHORTLIST survivors exact-re-ranked → same schema as
    sim_topk.

    This composes the two scale levers the standalone keys measure in
    isolation: the IVF routing cuts the CANDIDATE count to
    nprobe/cells of the corpus (sim_topk_ivf's lever), and PQ cuts
    the BYTES per candidate ~21× (sim_pq_topk's lever) — at 100 TB
    the scored side is nprobe/cells of a code table, and full vectors
    are read only for |queries|·PQ_SHORTLIST rows. Candidate
    generation is the broadcast-probes equi-join on cell_id (never
    all-pairs); the ADC lookup table is constant-bounded
    (N_QUERIES·PQ_M·PQ_K rows) and broadcast. Fully deterministic
    (pinned cells, codebook, and tie-breaks) ⇒ exact oracle composing
    the IVF and PQ oracle CTEs.

    Cached entry point (cache.shared): reused by sim_ivfpq_recall."""
    return shared(
        spark,
        sf_dir,
        "sim_ivfpq_topk",
        lambda: _adc_topk(
            spark, sf_dir, _ivf_route(spark, sf_dir).select("query_id", "vec_id")
        ),
    )


def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall@K of the IVF-PQ hybrid against the exact
    baseline → (query_id, n_hits, recall_at_k): the compounded price
    of the two approximations (cell routing misses × code
    quantization misses), hash-checked into the driver artifact —
    the sim_ivf_recall / sim_pq_recall discipline applied to their
    composition."""
    return _recall(
        sim_topk(spark, sf_dir), sim_ivfpq_topk(spark, sf_dir), "query_id"
    )


_ORACLE_PQ_BASE = f"""
eu AS (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> x / sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                                       CAST(embedding AS DOUBLE[])))) AS v
  FROM embeddings
),
cbbase AS (
  SELECT vec_id, v,
         ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
  FROM (SELECT vec_id, v FROM eu ORDER BY vec_id
        LIMIT {PQ_K} OFFSET {N_QUERIES + IVF_CELLS}) t
),
ms AS (SELECT unnest(range(0, {PQ_M})) AS m),
cb AS (
  SELECT m, cid, v[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS cv
  FROM cbbase, ms
),
subs AS (
  SELECT vec_id, m, v[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS sv
  FROM eu, ms
),
pqcodes AS (
  SELECT vec_id, m, cid AS code, d2 FROM (
    SELECT s.vec_id, s.m, c.cid,
           list_dot_product(s.sv, s.sv) - 2 * list_dot_product(s.sv, c.cv)
             + list_dot_product(c.cv, c.cv) AS d2,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY list_dot_product(s.sv, s.sv)
                                         - 2 * list_dot_product(s.sv, c.cv)
                                         + list_dot_product(c.cv, c.cv),
                                       c.cid) AS rn
    FROM subs s JOIN cb c ON c.m = s.m) t
  WHERE rn = 1
),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM eu ORDER BY vec_id LIMIT {N_QUERIES}
),
qsubs AS (
  SELECT query_id, m, qv[m * {PQ_SUB} + 1 : m * {PQ_SUB} + {PQ_SUB}] AS qs
  FROM q, ms
),
lut AS (
  SELECT s.query_id, s.m, c.cid AS code,
         list_dot_product(s.qs, s.qs) - 2 * list_dot_product(s.qs, c.cv)
           + list_dot_product(c.cv, c.cv) AS d2
  FROM qsubs s JOIN cb c ON c.m = s.m
)
"""

ORACLE_SIM_PQ_CODE = f"""
WITH {_ORACLE_PQ_BASE}
SELECT vec_id,
       array_to_string(list(CAST(code AS VARCHAR) ORDER BY m), '-') AS codes,
       ROUND(SUM(d2), 6) AS recon_err2
FROM pqcodes GROUP BY vec_id
"""

def _oracle_adc_topk(adist_ctes: str, e: str) -> str:
    """The DuckDB twin of _adc_topk: `adist_ctes` ends in the `adist`
    CTE over the key's candidates; the shortlist, the re-rank (corpus
    side aliased `e`) and the top-k are shared."""
    return f"""
WITH {_ORACLE_PQ_BASE},
{adist_ctes},
short AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adist2, vec_id) AS srank
    FROM adist) t
  WHERE srank <= {PQ_SHORTLIST}
),
rerank AS (
  SELECT s.query_id, s.vec_id AS neighbor_id,
         list_dot_product(q.qv, {e}.v) AS cosine
  FROM short s
  JOIN eu {e} ON {e}.vec_id = s.vec_id
  JOIN q ON q.query_id = s.query_id
)
SELECT query_id, neighbor_id,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, neighbor_id) AS rank,
       ROUND(cosine, 6) AS cosine
FROM rerank
QUALIFY rank <= {TOP_K}
"""


ORACLE_SIM_PQ_TOPK = _oracle_adc_topk(
    """adist AS (
  SELECT l.query_id, co.vec_id, SUM(l.d2) AS adist2
  FROM pqcodes co JOIN lut l ON l.m = co.m AND l.code = co.code
  WHERE co.vec_id <> l.query_id
  GROUP BY l.query_id, co.vec_id
)""",
    "e",
)

ORACLE_SIM_PQ_RECALL = _oracle_recall(ORACLE_SIM_PQ_TOPK)

# IVF-PQ hybrid: the shared IVF routing fragment (raw vectors — cosine
# is scale-invariant but the EXPRESSION must match the Spark side
# exactly for tie-break stability) supplies the candidate set, then the
# PQ base's ADC LUT + shortlist + rerank run restricted to it. Both
# fragments are single-definition (_ORACLE_IVF_ROUTE / _ORACLE_PQ_BASE),
# so the three sim oracles cannot drift apart.
ORACLE_SIM_IVFPQ_TOPK = _oracle_adc_topk(
    f"""{_ORACLE_IVF_ROUTE},
cand AS (
  SELECT p.query_id, cc.vec_id
  FROM probes p JOIN corpus cc ON cc.cell_id = p.cell_id
  WHERE cc.vec_id <> p.query_id
),
adist AS (
  SELECT ca.query_id, co.vec_id, SUM(l.d2) AS adist2
  FROM pqcodes co
  JOIN cand ca ON ca.vec_id = co.vec_id
  JOIN lut l ON l.query_id = ca.query_id
            AND l.m = co.m AND l.code = co.code
  GROUP BY ca.query_id, co.vec_id
)""",
    "e2",
)

ORACLE_SIM_IVFPQ_RECALL = _oracle_recall(ORACLE_SIM_IVFPQ_TOPK)


# --- PCA power iteration ----------------------------------------------------


def ml_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-eigenvector estimate of the corpus second-moment
    matrix by TWO unrolled power-iteration steps → (dim, component):
    v = normalize(C·C·1) where C_ij = Σ_n x_i·x_j over unit-normalized
    embeddings. The PCA primitive under whitening / dimensionality
    reduction / spectral diagnostics of an embedding corpus — the
    ml_kmeans_step discipline (one deterministic iteration of an
    iterative fit, exact-oracled) applied to linear algebra.

    Scale shape: the ONLY corpus-sized work is the C build — a
    MAP-SIDE outer product (posexplode dimension i carrying the whole
    unit vector, then posexplode the vector again: d² products per
    row with NO join), partially aggregated into d² = 4096 sums per
    task; the one shuffle carries (i, j, partial), never vectors or
    rows. (r13: this replaces a self-join of the exploded vectors on
    vec_id — same d² products, but that plan shuffled the n·d
    exploded table TWICE to align on vec_id before multiplying;
    guide §2.2 — don't shuffle what a map can compute.) Everything
    after operates on the d×d matrix — constant-size frames
    regardless of corpus rows, with the norm riding a broadcast
    1-row frame. At 100 TB: identical plan; d² partials per
    partition is the textbook distributed Gram-matrix construction.

    Cross-engine exactness: C is ROUNDED to 6dp (the
    ml_centroid_classify centroid discipline) so both engines iterate
    from identical matrices; the remaining float divergence is
    64-term sums over identical inputs (~1e-13), absorbed by the
    round(6) output. Starting vector 1 fixes the eigenvector's sign
    convention deterministically."""
    emb = _unit(_embeddings(spark, sf_dir), "v")
    pos = emb.select(F.posexplode("v").alias("i", "x"), "v")
    cells = pos.select("i", "x", F.posexplode("v").alias("j", "y"))
    cmat = (
        cells.groupBy("i", "j")
        .agg(F.round(F.sum(F.col("x") * F.col("y")), 6).alias("c"))
        # d×d rows; one eager checkpoint keeps the corpus scan from
        # re-running for cmat's two consumers (u1 and the u2 join —
        # lazily each would re-derive the whole Gram build).
        .localCheckpoint(eager=True)
    )
    u1 = cmat.groupBy("i").agg(F.sum("c").alias("u")).select(
        F.col("i").alias("k"), "u"
    )
    u2 = (
        cmat.join(u1, cmat.j == u1.k)
        .groupBy("i")
        .agg(F.sum(F.col("c") * F.col("u")).alias("u"))
    )
    nrm = u2.agg(F.sqrt(F.sum(F.col("u") * F.col("u"))).alias("n"))
    return (
        u2.crossJoin(F.broadcast(nrm))
        .select(
            F.col("i").alias("dim"),
            F.round(F.col("u") / F.col("n"), 6).alias("component"),
        )
    )


ORACLE_ML_PCA_POWER = """
WITH e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
e AS (
  SELECT vec_id,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
pos AS (
  SELECT vec_id, UNNEST(range(LEN(v))) AS i, UNNEST(v) AS x FROM e
),
c AS MATERIALIZED (
  SELECT a.i, b.i AS j, ROUND(SUM(a.x * b.x), 6) AS c
  FROM pos a JOIN pos b ON a.vec_id = b.vec_id
  GROUP BY a.i, b.i
),
u1 AS (SELECT i AS k, SUM(c) AS u FROM c GROUP BY i),
u2 AS (
  SELECT c.i, SUM(c.c * u1.u) AS u FROM c JOIN u1 ON u1.k = c.j GROUP BY c.i
),
nrm AS (SELECT SQRT(SUM(u * u)) AS n FROM u2)
SELECT CAST(i AS INT) AS dim, ROUND(u / n, 6) AS component
FROM u2 CROSS JOIN nrm
"""


# --- multinomial naive Bayes over document tokens ---------------------------


def ml_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive-Bayes language classifier, fit AND applied
    distributed in one plan → (doc_id, lang, pred_lang, pred_score,
    correct): per-class token likelihoods with add-one smoothing,
    p(lang|doc) ∝ ln(prior) + Σ_w ln((c_{lang,w}+1)/(t_lang+V)).
    The generative-text sibling of ml_centroid_classify's geometric
    classifier — the shape of every cheap corpus-routing model (domain
    tagging, quality tiering) where features are tokens, not vectors.

    Scale shape: fit = one (lang, token) count aggregate (map-side
    combined — the model IS a table, never a driver-side object, so a
    100M-token vocabulary distributes); apply = exploded tokens ×
    |classes| (a 5-row broadcast) left-joined against the model on the
    (lang, token) key, then one per-(doc, class) sum and a per-doc
    argmax window. No state bigger than a shuffle partition anywhere.

    Cross-engine exactness: the log-likelihood sum is genuinely float,
    so the argmax ranks by ROUND(score, 6) with the class label as
    tie-break (the ml_centroid_classify rounding discipline); the
    in-sample `correct` bit and all counts are exact."""
    from .text import _tokens

    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    toks = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(_tokens()).alias("w")
    )
    # The fitted model is a bounded (|classes| × vocab) table with
    # THREE consumers (class totals, the vocabulary size, the apply
    # join) — one eager checkpoint instead of three lazy re-runs of
    # the tokenize+count corpus pass (r13; guide §1.2 / the
    # ml_pca_power cmat rule).
    model = (
        toks.groupBy(F.col("lang").alias("m_lang"), "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    class_tot = model.groupBy("m_lang").agg(
        F.sum("c").cast("bigint").alias("t")
    )
    priors = docs.groupBy(F.col("lang").alias("m_lang")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    # v from the model table: its keys are exactly the distinct
    # (lang, w) pairs of toks, so DISTINCT w agrees by set identity —
    # no third corpus pass. d keeps its own single-distinct aggregate
    # (every doc tokenizes to ≥1 token, but NULL-text rows make
    # "count docs" and "count docs in toks" different questions);
    # splitting the old two-distinct agg also drops its Expand
    # (2× rows) plan.
    consts = (
        model.agg(F.count_distinct("w").alias("v"))
        .crossJoin(
            toks.agg(F.count_distinct("doc_id").cast("bigint").alias("d"))
        )
    )
    classes = (
        class_tot.join(priors, "m_lang")
        .crossJoin(F.broadcast(consts))
    )
    scored = (
        toks.select("doc_id", "w")
        .join(F.broadcast(classes), F.lit(True))
        .join(model, ["m_lang", "w"], "left")
        .groupBy("doc_id", "m_lang")
        .agg(
            F.round(
                F.first(F.log(F.col("n_docs") / F.col("d")))
                + F.sum(
                    F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1)
                        / (F.col("t") + F.col("v"))
                    )
                ),
                6,
            ).alias("pred_score")
        )
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("pred_score").desc(), F.col("m_lang")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") == 1)
        .join(docs, "doc_id")
        .select(
            "doc_id",
            "lang",
            F.col("m_lang").alias("pred_lang"),
            "pred_score",
            (F.col("m_lang") == F.col("lang")).alias("correct"),
        )
    )


ORACLE_ML_NAIVE_BAYES = r"""
WITH toks AS (
  SELECT doc_id, lang,
         UNNEST(regexp_split_to_array(TRIM(text), '\s+')) AS w
  FROM documents
),
model AS (
  SELECT lang AS m_lang, w, COUNT(*) AS c FROM toks GROUP BY lang, w
),
class_tot AS (
  SELECT m_lang, CAST(SUM(c) AS BIGINT) AS t FROM model GROUP BY m_lang
),
priors AS (
  SELECT lang AS m_lang, COUNT(*) AS n_docs
  FROM documents GROUP BY lang
),
consts AS (
  SELECT COUNT(DISTINCT w) AS v,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS d
  FROM toks
),
classes AS (
  SELECT ct.m_lang, ct.t, p.n_docs, c.v, c.d
  FROM class_tot ct JOIN priors p USING (m_lang) CROSS JOIN consts c
),
scored AS (
  SELECT tk.doc_id, cl.m_lang,
         ROUND(
           ANY_VALUE(LN(cl.n_docs / CAST(cl.d AS DOUBLE)))
           + SUM(LN((COALESCE(m.c, 0) + 1)
                    / CAST(cl.t + cl.v AS DOUBLE))),
           6) AS pred_score
  FROM (SELECT doc_id, w FROM toks) tk
  CROSS JOIN classes cl
  LEFT JOIN model m ON m.m_lang = cl.m_lang AND m.w = tk.w
  GROUP BY tk.doc_id, cl.m_lang
),
pred AS (
  SELECT doc_id, m_lang, pred_score FROM (
    SELECT doc_id, m_lang, pred_score,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY pred_score DESC, m_lang) AS rn
    FROM scored) WHERE rn = 1
)
SELECT d.doc_id, d.lang, p.m_lang AS pred_lang, p.pred_score,
       p.m_lang = d.lang AS correct
FROM pred p JOIN (SELECT doc_id, lang FROM documents) d USING (doc_id)
"""


# ml_auc's positive class (embeddings.label value scored as "relevant").
AUC_POS_LABEL = 0


def ml_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the ml_score classifier against the embeddings'
    ground-truth label → one row (n_pos, n_neg, auc): the eval kernel
    every scored curation pass needs before trusting a threshold.
    AUC is computed as the Mann-Whitney rank statistic WITH exact tie
    handling (6dp-rounded scores tie legitimately): with C_before(s) =
    rows scoring below s and n_s the tie-group size, twice the average
    rank of group s is 2·C_before + n_s + 1, so
    2·U = Σ_s pos_s·(2·C_before + n_s + 1) − n_pos·(n_pos+1) and
    AUC = U / (n_pos·n_neg) — pure integer algebra until one final
    division, so both engines emit the identical double.

    Scale shape — the phash hash-value-contraction lesson applied to
    ranking: the corpus is first CONTRACTED to per-score groups
    (groupBy(score): ≤10⁶ rows, bounded by the 6dp value DOMAIN, not
    the corpus), and the rank cumulative runs as a window over those
    groups. No global sort or window ever touches corpus rows; the
    only corpus-sized ops are the score scan and one map-side-combined
    groupBy (both inside the shared _score_groups substrate)."""
    agg = _score_groups(spark, sf_dir).agg(
        F.sum("pos_s").alias("n_pos"),
        F.sum(F.col("n_s") - F.col("pos_s")).alias("n_neg"),
        F.sum(
            F.col("pos_s")
            * (F.lit(2) * F.col("c_before") + F.col("n_s") + F.lit(1))
        ).alias("s2"),
    )
    auc = (
        (F.col("s2") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
        / (F.lit(2.0) * F.col("n_pos").cast("double") * F.col("n_neg").cast("double"))
    )
    return agg.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))


def _score_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, n_s, pos_s, c_before): the labeled ml_score corpus
    CONTRACTED to per-score groups, with the strictly-lower-groups
    cumulative row count — the shared substrate of ml_auc (rank
    statistic) and ml_calibration (equal-count bins). One definition
    (r10 review: the contraction + window frame used to exist twice),
    and the only corpus-sized ops anywhere downstream are the score
    scan and this one map-side-combined groupBy; the ordering window
    runs over the ≤10⁶-row score DOMAIN.

    Session-shared since r13 (the lpa_communities owner/composite
    rule): each consumer used to re-run the ml_score corpus scan +
    contraction lazily; the ≤10⁶-row group table now materializes
    once per (session, sf) as the `score_groups` bench setup line
    item."""
    return shared(
        spark, sf_dir, "score_groups", lambda: _score_groups_build(spark, sf_dir)
    )


def _score_groups_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = table(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") == AUC_POS_LABEL).cast("bigint").alias("y")
    )
    scored = ml_score(spark, sf_dir).join(labels, "vec_id")
    grp = scored.groupBy("score").agg(
        F.count(F.lit(1)).alias("n_s"), F.sum("y").alias("pos_s")
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow - 1
    )
    return grp.withColumn(
        "c_before", F.coalesce(F.sum("n_s").over(w), F.lit(0))
    )


# The oracle twin of _score_groups, one CTE-chain fragment nested by
# both eval oracles ({ml_score_sql} bound at registration).
_ORACLE_SCORE_GROUPS_CTES = f"""scored AS ({{ml_score_sql}}),
lab AS (SELECT vec_id, CAST(label = {AUC_POS_LABEL} AS BIGINT) AS y
        FROM embeddings),
j AS (SELECT s.score, l.y FROM scored s JOIN lab l USING (vec_id)),
grp AS (SELECT score, COUNT(*) AS n_s, SUM(y) AS pos_s FROM j GROUP BY score),
cum AS (
    SELECT score, n_s, pos_s,
           COALESCE(SUM(n_s) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS c_before
    FROM grp
)"""


# Reliability-diagram bin count (deciles — the standard calibration
# readout).
CAL_BINS = 10


def ml_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability-diagram) readout of the ml_score
    classifier against the embeddings' ground-truth label → one row
    per equal-count score bin: (bin, n_rows, n_pos, sum_score_x1e6,
    mean_pred, frac_pos) — the eval a scored curation pass runs next
    to ml_auc before trusting its scores AS probabilities (AUC ranks;
    calibration asks whether score 0.8 really means 80% positive).

    Binning rule (declared, shared verbatim with the oracle):
    contract to per-score groups, order by score, and assign each
    whole GROUP to bin ⌊c_before·B / n⌋ where c_before counts rows in
    strictly lower groups — equal-count deciles except that a tie
    group never splits across bins (ties are indistinguishable, so
    splitting them would be arbitrary). All counts and the score sum
    are exact integers (scores are 6dp by ml_score's contract, so
    score·10⁶ is integral); the two readout fractions are one final
    division, round(6), identical expression both engines.

    Scale shape — the shared _score_groups substrate: corpus-sized
    work is the score scan + one map-side-combined groupBy(score);
    the ordering window and the bin rollup run over the ≤10⁶-row
    score DOMAIN, never corpus rows; the 1-row total broadcasts."""
    cum = _score_groups(spark, sf_dir).withColumn(
        "s6", F.round(F.col("score") * 1_000_000).cast("bigint")
    )
    # n_total as a global window over the CONTRACTED frame (bounded by
    # the score domain — the sanctioned bounded-global-window shape),
    # so the labeled corpus is scanned exactly once: a separate
    # 1-row-total leg would lazily re-run the whole scored pipeline.
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    binned = cum.withColumn("n_total", F.sum("n_s").over(w_all)).withColumn(
        "bin",
        F.expr(f"CAST((c_before * {CAL_BINS}) DIV n_total AS INT)"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("n_s").cast("bigint").alias("n_rows"),
            F.sum("pos_s").cast("bigint").alias("n_pos"),
            F.sum(F.col("s6") * F.col("n_s")).cast("bigint")
            .alias("sum_score_x1e6"),
        )
        .select(
            "bin",
            "n_rows",
            "n_pos",
            "sum_score_x1e6",
            F.round(
                F.col("sum_score_x1e6").cast("double")
                / (F.lit(1_000_000.0) * F.col("n_rows").cast("double")),
                6,
            ).alias("mean_pred"),
            F.round(
                F.col("n_pos").cast("double") / F.col("n_rows").cast("double"),
                6,
            ).alias("frac_pos"),
        )
        .orderBy("bin")
    )


ORACLE_ML_CALIBRATION = f"""
WITH {_ORACLE_SCORE_GROUPS_CTES},
tot AS (SELECT SUM(n_s) AS n_total FROM grp),
b AS (
  SELECT CAST((c.c_before * {CAL_BINS}) // t.n_total AS INT) AS bin,
         c.n_s, c.pos_s,
         CAST(ROUND(c.score * 1000000) AS BIGINT) AS s6
  FROM cum c CROSS JOIN tot t
)
SELECT bin,
       CAST(SUM(n_s) AS BIGINT) AS n_rows,
       CAST(SUM(pos_s) AS BIGINT) AS n_pos,
       CAST(SUM(s6 * n_s) AS BIGINT) AS sum_score_x1e6,
       ROUND(CAST(SUM(s6 * n_s) AS DOUBLE)
               / (1000000.0 * CAST(SUM(n_s) AS DOUBLE)), 6) AS mean_pred,
       ROUND(CAST(SUM(pos_s) AS DOUBLE) / CAST(SUM(n_s) AS DOUBLE), 6)
         AS frac_pos
FROM b GROUP BY bin ORDER BY bin
"""


# ml_tree_split: pinned histogram geometry. Bin edges are CONSTANTS
# (not data-derived) so the Spark binning, the oracle, and the output
# thresholds are one definition; both ranges divide evenly by the bin
# count so thresholds are exact integers. Rows outside a range clamp
# into the edge bins (the standard histogram-learner convention).
TREE_BINS = 16
TREE_PRICE_LO_CENTS = 0
TREE_PRICE_HI_CENTS = 50_000_000          # o_totalprice < 500 000.00
TREE_DAY_LO = 9_131                       # epoch days: 1995-01-01
TREE_DAY_HI = 9_131 + 2_560               # 2002-01-04 (orders end 2001-08)

# gain formula over the six integer counts, written ONCE as SQL text
# and used verbatim by both engines (the ml_linreg_fit discipline:
# identical scalar expression tree over identical integers ⇒ identical
# doubles). gini(S) = 1 − (pos/n)² − (neg/n)²; gain = parent − weighted
# children; empty children contribute 0 (CASE guard, same both sides).
_TREE_GAIN_SQL = """
ROUND(
  (1.0 - POW(CAST(pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 2)
       - POW(CAST(n_tot - pos_tot AS DOUBLE) / CAST(n_tot AS DOUBLE), 2))
  - (CASE WHEN n_left = 0 THEN 0.0 ELSE
      (CAST(n_left AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
      (1.0 - POW(CAST(pos_left AS DOUBLE) / CAST(n_left AS DOUBLE), 2)
           - POW(CAST(n_left - pos_left AS DOUBLE) / CAST(n_left AS DOUBLE), 2))
     END)
  - (CASE WHEN n_tot - n_left = 0 THEN 0.0 ELSE
      (CAST(n_tot - n_left AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
      (1.0 - POW(CAST(pos_tot - pos_left AS DOUBLE)
                   / CAST(n_tot - n_left AS DOUBLE), 2)
           - POW(CAST((n_tot - n_left) - (pos_tot - pos_left) AS DOUBLE)
                   / CAST(n_tot - n_left AS DOUBLE), 2))
     END)
, 6)
"""


def ml_tree_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump split finder — the inner kernel
    of every distributed tree learner (XGBoost approx / LightGBM
    histogram mode): for the binary target "order is urgent-or-high
    priority", evaluate every candidate split of two order features
    (total price in cents, order date in epoch days) against pinned
    16-bin histograms and report the full per-threshold Gini-gain
    table → (feature, threshold, n_left, pos_left, n_right, pos_right,
    gain). The caller's argmax is a 30-row reduction; emitting the
    whole table keeps the key hash-exact with no cross-engine
    float-ordering hazard.

    Scale shape — the reason histogram learners win at 100 TB: rows
    are binned in ONE pass (integer arithmetic, no sort, no
    per-threshold rescan), the shuffle carries ≤ features×bins
    combined count rows, and per-threshold left/right counts are
    CUMULATIVE SUMS over the 16-row histogram (a window over bins,
    never over rows). Candidate work is O(N) + O(bins), vs the naive
    per-threshold scan's O(N·thresholds). Missing bins are restored
    from a literal (feature × bin) grid so every pinned threshold
    appears at any sf. The gain arithmetic runs as ONE shared SQL
    fragment over exact integer counts on both engines."""
    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        .cast("bigint").alias("y"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("price"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("bigint")
        .alias("day"),
    )

    def binned(col: str, lo: int, hi: int, name: str) -> DataFrame:
        b = F.floor((F.col(col) - F.lit(lo)) * TREE_BINS / F.lit(hi - lo))
        b = F.least(F.lit(TREE_BINS - 1), F.greatest(F.lit(0), b))
        return o.select(F.lit(name).alias("feature"), b.cast("int").alias("bin"), "y")

    rows = binned("price", TREE_PRICE_LO_CENTS, TREE_PRICE_HI_CENTS, "price_cents") \
        .unionByName(binned("day", TREE_DAY_LO, TREE_DAY_HI, "order_day"))
    hist = rows.groupBy("feature", "bin").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    grid = local_frame(
        spark,
        [(f, b) for f in ("price_cents", "order_day") for b in range(TREE_BINS)],
        "feature string, bin int",
    )
    full = F.broadcast(grid).join(hist, ["feature", "bin"], "left").select(
        "feature", "bin",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("pos", F.lit(0)).alias("pos"),
    )
    w = Window.partitionBy("feature").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.partitionBy("feature")
    cum = full.select(
        "feature", "bin",
        F.sum("n").over(w).alias("n_left"),
        F.sum("pos").over(w).alias("pos_left"),
        F.sum("n").over(wt).alias("n_tot"),
        F.sum("pos").over(wt).alias("pos_tot"),
    ).filter(F.col("bin") < TREE_BINS - 1)  # internal thresholds only
    step_price = (TREE_PRICE_HI_CENTS - TREE_PRICE_LO_CENTS) // TREE_BINS
    step_day = (TREE_DAY_HI - TREE_DAY_LO) // TREE_BINS
    thr = F.when(
        F.col("feature") == "price_cents",
        F.lit(TREE_PRICE_LO_CENTS) + (F.col("bin") + 1) * F.lit(step_price),
    ).otherwise(F.lit(TREE_DAY_LO) + (F.col("bin") + 1) * F.lit(step_day))
    return cum.select(
        "feature",
        thr.cast("bigint").alias("threshold"),
        "n_left",
        "pos_left",
        (F.col("n_tot") - F.col("n_left")).alias("n_right"),
        (F.col("pos_tot") - F.col("pos_left")).alias("pos_right"),
        F.expr(_TREE_GAIN_SQL).alias("gain"),
    )


ORACLE_ML_TREE_SPLIT = f"""
WITH o AS (
    SELECT CAST(o_orderpriority IN ('1-URGENT', '2-HIGH') AS BIGINT) AS y,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price,
           CAST(DATEDIFF('day', DATE '1970-01-01',
                         CAST(o_orderdate AS DATE)) AS BIGINT) AS day
    FROM orders
),
rows_b AS (
    SELECT 'price_cents' AS feature,
           LEAST({TREE_BINS - 1}, GREATEST(0,
             CAST(FLOOR((price - {TREE_PRICE_LO_CENTS}) * {TREE_BINS}
                  / ({TREE_PRICE_HI_CENTS} - {TREE_PRICE_LO_CENTS})) AS INT)
           )) AS bin, y
    FROM o
    UNION ALL
    SELECT 'order_day' AS feature,
           LEAST({TREE_BINS - 1}, GREATEST(0,
             CAST(FLOOR((day - {TREE_DAY_LO}) * {TREE_BINS}
                  / ({TREE_DAY_HI} - {TREE_DAY_LO})) AS INT)
           )) AS bin, y
    FROM o
),
hist AS (
    SELECT feature, bin, COUNT(*) AS n, SUM(y) AS pos
    FROM rows_b GROUP BY feature, bin
),
grid AS (
    SELECT f.feature, g.bin
    FROM (SELECT 'price_cents' AS feature UNION ALL SELECT 'order_day') f,
         generate_series(0, {TREE_BINS - 1}) AS g(bin)
),
full_h AS (
    SELECT g.feature, g.bin,
           COALESCE(h.n, 0) AS n, COALESCE(h.pos, 0) AS pos
    FROM grid g LEFT JOIN hist h ON h.feature = g.feature AND h.bin = g.bin
),
cum AS (
    SELECT feature, bin,
           SUM(n) OVER (PARTITION BY feature ORDER BY bin) AS n_left,
           SUM(pos) OVER (PARTITION BY feature ORDER BY bin) AS pos_left,
           SUM(n) OVER (PARTITION BY feature) AS n_tot,
           SUM(pos) OVER (PARTITION BY feature) AS pos_tot
    FROM full_h
)
SELECT feature,
       CAST(CASE WHEN feature = 'price_cents'
                 THEN {TREE_PRICE_LO_CENTS}
                      + (bin + 1) * {(TREE_PRICE_HI_CENTS - TREE_PRICE_LO_CENTS) // TREE_BINS}
                 ELSE {TREE_DAY_LO}
                      + (bin + 1) * {(TREE_DAY_HI - TREE_DAY_LO) // TREE_BINS}
            END AS BIGINT) AS threshold,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(pos_left AS BIGINT) AS pos_left,
       CAST(n_tot - n_left AS BIGINT) AS n_right,
       CAST(pos_tot - pos_left AS BIGINT) AS pos_right,
       {_TREE_GAIN_SQL} AS gain
FROM cum
WHERE bin < {TREE_BINS - 1}
"""


# One scoring definition: the AUC oracle nests ORACLE_ML_SCORE as its
# scored CTE, so the two keys can never disagree about the score.
ORACLE_ML_AUC = f"""
WITH {_ORACLE_SCORE_GROUPS_CTES}
SELECT CAST(SUM(pos_s) AS BIGINT) AS n_pos,
       CAST(SUM(n_s - pos_s) AS BIGINT) AS n_neg,
       ROUND(CAST(SUM(pos_s * (2 * c_before + n_s + 1))
                  - SUM(pos_s) * (SUM(pos_s) + 1) AS DOUBLE)
             / (2.0 * SUM(pos_s) * SUM(n_s - pos_s)), 6) AS auc
FROM cum
"""


# Per-sample ridge strength: the normal equations get + RIDGE_LAMBDA*n
# on the feature diagonal (intercept unpenalized). Scaling the penalty
# with n (minimizing AVERAGE loss + lambda*||beta||^2) keeps the
# shrinkage geometry SF-invariant — a fixed absolute lambda would
# vanish against O(n) moments at 100x the data. 0.005 is ~1/3 of the
# embedding dims' second moment (~0.015), so shrinkage is visible but
# not saturating.
RIDGE_LAMBDA = 0.005


def ml_ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form RIDGE fit (Tikhonov-regularized normal equations)
    -> (param, coef): ml_linreg_fit's one-pass moment build with
    + RIDGE_LAMBDA*n added to the two feature diagonal entries before
    the same 3x3 Cramer solve — the L2-regularized sibling every
    feature-collinear corpus needs (ridge is also never singular for
    lambda > 0, so the det<>0 guard only fires at lambda = 0 edge
    configs). ||beta_ridge||_2 <= ||beta_ols||_2 (shrinkage
    monotonicity) is pinned as a law test against ml_linreg_fit.

    Scale shape: identical to ml_linreg_fit — ONE map-side-combined
    aggregate folds the corpus into nine moments; regularization is a
    scalar add on the 1-row frame, free at any data size. Moments are
    6dp-rounded BEFORE the solve (the pca/linreg catastrophic-
    cancellation discipline) so both engines run the identical
    expression tree."""
    e = table(spark, sf_dir, "embeddings").select(
        F.element_at("embedding", 1).cast("double").alias("x0"),
        F.element_at("embedding", 2).cast("double").alias("x1"),
        F.col("label").cast("double").alias("y"),
    )
    m = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.round(F.sum("x0"), 6).alias("sx0"),
        F.round(F.sum("x1"), 6).alias("sx1"),
        F.round(F.sum(F.col("x0") * F.col("x0")), 6).alias("sx00"),
        F.round(F.sum(F.col("x0") * F.col("x1")), 6).alias("sx01"),
        F.round(F.sum(F.col("x1") * F.col("x1")), 6).alias("sx11"),
        F.round(F.sum("y"), 6).alias("sy"),
        F.round(F.sum(F.col("x0") * F.col("y")), 6).alias("sx0y"),
        F.round(F.sum(F.col("x1") * F.col("y")), 6).alias("sx1y"),
    )
    # ridge-adjusted Gram diagonal (intercept row/col untouched)
    m = m.withColumn("a00", F.col("sx00") + F.lit(RIDGE_LAMBDA) * F.col("n"))
    m = m.withColumn("a11", F.col("sx11") + F.lit(RIDGE_LAMBDA) * F.col("n"))
    n, sx0, sx1 = F.col("n"), F.col("sx0"), F.col("sx1")
    a00, sx01, a11 = F.col("a00"), F.col("sx01"), F.col("a11")
    sy, sx0y, sx1y = F.col("sy"), F.col("sx0y"), F.col("sx1y")

    def det3(c1, c2, c3, d1, d2, d3, e1, e2, e3):
        return (
            c1 * (d2 * e3 - d3 * e2)
            - c2 * (d1 * e3 - d3 * e1)
            + c3 * (d1 * e2 - d2 * e1)
        )

    solved = m.select(
        det3(n, sx0, sx1, sx0, a00, sx01, sx1, sx01, a11).alias("det"),
        det3(sy, sx0, sx1, sx0y, a00, sx01, sx1y, sx01, a11).alias("d0"),
        det3(n, sy, sx1, sx0, sx0y, sx01, sx1, sx1y, a11).alias("d1"),
        det3(n, sx0, sy, sx0, a00, sx0y, sx1, sx01, sx1y).alias("d2"),
    )
    return solved.select(
        F.expr(
            "stack(3,"
            " 'intercept', CASE WHEN det <> 0 THEN round(d0 / det, 6) END,"
            " 'x0',        CASE WHEN det <> 0 THEN round(d1 / det, 6) END,"
            " 'x1',        CASE WHEN det <> 0 THEN round(d2 / det, 6) END)"
        ).alias("param", "coef")
    )


ORACLE_ML_RIDGE_FIT = f"""
WITH e AS (
  SELECT CAST(embedding[1] AS DOUBLE) AS x0,
         CAST(embedding[2] AS DOUBLE) AS x1,
         CAST(label AS DOUBLE) AS y
  FROM embeddings
),
m0 AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         ROUND(SUM(x0), 6) AS sx0,
         ROUND(SUM(x1), 6) AS sx1,
         ROUND(SUM(x0 * x0), 6) AS sx00,
         ROUND(SUM(x0 * x1), 6) AS sx01,
         ROUND(SUM(x1 * x1), 6) AS sx11,
         ROUND(SUM(y), 6) AS sy,
         ROUND(SUM(x0 * y), 6) AS sx0y,
         ROUND(SUM(x1 * y), 6) AS sx1y
  FROM e
),
m AS (
  SELECT *, sx00 + {RIDGE_LAMBDA} * n AS a00,
            sx11 + {RIDGE_LAMBDA} * n AS a11
  FROM m0
),
d AS (
  SELECT
    (n * (a00 * a11 - sx01 * sx01)
      - sx0 * (sx0 * a11 - sx01 * sx1)
      + sx1 * (sx0 * sx01 - a00 * sx1)) AS det,
    (sy * (a00 * a11 - sx01 * sx01)
      - sx0 * (sx0y * a11 - sx01 * sx1y)
      + sx1 * (sx0y * sx01 - a00 * sx1y)) AS d0,
    (n * (sx0y * a11 - sx01 * sx1y)
      - sy * (sx0 * a11 - sx01 * sx1)
      + sx1 * (sx0 * sx1y - sx0y * sx1)) AS d1,
    (n * (a00 * sx1y - sx0y * sx01)
      - sx0 * (sx0 * sx1y - sx0y * sx1)
      + sy * (sx0 * sx01 - a00 * sx1)) AS d2
  FROM m
)
SELECT 'intercept' AS param,
       CASE WHEN det <> 0 THEN ROUND(d0 / det, 6) END AS coef FROM d
UNION ALL SELECT 'x0', CASE WHEN det <> 0 THEN ROUND(d1 / det, 6) END FROM d
UNION ALL SELECT 'x1', CASE WHEN det <> 0 THEN ROUND(d2 / det, 6) END FROM d
"""


def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval -> one row per sampled query (src_id,
    true_label, pred_label, is_correct): exact cosine KNN_K neighbors
    vote by majority (ties -> smallest label, the deterministic rule),
    scored against the query's own held-out label. The lazy-learner
    baseline every embedding-quality report leads with — if k-NN can't
    classify, the space isn't separable and nothing trained on it will
    be.

    Scale: sim_knn_recall's exact side — not just its budget: since
    r13 the neighbor table IS the session-shared _knn_exact_topk
    artifact (this function previously rebuilt the identical
    broadcast-scored CAP×corpus window verbatim; same sample, same
    (cosine DESC, vec_id) ranking, so reuse is plan-level, not
    approximate). The vote and the verdict run on the CAP x KNN_K
    contracted table. Cross-engine ranking uses the sim_topk
    discipline (raw cosine desc, vec_id tiebreak) proven hash-exact
    across ten rounds of parity sweeps."""
    labels = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("lbl")
    )
    nbrs = _knn_exact_topk(spark, sf_dir).select(
        "src_id", F.col("neighbor_id").alias("vec_id")
    ).join(labels, "vec_id")
    vw = Window.partitionBy("src_id").orderBy(
        F.col("n_votes").desc(), F.col("lbl")
    )
    pred = (
        nbrs.groupBy("src_id", "lbl")
        .agg(F.count(F.lit(1)).alias("n_votes"))
        .withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select("src_id", F.col("lbl").alias("pred_label"))
    )
    truth = labels.select(
        F.col("vec_id").alias("src_id"), F.col("lbl").alias("true_label")
    )
    return (
        pred.join(truth, "src_id")
        .select(
            "src_id",
            "true_label",
            "pred_label",
            (F.col("pred_label") == F.col("true_label")).alias("is_correct"),
        )
    )


ORACLE_ML_KNN_CLASSIFY = f"""
WITH samp AS (
  SELECT vec_id FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {KNN_SAMPLE_CAP}
),
e0 AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, CAST(label AS INT) AS lbl
  FROM embeddings
),
e AS (
  SELECT vec_id, lbl,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS v
  FROM e0
),
q AS (
  SELECT vec_id AS src_id, v AS qv FROM e
  WHERE vec_id IN (SELECT vec_id FROM samp)
),
nbrs AS (
  SELECT q.src_id, e.vec_id, e.lbl
  FROM q JOIN e ON e.vec_id <> q.src_id
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q.src_id
                             ORDER BY list_dot_product(q.qv, e.v) DESC,
                                      e.vec_id) <= {KNN_K}
),
pred AS (
  SELECT src_id, lbl AS pred_label
  FROM (SELECT src_id, lbl, COUNT(*) AS n_votes
        FROM nbrs GROUP BY src_id, lbl)
  QUALIFY ROW_NUMBER() OVER (PARTITION BY src_id
                             ORDER BY n_votes DESC, lbl) = 1
)
SELECT p.src_id, e.lbl AS true_label, p.pred_label,
       p.pred_label = e.lbl AS is_correct
FROM pred p JOIN e ON e.vec_id = p.src_id
"""


def ml_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette of the KMEANS_K pinned clustering →
    (cell_id, n_vecs, mean_sil, min_sil): the cluster-quality report
    every k-means consumer reads next to ml_kmeans_train's
    convergence trace. Per vector, a = cosine distance to its own
    (nearest) centroid, b = distance to the best OTHER centroid,
    s = (b−a)/max(a,b) — the centroid-based (simplified) silhouette
    [Rousseeuw 1987's medoid form with the cluster mean substituted],
    aggregated per cluster as the mean and worst case.

    Zero-shuffle scoring: the k-centroid table collapses to ONE
    broadcast row of (cell_id, cv) structs, each vector scores all k
    inside a single projection (array_sort on (−sim, cell_id) structs
    picks own + runner-up without a window), so the corpus is touched
    by one scan and the only shuffle is the k-row-output groupBy on
    the assigned cell — map-side combined. The same shape at 100 TB
    is the IVF assignment scan (sim_topk_ivf), with the tree quantizer
    (_assign_2level) the escalation once k outgrows a broadcast.

    Exactness: sims are bit-identical across engines (same fold order
    — the engine-wide _dot/list_dot_product contract); argmax and
    runner-up use the (sim DESC, cell_id) tie-break; s is a ratio of
    bit-identical doubles; min_sil is an exact min and mean_sil is
    6dp-rounded (the engine-wide summation-jitter discipline)."""
    emb = _embeddings(spark, sf_dir)
    cells = _cells(spark, sf_dir, KMEANS_K)
    packed = cells.agg(
        F.collect_list(F.struct("cell_id", "cv")).alias("cs")
    )
    scored = (
        emb.crossJoin(F.broadcast(packed))
        .select(
            "vec_id",
            F.array_sort(
                F.transform(
                    "cs",
                    lambda c: F.struct(
                        (
                            -_dot(F.col("v"), c["cv"])
                            / (_norm(F.col("v")) * _norm(c["cv"]))
                        ).alias("msim"),
                        c["cell_id"].alias("cell_id"),
                    ),
                )
            ).alias("ranked"),
        )
        .select(
            "vec_id",
            F.element_at("ranked", 1)["cell_id"].alias("cell_id"),
            (-F.element_at("ranked", 1)["msim"]).alias("a_sim"),
            (-F.element_at("ranked", 2)["msim"]).alias("b_sim"),
        )
        .select(
            "cell_id",
            (
                (F.col("a_sim") - F.col("b_sim"))
                / F.greatest(1 - F.col("a_sim"), 1 - F.col("b_sim"))
            ).alias("s"),
        )
    )
    return scored.groupBy("cell_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("s"), 6).alias("mean_sil"),
        F.round(F.min("s"), 6).alias("min_sil"),
    )


ORACLE_ML_SILHOUETTE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cells AS (
  SELECT vec_id AS cell_id, v AS cv FROM e
  ORDER BY vec_id LIMIT {KMEANS_K} OFFSET {N_QUERIES}
),
sims AS (
  SELECT e.vec_id, c.cell_id,
         list_dot_product(e.v, c.cv)
           / (sqrt(list_dot_product(e.v, e.v))
              * sqrt(list_dot_product(c.cv, c.cv))) AS sim,
         ROW_NUMBER() OVER (PARTITION BY e.vec_id
                            ORDER BY list_dot_product(e.v, c.cv)
                                       / (sqrt(list_dot_product(e.v, e.v))
                                          * sqrt(list_dot_product(c.cv, c.cv)))
                                     DESC, c.cell_id) AS rn
  FROM e CROSS JOIN cells c
),
pick AS (
  SELECT a.vec_id, a.cell_id, a.sim AS a_sim, b.sim AS b_sim
  FROM sims a JOIN sims b ON a.vec_id = b.vec_id AND b.rn = 2
  WHERE a.rn = 1
)
SELECT cell_id,
       COUNT(*) AS n_vecs,
       ROUND(AVG((a_sim - b_sim) / GREATEST(1 - a_sim, 1 - b_sim)), 6)
         AS mean_sil,
       ROUND(MIN((a_sim - b_sim) / GREATEST(1 - a_sim, 1 - b_sim)), 6)
         AS min_sil
FROM pick GROUP BY cell_id
"""


def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k → (query_id, neighbor_id, rank,
    dot): the UNNORMALIZED retrieval scoring (recommender / learned-
    retrieval models score by raw dot, where vector norm carries
    popularity/confidence — a different ranking than sim_topk's
    cosine whenever norms vary). Same pinned query set, same
    broadcast-queries × one-corpus-scan shape as sim_topk; ranking
    orders by the raw dot with a vec_id tie-break (64-term double
    dots agree across engines to ~1e-14, far below ranking gaps —
    the sim_topk discipline).

    100 TB: the corpus scan dominates and parallelizes per-partition;
    the per-query top-k is a TOP_K-bounded window on a broadcast-
    joined stream — no corpus-sized sort (AQE splits the window by
    query_id, a N_QUERIES-key domain, each partial top-k map-side).
    The MIPS-to-cosine reduction (augment dims so IVF routing works
    on inner product) is the documented escalation path; at this d
    the flat scan IS the baseline the IVF keys compare against."""
    scored = _all_pairs(_raw_queries(spark, sf_dir), _embeddings(spark, sf_dir))
    return _neighbors(
        scored.withColumn("dot", _dot(F.col("qv"), F.col("v"))), "query_id", "dot", TOP_K
    )


ORACLE_SIM_MIPS_TOPK = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, v AS qv FROM e ORDER BY vec_id LIMIT {N_QUERIES}
),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(q.qv, e.v) AS dot
  FROM q JOIN e ON e.vec_id <> q.query_id
),
ranked AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY dot DESC, neighbor_id) AS rank,
         dot
  FROM scored
)
SELECT query_id, neighbor_id, rank, ROUND(dot, 6) AS dot
FROM ranked WHERE rank <= {TOP_K}
"""


DBSCAN_MINPTS = 2  # core point: ≥ this many ε-neighbors (besides itself)


def ml_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN point classification over the ε-neighbor graph →
    (label, n_core, n_border, n_noise): ε-neighbors are the session-
    shared dedup_embed pairs (cosine ≥ EMBED_COSINE_T among the
    deterministic quantizer's blocked candidates — the documented
    blocked-DBSCAN approximation, exact within the candidate graph);
    a vector is CORE with ≥ DBSCAN_MINPTS neighbors, BORDER when
    non-core but adjacent to a core, NOISE otherwise. The density
    triage every embedding-curation pass runs before clustering
    (which dense regions are semantic-dup blobs vs isolated tails).

    100 TB shape: zero additional corpus work — degree is ONE
    map-side-combined groupBy on the (pairs ≪ corpus) edge list, the
    core-adjacency check a co-partitioned self-join on the same key,
    and the label rollup one corpus scan joining two vid-keyed tables
    ≪ corpus. Composes the shared pair artifact exactly like
    corpus_semdedup/sim_dedup_sweep — one pair build serves four
    declared keys per session."""
    pairs = dedup_embed(spark, sf_dir)
    sym = pairs.select(
        F.col("vec_a").alias("vid"), F.col("vec_b").alias("nbr")
    ).unionAll(
        pairs.select(F.col("vec_b").alias("vid"), F.col("vec_a").alias("nbr"))
    )
    deg = sym.groupBy("vid").agg(F.count(F.lit(1)).alias("deg"))
    core = deg.filter(F.col("deg") >= DBSCAN_MINPTS).select("vid")
    near_core = (
        sym.join(core.withColumnRenamed("vid", "nbr"), "nbr")
        .select("vid")
        .distinct()
        .withColumn("has_core_nbr", F.lit(True))
    )
    lab = table(spark, sf_dir, "embeddings").select("vec_id", "label")
    cls = (
        lab.join(deg, lab.vec_id == deg.vid, "left")
        .drop("vid")
        .join(near_core, lab.vec_id == near_core.vid, "left")
        .drop("vid")
        .withColumn("is_core", F.coalesce("deg", F.lit(0)) >= DBSCAN_MINPTS)
        .withColumn(
            "is_border",
            ~F.col("is_core") & F.coalesce("has_core_nbr", F.lit(False)),
        )
    )
    return cls.groupBy("label").agg(
        F.sum(F.col("is_core").cast("int")).cast("bigint").alias("n_core"),
        F.sum(F.col("is_border").cast("int")).cast("bigint").alias("n_border"),
        F.sum((~F.col("is_core") & ~F.col("is_border")).cast("int"))
        .cast("bigint")
        .alias("n_noise"),
    )


# Composes the declared pair oracle verbatim (the corpus_semdedup
# pattern) so "ε-neighbor" can never drift between the keys.
ORACLE_ML_DBSCAN_CORE = f"""
WITH pairs AS ({ORACLE_DEDUP_EMBED}),
sym AS (
  SELECT vec_a AS vid, vec_b AS nbr FROM pairs
  UNION ALL
  SELECT vec_b AS vid, vec_a AS nbr FROM pairs
),
deg AS (SELECT vid, COUNT(*) AS deg FROM sym GROUP BY vid),
core AS (SELECT vid FROM deg WHERE deg >= {DBSCAN_MINPTS}),
near_core AS (
  SELECT DISTINCT s.vid FROM sym s JOIN core c ON s.nbr = c.vid
),
cls AS (
  SELECT e.label,
         COALESCE(d.deg, 0) >= {DBSCAN_MINPTS} AS is_core,
         (COALESCE(d.deg, 0) < {DBSCAN_MINPTS})
           AND nc.vid IS NOT NULL AS is_border
  FROM embeddings e
  LEFT JOIN deg d ON d.vid = e.vec_id
  LEFT JOIN near_core nc ON nc.vid = e.vec_id
)
SELECT label,
       CAST(SUM(CASE WHEN is_core THEN 1 ELSE 0 END) AS BIGINT) AS n_core,
       CAST(SUM(CASE WHEN is_border THEN 1 ELSE 0 END) AS BIGINT)
         AS n_border,
       CAST(SUM(CASE WHEN is_core OR is_border THEN 0 ELSE 1 END) AS BIGINT)
         AS n_noise
FROM cls GROUP BY label
"""


QUERIES = {
    "sim_topk": sim_topk,
    "sim_mips_topk": sim_mips_topk,
    "sim_topk_ivf": sim_topk_ivf,
    "sim_ivf_recall": sim_ivf_recall,
    "sim_range_search": sim_range_search,
    "sim_knn_graph": sim_knn_graph,
    "sim_knn_graph_tree": sim_knn_graph_tree,
    "sim_knn_recall": sim_knn_recall,
    "sim_knn_tree_recall": sim_knn_tree_recall,
    "sim_pq_code": sim_pq_code,
    "sim_pq_topk": sim_pq_topk,
    "sim_pq_recall": sim_pq_recall,
    "sim_ivfpq_topk": sim_ivfpq_topk,
    "sim_ivfpq_recall": sim_ivfpq_recall,
    "sim_recall_curve": sim_recall_curve,
    "dedup_embed": dedup_embed,
    "dedup_embed_tree": dedup_embed_tree,
    "corpus_semdedup": corpus_semdedup,
    "sim_dedup_sweep": sim_dedup_sweep,
    "ml_kmeans_step": ml_kmeans_step,
    "ml_kmeans_train": ml_kmeans_train,
    "ml_gmm_step": ml_gmm_step,
    "ml_logreg_step": ml_logreg_step,
    "ml_linreg_fit": ml_linreg_fit,
    "ml_ridge_fit": ml_ridge_fit,
    "ml_knn_classify": ml_knn_classify,
    "ml_score": ml_score,
    "ml_centroid_classify": ml_centroid_classify,
    "ml_confusion_metrics": ml_confusion_metrics,
    "ml_naive_bayes": ml_naive_bayes,
    "ml_pca_power": ml_pca_power,
    "ml_tree_split": ml_tree_split,
    "ml_auc": ml_auc,
    "ml_calibration": ml_calibration,
    "ml_silhouette": ml_silhouette,
    "ml_dbscan_core": ml_dbscan_core,
}

# Every key exact-oracled: IVF blocking is deterministic algebra,
# so both the approximate results AND their measured recall hash-match.
ORACLE_SQL = {
    "sim_topk": ORACLE_SIM_TOPK,
    "sim_mips_topk": ORACLE_SIM_MIPS_TOPK,
    "sim_topk_ivf": ORACLE_SIM_TOPK_IVF,
    "sim_ivf_recall": ORACLE_SIM_IVF_RECALL,
    "sim_range_search": ORACLE_SIM_RANGE_SEARCH,
    "sim_knn_graph": ORACLE_SIM_KNN_GRAPH,
    "sim_knn_recall": ORACLE_SIM_KNN_RECALL,
    "sim_knn_graph_tree": ORACLE_SIM_KNN_GRAPH_TREE,
    "sim_knn_tree_recall": ORACLE_SIM_KNN_TREE_RECALL,
    "sim_pq_code": ORACLE_SIM_PQ_CODE,
    "sim_pq_topk": ORACLE_SIM_PQ_TOPK,
    "sim_pq_recall": ORACLE_SIM_PQ_RECALL,
    "sim_ivfpq_topk": ORACLE_SIM_IVFPQ_TOPK,
    "sim_ivfpq_recall": ORACLE_SIM_IVFPQ_RECALL,
    "sim_recall_curve": _oracle_recall_curve().format(exact=ORACLE_SIM_TOPK),
    "dedup_embed": ORACLE_DEDUP_EMBED,
    "dedup_embed_tree": ORACLE_DEDUP_EMBED_TREE,
    "corpus_semdedup": ORACLE_CORPUS_SEMDEDUP,
    "sim_dedup_sweep": ORACLE_SIM_DEDUP_SWEEP,
    "ml_kmeans_step": ORACLE_ML_KMEANS_STEP,
    "ml_kmeans_train": ORACLE_ML_KMEANS_TRAIN,
    "ml_gmm_step": ORACLE_ML_GMM_STEP,
    "ml_logreg_step": ORACLE_ML_LOGREG_STEP,
    "ml_linreg_fit": ORACLE_ML_LINREG_FIT,
    "ml_ridge_fit": ORACLE_ML_RIDGE_FIT,
    "ml_knn_classify": ORACLE_ML_KNN_CLASSIFY,
    "ml_score": ORACLE_ML_SCORE,
    "ml_centroid_classify": ORACLE_ML_CENTROID_CLASSIFY,
    "ml_confusion_metrics": ORACLE_ML_CONFUSION_METRICS,
    "ml_naive_bayes": ORACLE_ML_NAIVE_BAYES,
    "ml_pca_power": ORACLE_ML_PCA_POWER,
    "ml_tree_split": ORACLE_ML_TREE_SPLIT,
    "ml_auc": ORACLE_ML_AUC.format(ml_score_sql=ORACLE_ML_SCORE),
    "ml_calibration": ORACLE_ML_CALIBRATION.format(
        ml_score_sql=ORACLE_ML_SCORE
    ),
    "ml_silhouette": ORACLE_ML_SILHOUETTE,
    "ml_dbscan_core": ORACLE_ML_DBSCAN_CORE,
}
