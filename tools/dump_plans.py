"""Regenerate the checkout's PLANS.md: formatted physical plans of the
headline queries with scale commentary.

    SPARK_GRAFT_SF_DIR=<sf dir> python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers (the pandas-UDF keys) import the engine from
# the working directory, so the tool runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)

from distributed_graph_database_spark import cache, registry  # noqa: E402
from distributed_graph_database_spark.session import get_spark  # noqa: E402

# key -> why this plan shape is the 100 TB-safe one
HEADLINERS: dict[str, str] = {
    "graph_modularity": (
        "Partition-quality audit (r11): consumes the session-shared LPA "
        "table and the checkpointed sym edges; two vertex-key label "
        "joins, a one-row-per-community term table, broadcast 1-row "
        "totals — every term integer until the single final division, "
        "so the plan has no float accumulation to re-order at scale."
    ),
    "ml_knn_classify": (
        "k-NN classifier eval (r11): the md5-capped query sample "
        "(constant count at any corpus size) broadcasts against ONE "
        "corpus scan; vote and verdict run on the CAP x K contracted "
        "table — the sim_knn_recall exact-side budget, reused verbatim."
    ),
    "events_count_min": (
        "Count-Min sketch heavy hitters (r11): the sketch is built from "
        "the per-key CONTRACTION (one map-side-combined groupBy), never "
        "raw events — CMS is additive, so summing per-key counts into "
        "cells equals row-wise increments; the 256-row counter table is "
        "broadcast to the estimate join and top-k is TakeOrdered, so the "
        "whole key is one corpus shuffle plus contracted-domain work."
    ),
    "text_hashing_vectorizer": (
        "Hashing-trick featurization census (r11): the exploded token "
        "table contracts through composite-key partials — (bucket, token) "
        "then distinct (bucket, doc) — so only 256-row results ever meet "
        "the tiny bucket domain; a single groupBy(bucket) with two "
        "countDistincts would expand rows 3x and funnel the corpus "
        "through 256 hot reducer keys."
    ),
    "mm_clip_filter": (
        "Cross-modal pair gate (r10): both encoder stages are map-side "
        "one-scan features, the three-way join keys on the doc_id primary "
        "key (broadcast at bench SF, zipper at scale), and the cosine gate "
        "is an integer `bit_count(xor)` threshold inside the final "
        "map-side-combined aggregate — no floats, no payload shuffle."
    ),
    "ql_sql_q11": (
        "Q11 with the partsupp CTE served from the session-materialized "
        "ingest artifact (r10): the three natsupp consumers (rows + two "
        "scalar subqueries) read the checkpointed aggregate instead of "
        "re-aggregating lineitem three times — the scan below is "
        "`ExistingRDD`, not three fact passes."
    ),
    "ql_filter": (
        "Predicate reaches the parquet scan (`PushedFilters`) and only the "
        "projected columns are read (`ReadSchema`) — I/O scales with the "
        "answer, not the table."
    ),
    "ql_broadcast_join": (
        "Both dimension sides are `BroadcastHashJoin` — the fact side is "
        "never shuffled. A shuffle here would move the whole fact table "
        "to co-locate with a 25-row dimension."
    ),
    "ql_bucketed_join": (
        "Fact⋈fact with NO exchange below the `SortMergeJoin`: both scans "
        "are `Bucketed: true`, so bucket k joins bucket k directly. The "
        "shuffle was paid once at write time (`bucketBy`), not per query."
    ),
    "ql_topk": (
        "`TakeOrderedAndProject`: per-partition top-k heaps merged at the "
        "driver — never a global sort of the full table."
    ),
    "bfs_levels": (
        "One round of the iterative frontier loop: the (small) frontier is "
        "broadcast against persisted edges, `left_anti` dedups against the "
        "visited set, and each round is checkpointed to cut lineage. The "
        "plan below is the final round's."
    ),
    "dedup_near": (
        "MinHash-LSH banding + audit (r11): candidates only form inside "
        "band buckets (equi-join on band_key), never an all-pairs product; "
        "exact Jaccard verification is an equi-join on the shared shingle "
        "table; the audit joins the pair set against the df-capped "
        "corpus-wide exact truth and signs precision/recall as two "
        "1-row aggregates (broadcast 1-row crossJoin)."
    ),
    "dedup_embed": (
        "IVF-cell blocking: the pair join is keyed on cell_id, cosine is "
        "verified inside the join projection, and only survivors reach "
        "the dedup shuffle."
    ),
    "sim_topk": (
        "The pinned query set is broadcast; the corpus is scanned once; "
        "per-query top-k via windowed rank, planned as a partial "
        "WindowGroupLimit before the window's shuffle."
    ),
    "pipeline_clean_corpus": (
        "Fused cleaning pipeline: ONE scan of documents computes "
        "fingerprint + quality + language columns, one window shuffle "
        "picks keep-first — no joins, no re-reads of the text column."
    ),
    "mm_decode_meta": (
        "`MapInPandas` (Arrow-batched) is the only Python in the engine — "
        "binary payloads stream through the kernel without per-row "
        "overhead, and metadata is projected out before any wide op."
    ),
    "events_range_join": (
        "Time-range join WITHOUT an equi-key: band-bucketing manufactures "
        "one (clicks keyed by epoch÷band plus a 4-way hash salt, views "
        "probe 2 buckets × 4 salts), so the plan is a hash join + "
        "aggregate and a hot 5-minute band splits across 4 reducers — a "
        "naive formulation would be a BroadcastNestedLoopJoin that dies "
        "at scale."
    ),
    "events_asof_join": (
        "As-of join as a LINEAR merge-scan: one shuffle on user_id, one "
        "within-partition sort, `last(..., ignorenulls)` carries the "
        "newest view forward — never the per-user quadratic range join."
    ),
    "graph_copurchase": (
        "Basket projection with the enforced size cap: the basket count "
        "window rides the same l_orderkey exchange the pair self-join "
        "needs, so the guard adds zero extra shuffles and any "
        "adversarial mega-basket is dropped before the quadratic term."
    ),
    "corpus_pack": (
        "Token packing as sharded window algebra: the running sum "
        "partitions by the md5 shard key, so no global single-partition "
        "window exists anywhere in the plan."
    ),
    "dedup_ngram": (
        "Blocked exact Jaccard with the stop-shingle df cap: the hot-set "
        "aggregate broadcasts into a left_anti before the self-join, so "
        "no (source, shingle) bucket exceeds the cap."
    ),
    "graph_pagerank": (
        "Five lazy power-iteration supersteps in ONE job: loop-invariant "
        "tables checkpointed once, each round a join + partial-aggregated "
        "groupBy-sum — the Pregel superstep expressed in DataFrame algebra."
    ),
    "ql_salted_agg": (
        "Two-phase skewed COUNT DISTINCT: phase 1 partial-aggregates on "
        "(group, salt-of-distinct-key) so hot low-cardinality groups are "
        "built by 16 parallel reducers; phase 2 sums disjoint partials."
    ),
    "graph_jaccard": (
        "Per-edge common-neighbor counts via the degree-oriented triangle "
        "enumeration (wedge work bounded O(m^1.5)) — the naive "
        "adjacency-list self-join would materialize Σ deg(mid)² wedge "
        "rows and die on hub vertices."
    ),
    "ml_score": (
        "Broadcast-model corpus scoring: the weight vector rides a "
        "BroadcastExchange into the scan's projection — zero shuffle, "
        "zero Python; scoring cost is exactly one pass over the data."
    ),
    "sim_knn_graph": (
        "All-corpus ANN join: the two-level quantizer routes every vector "
        "to its probe cells (broadcast coarse anchors + narrow window "
        "ranks), then home-side × probe-side equi-join on cell_id — "
        "per-cell occupancy is constant at cells ∝ N, so candidate work "
        "is linear in N, never a corpus² product; at 100 TB the home "
        "table hash-partitions by cell_id so each block is one "
        "partition's work."
    ),
    "graph_communities": (
        "Four lazy label-propagation supersteps in ONE job over the "
        "checkpointed sym edge table: per round a join on the vertex "
        "key and one partial-aggregated deterministic `mode` of the "
        "received labels per vertex (the count DESC, label ASC arg-max "
        "with no window) — the same bounded-lineage Pregel shape as "
        "pagerank."
    ),
    "ml_centroid_classify": (
        "Fit+predict with zero vector-sized shuffle: the (label, dim) "
        "mean build partial-aggregates map-side, the L·d centroid table "
        "broadcasts, and prediction is computed inside the corpus scan's "
        "projection + one per-vector arg-max window."
    ),
    "events_gap_fill": (
        "Dense-grid zero-fill without re-shuffling the fact table: the "
        "hour sequence and distinct-type list are 1-row/tiny derived "
        "tables, their product broadcast left-joins onto the one "
        "map-side-combined rollup."
    ),
    "ql_sql_q18": (
        "HAVING-gated aggregate-join from a bare ANSI string: lineitem "
        "aggregates ON its join key so the groupBy exchange doubles as "
        "the join exchange, the HAVING filter shrinks the key set before "
        "orders joins, customer broadcasts, and the LIMIT becomes "
        "TakeOrderedAndProject — no full sort."
    ),
    "events_pattern_match": (
        "CEP over timelines in one user-keyed shuffle: the ordered "
        "type-initial string is built by array_sort over collect_list "
        "(deterministic on the unique (ts,event_id) key) and the regex "
        "count is a codegen'd linear scan — no per-event window, no "
        "self-join, no Python."
    ),
    "text_collocations": (
        "Bigram generation is a flat array transform inside the scan "
        "(zero extra shuffle); the support gate runs BEFORE the "
        "vocabulary join so only surviving bigram heads join; the "
        "final report is TakeOrderedAndProject top-K."
    ),
    "store_cdc_apply": (
        "Log compaction as ONE map-side-combined aggregate: "
        "max(struct(seq,…)) picks the last writer per key with partial "
        "combine before the single key exchange — no window over the "
        "raw log, no join; the SortAggregate is Spark's composite-"
        "buffer restriction (per-partition sort), not an extra pass, "
        "and the exchange still carries one row per key."
    ),
    "ql_unpivot": (
        "Melt via a zero-shuffle Expand: each wide row fans to "
        "|statuses| long rows map-side, stacked on top of the pivot's "
        "single aggregate exchange — no new shuffle for the reshape."
    ),
    "ql_sql_q21": (
        "The EXISTS/NOT-EXISTS sole-late-supplier pair planned as a "
        "LeftSemi and a LeftAnti self-join of lineitem on l_orderkey, "
        "with the non-equi lateness term as a residual join condition — "
        "never a per-row re-scan of the fact table."
    ),
    "store_zorder_prune": (
        "Z-order layout: the scan carries BOTH pushed predicates "
        "(custkey and date), and the Morton-clustered files give both "
        "dimensions tight min/max spans — the 2-D window prunes at the "
        "footer where a 1-D sort clusters only one dimension."
    ),
    "graph_mst": (
        "One Borůvka round: components pick their best cross edge with a "
        "single groupBy-min of a struct (no global edge sort, no "
        "sequential union-find), then merge through the checkpointed "
        "large-star/small-star CC kernel — O(log V) such rounds total."
    ),
    "sim_pq_topk": (
        "PQ-ADC ranking: the per-query lookup table broadcasts into a "
        "join against 96-bit codes — no full vector is touched until the "
        "50-element shortlist is exact-reranked; corpus-side I/O and "
        "shuffle shrink ~21× vs float32 vectors."
    ),
    "corpus_chunk": (
        "Token-window chunking entirely inside one scan stage: split → "
        "posexplode of an arithmetic start sequence → slice/md5, zero "
        "exchanges anywhere in the plan."
    ),
    "ql_histogram_eqdepth": (
        "Type-1 integer-rank quantile boundaries (r7): the cumulative "
        "count runs over the DISTINCT cents domain (price-range-bounded "
        "at any row scale), the 15 boundaries broadcast, and every row "
        "assigns its bucket scan-side — no per-row global window, no "
        "float interpolation anywhere near the comparison."
    ),
    "text_unigram_logprob": (
        "Unigram-LM scoring in three natural-key shuffles: the vocab is "
        "built map-side-combined and JOINED on the token key (a table, "
        "not a broadcast — a 100M-token vocab distributes), totals ride "
        "a broadcast 1-row frame, and the per-doc score is one more "
        "partial-aggregated groupBy."
    ),
    "ml_naive_bayes": (
        "NB fit+apply with the model as a TABLE: the (lang, token) "
        "likelihood counts partial-aggregate map-side; apply left-joins "
        "exploded tokens × a broadcast 5-class frame against the model "
        "on the composite key — no driver-side model object at any "
        "vocabulary size."
    ),
    "ml_pca_power": (
        "Distributed Gram build: position-exploded self-join on vec_id "
        "collapses to d²=4096 map-side-combined partials before the "
        "only data-sized exchange; both power steps then run on "
        "constant-size d×d frames with the norm broadcast."
    ),
    "mm_phash_dedup": (
        "Image near-dup LSH with hash-value contraction: the banded "
        "equi-join + codegen'd bit_count(xor) verify run over DISTINCT "
        "hash values (bounded by the hash space, constant in N); doc "
        "pairs come from equi-joins of (doc_id, phash) against the "
        "verified hash-pair set plus a same-phash self-join — every "
        "join output row is an emitted result row (output-optimal). "
        "The only Python in the plan is the Arrow hash kernel, run "
        "once behind a checkpoint; payload bytes never reach a "
        "shuffle."
    ),
    "sim_ivfpq_topk": (
        "IVF-PQ hybrid (IVFADC): broadcast probes route each query to "
        "nprobe cells, the ADC join scores only probed-cell members "
        "via the broadcast constant-size LUT over 96-bit codes, and "
        "full vectors are read solely for the shortlist re-rank — "
        "candidate count and bytes-per-candidate cut in the same plan."
    ),
    "mm_phash_clusters": (
        "Cluster-canonical image dedup on the CONTRACTED hash-value "
        "graph: one linear groupBy(phash) carries (min doc_id, count) "
        "per distinct hash, the CC kernel runs on a graph bounded by "
        "the hash space (constant in corpus size), and one groupBy "
        "expands labels back — the quadratic doc-pair set is never "
        "materialized."
    ),
    "graph_ppr": (
        "Random walk with restart, SPARSE rank state (r11): mass rows "
        "only — per-round join + partial-aggregated contribution sum "
        "over the once-checkpointed degree-annotated edges, the (1-d) "
        "seed row unioned in, densified once at the end; all rounds "
        "one lazy job, no per-round dense (seed x vertex) join."
    ),
    "graph_betweenness": (
        "Brandes on DataFrames, one seeded kernel: forward levels "
        "(seed, vertex, sigma) materialize once each (checkpoint); the "
        "backward pass walks them in reverse with one chain per level, "
        "level left-join edges left-join the next level's delta frame "
        "(which carries sigma), grouped by (seed, vertex, sigma). The "
        "multi-seed betweenness and closeness keys run the same kernel "
        "— level count is the horizon, never the vertex count, and "
        "sigma stays exact integer the whole way."
    ),
    "ops_graph_snapshot": (
        "Version-partitioned snapshot store: every version is its own "
        "(graph_id, version) partition directory, so VERSION-AS-OF "
        "reads plan PartitionFilters and writers only ever ADD "
        "partitions — the reference's readers-writers lock dissolves "
        "into immutable layout."
    ),
    "text_bpe_encode": (
        "Tokenize with the trained merges: the encoded corpus length "
        "is a pure function of the word-frequency dict the trainer "
        "folds, so the plan is one exploded-token groupBy joined "
        "against the final dict on the token key — a shuffle hash "
        "join on a vocabulary TABLE, never a broadcast of it, and "
        "document text never shuffles."
    ),
    "ml_linreg_fit": (
        "Closed-form OLS: one map-side-combined aggregate folds the "
        "corpus to nine normal-equation moments (partial_sum lanes "
        "before the single-row exchange); the Cramer solve is scalar "
        "projection on the 1-row frame — no join, no second scan."
    ),
    "store_bloom_prune": (
        "Bloom point lookups: the IN-list reaches the scan as "
        "PushedFilters In(o_custkey, ...), which is what parquet-mr's "
        "row-group filter evaluates against the column's bloom filter "
        "— row groups that provably lack the keys are skipped at the "
        "footer, no sort order required."
    ),
    "ml_tree_split": (
        "Histogram split finder (r9): rows are binned by integer "
        "arithmetic inside one WholeStageCodegen scan span, the "
        "exchange carries at most features×bins combined count rows, "
        "and per-threshold left/right counts are running sums over the "
        "16-row histogram (a Window over BINS) — O(N)+O(bins), never "
        "a per-threshold rescan."
    ),
    "ops_graph_merge": (
        "Edge/node-granular MERGE (r9): the delta log is compacted by "
        "one max(struct(seq,action)) groupBy, then every application "
        "join is a BroadcastHashJoin/anti of the delta-sized frame "
        "against the store scan — adds union in, deletes and the "
        "vertex-delete cascade are broadcast anti-joins; the store is "
        "never shuffled."
    ),
    "corpus_sample_weighted": (
        "Quality-weighted sampling: the quality gates and the salted "
        "md5 draw are all per-row expressions inside one "
        "WholeStageCodegen span over a single documents scan — "
        "membership is a Filter, never a join against a quality "
        "table and never a rand()."
    ),
    "text_line_dedup": (
        "Line-level exact dedup (r12): explode lines with positions, "
        "ONE md5-hash groupBy computing (n_occ, canonical min-struct) "
        "with map-side partials, rejoin on the SAME hash key (the "
        "exchange is reusable), per-doc rollup — survivor identity is "
        "deterministic so the whole C4 normalization is exact; no "
        "corpus-sized window on the Spark side."
    ),
    "text_pii_scrub": (
        "PII redaction gate (r12): counts and masks are per-row "
        "regexp expressions inside one WholeStageCodegen span over a "
        "single documents scan — ZERO shuffles; the masked-text md5 "
        "pins the whole byte stream into the hash check."
    ),
}


def main() -> int:
    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    spark = get_spark("dump-plans")
    out = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Generated by `tools/dump_plans.py` at `{sf_dir}`. Each plan is",
        "`queryExecution.executedPlan` read AFTER executing the query",
        "(collect through the same QueryExecution), so",
        "AdaptiveSparkPlan sections print",
        "`isFinalPlan=true` — AQE's runtime broadcast conversions and",
        "partition coalescing are IN the dump, not speculative",
        "(VERDICT r12 #4; the pre-r13 dump showed initial plans).",
        "One cosmetic exception: a scalar SUBQUERY's nested",
        "AdaptiveSparkPlan prints the flag captured at plan time",
        "(Spark renders subqueries from the planned snapshot), so",
        "`ql_sql_q11`'s inner subquery line still reads false even",
        "though the enclosing plan executed to completion.",
        "",
    ]
    for key, why in HEADLINERS.items():
        # The live view: cached keys expose their underlying plan, not
        # the checkpoint scan the cached entry point returns.
        with cache.live_plans():
            df = registry.QUERIES[key](spark, sf_dir)
        # Execute FIRST, and through the Dataset's OWN QueryExecution:
        # a write sink wraps the logical plan in a NEW execution, so
        # its AdaptiveSparkPlan finalizes while the one we dump stays
        # initial (the r13 noop-sink attempt reproduced exactly the
        # isFinalPlan=false dumps this tool exists to fix). collect()
        # drives the same instance; results are sf0.01-sized.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        out += [f"## `{key}`", "", why, "", "```", plan.rstrip(), "```", ""]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(HEADLINERS)} plans)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
