"""Scale-up testdata generator for the 100×-scale dry run (VERDICT r6
item 8): synthesize sf1 (or any multiple) from the driver's read-only
sf0.1 parquet by REPLICATION WITH KEY OFFSETS — every replica shifts
its keys by `i * stride` so join relationships, fan-outs, and
selectivities are preserved at k× the rows (the standard scale-up
construction when the original generator isn't available; the driver's
testdata is read-only and ships no generator).

Shape preservation notes:
- region/nation stay fixed (TPC-H semantics: they never scale).
- customer/supplier/part/orders/lineitem/events replicate with
  consistent offsets on every key AND foreign key, so per-key join
  cardinalities are identical to the source and per-order/basket
  structure is cloned, not blended.
- documents get a per-replica text suffix (and n_chars adjusted to
  match) so exact/near-dup keys don't see every doc 10× duplicated —
  which would collapse the dedup workload into a pathological case.
- embeddings get a tiny deterministic per-replica component nudge so
  ANN neighborhoods aren't k identical copies of each vector.
- each table lands as ONE parquet file `{out}/{tbl}.parquet` — the
  exact driver testdata layout (parquet row groups keep scan
  parallelism; the streaming staging shim copies the file by path).

Usage: SPARK_GRAFT_SF_DIR=<source sf dir> python tools/gen_sf.py
                              [--mult 10] [--out /tmp/dgdb_sf1]
Relative paths resolve against the checkout. Deterministic (no RNG
anywhere); safe to re-run (overwrites).
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys

# The checkout this file lives in, not whatever copy is on sys.path.
# Spark's Python workers import the engine from the working
# directory, so the tool runs from the checkout as well.
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.chdir(REPO)
sys.path.insert(0, REPO)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# key columns to offset, per table
OFFSETS: dict[str, list[str]] = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

# FK domains shared across tables must use ONE stride per domain so
# every reference keeps pointing at its replica-local parent.
DOMAIN_OF = {
    "c_custkey": "custkey",
    "o_custkey": "custkey",
    "s_suppkey": "suppkey",
    "l_suppkey": "suppkey",
    "p_partkey": "partkey",
    "l_partkey": "partkey",
    "o_orderkey": "orderkey",
    "l_orderkey": "orderkey",
    "event_id": "event_id",
    "user_id": "user_id",
    "doc_id": "doc_id",
    "vec_id": "vec_id",
}

FIXED = ["region", "nation"]


def _strides(spark: SparkSession, src: str) -> dict[str, int]:
    out: dict[str, int] = {}
    for tbl, cols in OFFSETS.items():
        df = spark.read.parquet(os.path.join(src, f"{tbl}.parquet"))
        aggs = df.agg(*[F.max(c).alias(c) for c in cols]).collect()[0]
        for c in cols:
            dom = DOMAIN_OF[c]
            out[dom] = max(out.get(dom, 0), int(aggs[c] or 0) + 1)
    # Round every stride up to even: an odd stride flips key parity in
    # replicas, and parity-dependent workloads (mm_phash synthesizes
    # images for even doc_ids; odd/even read routing) would see a
    # shifted mix at scaled SF instead of a faithful k× clone
    # (ADVICE r7).
    return {dom: stride + (stride % 2) for dom, stride in out.items()}


def _replica(
    df: DataFrame, tbl: str, i: int, strides: dict[str, int]
) -> DataFrame:
    r = df
    for c in OFFSETS[tbl]:
        orig_type = dict(df.dtypes)[c]
        r = r.withColumn(
            c, (F.col(c) + F.lit(i * strides[DOMAIN_OF[c]])).cast(orig_type)
        )
    if tbl == "documents" and i > 0:
        # Decorrelate replica SHINGLES, not just exact hashes (r13 fix;
        # the old trailing " rI" suffix made replicas exact-distinct but
        # left them NEAR-dups of each other — every word-k-gram shared —
        # so shingle dfs scaled ×k and the near-dup truth/pair joins
        # scaled ×k², the exact pathological collapse this docstring
        # promises to avoid; observed as an unrunnable sf10 truth
        # build). Tagging EVERY token keeps each replica internally
        # identical in structure (within-replica near-dup families are
        # preserved exactly — both members get the same substitution)
        # while making cross-replica Jaccard ≈ 0, i.e. near-dup family
        # SIZE stays constant under scale-up, which is how a real k×
        # corpus behaves. Token/sentence/line counts per doc are
        # unchanged; the word domain grows ×k (the faithful-growth
        # model for a genuinely larger corpus). n_chars is recomputed
        # (source invariant: n_chars == LENGTH(text), asserted on the
        # driver testdata).
        sfx = f" r{i}"
        n_chars_type = dict(df.dtypes)["n_chars"]
        r = r.withColumn(
            "text",
            F.concat(
                F.regexp_replace(F.col("text"), r"(\S+)", f"$1r{i}"),
                F.lit(sfx),
            ),
        )
        r = r.withColumn("n_chars", F.length("text").cast(n_chars_type))
    if tbl == "embeddings" and i > 0:
        # nudge component 0 by i/1000 — deterministic, tiny, distinct
        elem = dict(df.dtypes)["embedding"]  # e.g. array<float>
        inner = elem[len("array<"):-1]
        r = r.withColumn(
            "embedding",
            F.concat(
                F.array(
                    (F.element_at("embedding", 1) + F.lit(i / 1000.0)).cast(
                        inner
                    )
                ),
                F.slice("embedding", 2, 10_000),
            ),
        )
    return r


def _write_single_file(df: DataFrame, out_dir: str, tbl: str) -> None:
    tmp = os.path.join(out_dir, f"_{tbl}_tmp")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
    dst = os.path.join(out_dir, f"{tbl}.parquet")
    if os.path.exists(dst):
        shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
    shutil.move(part, dst)
    shutil.rmtree(tmp)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument("--out", default="/tmp/dgdb_sf1")
    args = ap.parse_args()
    src = os.environ["SPARK_GRAFT_SF_DIR"]

    from distributed_graph_database_spark.session import get_spark

    spark = get_spark("dgdb-gen-sf")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(args.out, exist_ok=True)
    strides = _strides(spark, src)
    print(f"strides: {strides}")

    for tbl in FIXED:
        shutil.copy(
            os.path.join(src, f"{tbl}.parquet"),
            os.path.join(args.out, f"{tbl}.parquet"),
        )
        print(f"{tbl}: copied (fixed dimension)")

    for tbl in OFFSETS:
        src_df = spark.read.parquet(os.path.join(src, f"{tbl}.parquet"))
        out_df = _replica(src_df, tbl, 0, strides)
        for i in range(1, args.mult):
            out_df = out_df.unionByName(_replica(src_df, tbl, i, strides))
        _write_single_file(out_df, args.out, tbl)
        n = spark.read.parquet(os.path.join(args.out, f"{tbl}.parquet")).count()
        print(f"{tbl}: {n} rows ({args.mult}x)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
