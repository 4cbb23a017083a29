"""The one per-session memo and staging-name rule (cache.py).

Staged names must be injective in sf_dir: the readable slug maps '/',
'.' and '_' all to '_', so `sf0.1` and `sf0_1` share a slug, and two
such scale dirs used in one session must still never serve each
other's data."""

from __future__ import annotations

import os
import pathlib
import threading

import pyarrow.parquet as pq

from distributed_graph_database_spark import cache, relational
from distributed_graph_database_spark.streaming import events_stream as es

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / (
    "distributed_graph_database_spark"
)


def _sf_dir(root: pathlib.Path, name: str, src: str, n_rows: int) -> str:
    """A scale dir holding the first n_rows of events/orders/lineitem."""
    d = root / name
    d.mkdir()
    for t in ("events", "orders", "lineitem"):
        rows = pq.read_table(os.path.join(src, f"{t}.parquet")).slice(0, n_rows)
        pq.write_table(rows, d / f"{t}.parquet")
    return str(d)


def test_slug_aliased_sf_dirs_stage_apart(spark, sf_smoke, tmp_path):
    a = _sf_dir(tmp_path, "sf0.1", sf_smoke, 10)
    b = _sf_dir(tmp_path, "sf0_1", sf_smoke, 20)

    src_a, src_b = es._events_src_dir(spark, a), es._events_src_dir(spark, b)
    assert src_a != src_b
    assert spark.read.parquet(src_a).count() == 10
    assert spark.read.parquet(src_b).count() == 20

    pair_a = relational._bucketed_pair(spark, a)
    pair_b = relational._bucketed_pair(spark, b)
    try:
        assert set(pair_a).isdisjoint(pair_b)
        assert [spark.table(t).count() for t in pair_a] == [10, 10]
        assert [spark.table(t).count() for t in pair_b] == [20, 20]
    finally:
        for t in {*pair_a, *pair_b}:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_only_cache_keys_by_application_id():
    """A per-session memo keys on the application id; keeping that key
    in cache.py (catalog.py's warn-once guard aside) keeps one memo."""
    users = sorted(
        str(p.relative_to(PACKAGE))
        for p in PACKAGE.rglob("*.py")
        if "applicationId" in p.read_text()
    )
    assert set(users) <= {"cache.py", "catalog.py"}, users


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_live_plans_is_per_thread(spark):
    """The ops_concurrent_* keys serve from worker threads: a live
    view opened in one thread must leave another thread's shared
    calls checkpointing."""
    sf = "live-plans-thread"
    other = {}

    def serve():
        other["df"] = cache.shared(spark, sf, "k", lambda: spark.range(5))

    with cache.live_plans():
        live = cache.shared(spark, sf, "k", lambda: spark.range(5))
        worker = threading.Thread(target=serve)
        worker.start()
        worker.join(timeout=60)
    assert not worker.is_alive()
    assert "ExistingRDD" not in _plan(live)
    assert "ExistingRDD" in _plan(other["df"])
    assert cache.shared(spark, sf, "k", lambda: spark.range(5)) is other["df"]


def test_memo_miss_under_live_plans_stores_checkpointed_value(spark):
    """What _MEMO stores never depends on the view that first asked:
    a memo builder calling shared checkpoints even inside the block."""
    sf = "live-plans-memo"
    with cache.live_plans():
        got = cache.memo(
            spark,
            sf,
            "outer",
            lambda: cache.shared(spark, sf, "inner", lambda: spark.range(5)),
        )
    assert "ExistingRDD" in _plan(got)
    assert cache.memo(spark, sf, "outer", lambda: None) is got
