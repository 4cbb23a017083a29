"""Semantic invariants of the round-5 surface additions (exact values
are hash-checked against DuckDB in test_oracle_parity.py; these pin
the properties a hash can't explain on its own)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_graph_database_spark import relational
from distributed_graph_database_spark.catalog import table
from distributed_graph_database_spark.pipeline import events
from distributed_graph_database_spark.sources import formats


def test_events_dedup_reduction_is_consistent(spark, sf_oracle):
    ev = table(spark, sf_oracle, "events")
    total = ev.count()
    uniq = (
        ev.select("user_id", "event_type", F.date_trunc(events.DEDUP_UNIT, "ts"))
        .distinct()
        .count()
    )
    rows = events.events_dedup(spark, sf_oracle).collect()
    assert sum(r.n_raw for r in rows) == total
    assert sum(r.n_kept for r in rows) == uniq
    assert all(0 < r.n_kept <= r.n_raw for r in rows)
    # non-vacuous: the testdata actually contains burst duplicates
    assert sum(r.n_raw for r in rows) > sum(r.n_kept for r in rows)


def test_grouping_sets_partials_sum_to_details(spark, sf_oracle):
    rows = relational.ql_grouping_sets(spark, sf_oracle).collect()
    details = [r for r in rows if r.returnflag != "ALL" and r.linestatus != "ALL"]
    partials = {r.returnflag: r for r in rows if r.returnflag != "ALL" and r.linestatus == "ALL"}
    grand = [r for r in rows if r.returnflag == "ALL" and r.linestatus == "ALL"]
    assert len(grand) == 1
    assert grand[0].n_items == sum(r.n_items for r in details)
    assert grand[0].sum_qty == sum(r.sum_qty for r in details)
    for flag, p in partials.items():
        mine = [r for r in details if r.returnflag == flag]
        assert p.n_items == sum(r.n_items for r in mine)
        assert p.sum_qty == sum(r.sum_qty for r in mine)


def test_store_stats_bounds(spark, sf_oracle):
    n_orders = table(spark, sf_oracle, "orders").count()
    rows = formats.store_stats_collect(spark, sf_oracle).collect()
    assert {r.col_name for r in rows} == {
        "o_custkey", "o_orderpriority", "o_orderdate", "o_totalprice_cents"
    }
    for r in rows:
        assert r.n_rows == n_orders
        assert r.n_nulls == 0
        assert 0 < r.n_distinct <= r.n_rows
        assert r.min_s is not None and r.max_s is not None
