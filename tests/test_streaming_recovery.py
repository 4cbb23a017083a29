"""Durable-sink + checkpoint recovery (VERDICT r5 'what's missing'
#3): the declared stream_* keys drain to a memory sink, which is the
smoke surface — production streams write a durable sink under a
checkpointLocation and must survive a restart without dropping or
double-counting. This test demonstrates both on the real engine:

1. run a parquet-file-sink stream (exactly-once via the sink's
   transaction log) over a directory with maxFilesPerTrigger=1,
2. STOP it mid-stream (after the first micro-batch commits),
3. restart the SAME query from the SAME checkpointLocation,
4. assert the drained sink equals the batch answer — every input row
   exactly once despite the kill/restart.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import functions as F


def test_file_sink_checkpoint_recovery(spark, tmp_path_factory):
    src = tmp_path_factory.mktemp("ckpt_src")
    sink = str(tmp_path_factory.mktemp("ckpt_sink"))
    ckpt = str(tmp_path_factory.mktemp("ckpt_state"))

    # three source files, forced into separate micro-batches
    for i in range(3):
        spark.range(i * 100, (i + 1) * 100).selectExpr(
            "id", "id % 7 AS k"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"f{i}"))
        # flatten: the file source watches one directory
        part = [
            p
            for p in os.listdir(src / f"f{i}")
            if p.endswith(".parquet") and not p.startswith(("_", "."))
        ][0]
        shutil.move(str(src / f"f{i}" / part), str(src / f"batch_{i}.parquet"))
        shutil.rmtree(str(src / f"f{i}"))

    schema = spark.read.parquet(str(src)).schema

    def start_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
            .withColumn("doubled", F.col("id") * 2)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    # phase 1: let at least one micro-batch commit, then stop mid-way
    q = start_query()
    deadline = time.time() + 60
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["numInputRows"] > 0:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()

    # phase 2: restart from the same checkpoint; drain everything left
    q2 = start_query()
    deadline = time.time() + 120
    while time.time() < deadline:
        done = spark.read.parquet(sink).count()
        if done >= 300:
            break
        time.sleep(0.3)
    q2.stop()
    q2.awaitTermination()

    got = spark.read.parquet(sink)
    # exactly-once: 300 distinct ids, no duplicates from the restart
    assert got.count() == 300
    assert got.select("id").distinct().count() == 300
    assert got.agg(F.sum("doubled")).first()[0] == 2 * sum(range(300))


def _stage_events(spark, stage, src, name, rows, mtime):
    import glob

    d = str(stage / name)
    spark.createDataFrame(
        rows,
        "event_id long, event_type string, user_id long, value double,"
        " ts timestamp",
    ).coalesce(1).write.mode("overwrite").parquet(d)
    part = glob.glob(f"{d}/part-*.parquet")[0]
    dst = str(src / f"{name}.parquet")
    shutil.copy(part, dst)
    os.utime(dst, (mtime, mtime))


def _drain_tumbling_update(spark, src_dir, name):
    """Drain the DECLARED tumbling builder across micro-batches
    (maxFilesPerTrigger=1) in update mode; final state per key is its
    max-n_events row (counts are monotone — the stream_user_totals
    selection idiom)."""
    from pyspark.sql import Window
    from distributed_graph_database_spark.streaming.events_stream import (
        tumbling_stream,
    )

    df = tumbling_stream(spark, src_dir, max_files_per_trigger=1)
    query = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    w = Window.partitionBy("hour", "event_type").orderBy(
        F.col("n_events").desc()
    )
    return {
        (r.hour, r.event_type): (r.n_events, r.sum_value_cents)
        for r in spark.table(name)
        .withColumn("rk", F.row_number().over(w))
        .filter("rk = 1")
        .collect()
    }


def test_tumbling_multibatch_equals_batch_when_no_late_rows(
    spark, tmp_path_factory
):
    """VERDICT r6 item 6, arm A: the declared stream_tumbling builder
    driven across TWO micro-batches (maxFilesPerTrigger=1) must still
    equal the batch aggregate when no row arrives behind the
    watermark — the one-batch exact-oracle contract extends to any
    split with in-order data."""
    import datetime as dt

    src = tmp_path_factory.mktemp("mb_src")
    stage = tmp_path_factory.mktemp("mb_stage")
    T = dt.datetime(2000, 1, 1, 0, 30)
    rows_a = [
        (1, "click", 1, 1.25, T),
        (2, "view", 1, 2.50, T),
        (3, "click", 2, 0.75, T),
    ]
    rows_b = [  # strictly later event times — nothing is late
        (4, "click", 3, 1.00, T.replace(hour=1)),
        (5, "purchase", 3, 9.99, T.replace(hour=5)),
    ]
    _stage_events(spark, stage, src, "a", rows_a, 1_000_000_000)
    _stage_events(spark, stage, src, "b", rows_b, 1_000_000_100)

    got = _drain_tumbling_update(spark, str(src), "mb_tumbling_a")

    batch = {}
    for _, et, _, v, ts in rows_a + rows_b:
        k = (str(ts.replace(minute=0)), et)
        n, s = batch.get(k, (0, 0))
        batch[k] = (n + 1, s + round(v * 100))
    assert got == batch


def test_tumbling_multibatch_diverges_by_exactly_the_late_rows(
    spark, tmp_path_factory
):
    """VERDICT r6 item 6, arm B: with a row behind the watermark, the
    multi-batch drain must diverge from batch by EXACTLY that row.
    The late file lands two batches after the watermark driver —
    Spark admits rows against the previous batch's watermark
    (pinned in test_watermark_drops_late_rows), so the next-batch
    slot would still be admitted."""
    import datetime as dt

    src = tmp_path_factory.mktemp("mb_late_src")
    stage = tmp_path_factory.mktemp("mb_late_stage")
    T = dt.datetime(2000, 1, 1, 0, 30)
    rows_a = [
        (1, "click", 1, 1.25, T),
        (2, "click", 2, 0.75, T),
        # watermark driver: 05:00 - 2h watermark => wm 03:00
        (3, "view", 3, 1.00, T.replace(hour=5, minute=0)),
    ]
    rows_b = [(4, "view", 4, 2.00, T.replace(hour=6))]  # spacer batch
    late = (5, "click", 5, 4.00, T.replace(minute=45))  # behind 03:00 wm
    _stage_events(spark, stage, src, "a", rows_a, 1_000_000_000)
    _stage_events(spark, stage, src, "b", rows_b, 1_000_000_100)
    _stage_events(spark, stage, src, "c", [late], 1_000_000_200)

    got = _drain_tumbling_update(spark, str(src), "mb_tumbling_b")

    batch_all = {}
    for _, et, _, v, ts in rows_a + rows_b + [late]:
        k = (str(ts.replace(minute=0)), et)
        n, s = batch_all.get(k, (0, 0))
        batch_all[k] = (n + 1, s + round(v * 100))
    # Streaming must NOT equal full batch…
    assert got != batch_all
    # …and adding the late row back reconciles them exactly.
    k = (str(late[4].replace(minute=0)), late[1])
    n, s = got[k]
    got_plus_late = {**got, k: (n + 1, s + round(late[3] * 100))}
    assert got_plus_late == batch_all


def test_stream_late_data_accounts_every_drop(spark, sf_oracle):
    """The declared stream_late_data key's drop claim, counted from
    the engine's own books: drain the same three-batch staged source
    and sum numRowsDroppedByWatermark across batch progress events.
    The metric counts rows reaching the STATE STORE, i.e. after the
    map-side partial aggregate — the single-partition staged late file
    partially aggregates to one row per hour window before the
    watermark filter — so the pinned number is the late file's
    DISTINCT WINDOW count, and it must be fully dropped (no on-time
    window contributes)."""
    from distributed_graph_database_spark.streaming import events_stream as es

    src = es._late_src_dir(spark, sf_oracle)
    late = spark.read.parquet(src + "/2_late.parquet")
    n_late = late.count()
    n_late_windows = (
        late.select(F.date_trunc("hour", "ts").alias("h")).distinct().count()
    )
    assert n_late > 0, "staging produced no late rows — timeline broken"

    ev = es._events_stream(spark, src, max_files_per_trigger=1).withWatermark(
        "ts", es.WATERMARK
    )
    agg = ev.groupBy(F.window("ts", "1 hour")).count()
    with es._state_partitions(spark):
        q = (
            agg.writeStream.format("memory")
            .queryName("late_drop_audit")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    dropped = sum(
        int(op.get("numRowsDroppedByWatermark", 0))
        for p in q.recentProgress
        for op in p["stateOperators"]
    )
    assert dropped == n_late_windows, (dropped, n_late_windows, n_late)


def test_stream_late_data_margin_is_wide(spark, sf_oracle):
    """The exact-oracle contract of stream_late_data needs the
    admit/evict boundary to be decided by a wide margin, never by the
    <= vs < edge: assert the watermark after the on-time batches sits
    at least 1 day past the latest late window end."""
    import duckdb

    from distributed_graph_database_spark.streaming import events_stream as es

    con = duckdb.connect()
    row = con.execute(
        f"""
        SELECT MAX(ts) - INTERVAL 2 HOUR AS wm
        FROM read_parquet('{sf_oracle}/events.parquet')
        WHERE NOT (ts >= TIMESTAMP '{es.LATE_LO}'
                   AND ts < TIMESTAMP '{es.LATE_HI}')
        """
    ).fetchone()
    import datetime as dt

    latest_late_window_end = dt.datetime.fromisoformat(es.LATE_HI)
    assert row[0] - latest_late_window_end >= dt.timedelta(days=1), row


def test_stream_cdc_snapshots_equal_prefix_compaction(spark, sf_oracle):
    """stream_cdc_apply's versioned store is real time travel: every
    intermediate snapshot written by the foreachBatch merge must equal
    the batch compaction of the corresponding log PREFIX — the
    invariant that makes a crashed/retried batch rewrite identical
    bytes and a snapshot read AS-OF version i trustworthy."""
    import os

    from distributed_graph_database_spark.sources.formats import (
        cdc_compact_frame,
    )
    from distributed_graph_database_spark.streaming import events_stream as es

    last = es._cdc_stream_snap_dir(spark, sf_oracle)
    base = os.path.dirname(last)
    snaps = sorted(
        (d for d in os.listdir(base) if d.startswith("snap_")),
        key=lambda d: int(d.split("_")[1]),
    )
    versions = es._cdc_version_frames(spark, sf_oracle)
    assert len(snaps) == len(versions)
    prefix = None
    for i, snap in enumerate(snaps):
        prefix = versions[i] if prefix is None else prefix.unionByName(versions[i])
        want = {
            (r.o_orderkey): (r.o_orderstatus, r.seq, r.cents)
            for r in cdc_compact_frame(prefix).collect()
        }
        got = {
            (r.o_orderkey): (r.o_orderstatus, r.seq, r.cents)
            for r in spark.read.parquet(os.path.join(base, snap)).collect()
        }
        assert got == want, f"snapshot {snap} diverges from prefix compaction"


def test_stream_cdc_resume_merges_against_last_committed_snapshot(
    spark, sf_oracle
):
    """ADVICE r9 #1: a run that dies mid-stream and is RETRIED IN THE
    SAME SESSION resumes from the stream checkpoint (committed batches
    skip), so the driver-side merge state must seed from the last
    committed snapshot — a prev=None restart would compact the
    remaining batches without prior survivors and silently drop every
    key only present in the early batches.

    Simulated here as the cleanest crash point: full drain, then
    rewind the world to 'crashed right after batch 1 committed' —
    drop the session memo, delete snapshots and checkpoint progress
    beyond batch 1 — and re-enter. The resumed drain must reproduce
    the exact final snapshot of the uninterrupted run."""
    from distributed_graph_database_spark import cache
    from distributed_graph_database_spark.streaming import events_stream as es

    last = es._cdc_stream_snap_dir(spark, sf_oracle)
    base = os.path.dirname(last)
    want = {
        r.o_orderkey: (r.o_orderstatus, r.seq, r.cents)
        for r in spark.read.parquet(last).collect()
    }

    keep_upto = 1  # crash point: batches 0..1 committed, 2..3 pending
    cache._MEMO.pop((spark.sparkContext.applicationId, sf_oracle, "stream_cdc"))
    for d in os.listdir(base):
        if d.startswith("snap_") and int(d.split("_")[1]) > keep_upto:
            shutil.rmtree(os.path.join(base, d))
    ckpt = os.path.join(base, "ckpt")
    for sub in ("offsets", "commits", os.path.join("sources", "0")):
        subdir = os.path.join(ckpt, sub)
        for f in os.listdir(subdir):
            # each metadata file "N" has a local-FS checksum twin
            # ".N.crc"; a stale twin makes the re-written batch's
            # rename fail, so the rewind must drop both
            n = f.removeprefix(".").removesuffix(".crc")
            if n.isdigit() and int(n) > keep_upto:
                os.remove(os.path.join(subdir, f))

    resumed = es._cdc_stream_snap_dir(spark, sf_oracle)
    got = {
        r.o_orderkey: (r.o_orderstatus, r.seq, r.cents)
        for r in spark.read.parquet(resumed).collect()
    }
    assert got == want, "resumed drain diverged from the uninterrupted run"
