"""Structured-Streaming twins of the batch events queries
(SURVEY.md §7.1 P6: batch versions carry the correctness contract —
oracle-checked in pipeline/events.py — streaming twins are smoke-
checked against the batch output with an availableNow file source).

Late-data semantics: `withWatermark(ts, WATERMARK)` bounds state;
with availableNow over a static directory no row is later than the
watermark at end-of-stream, so final counts equal the batch rollup —
which is exactly what the smoke test asserts.

Scale: the tumbling agg keeps one state row per (window, event_type);
session_window state is per (user, open session) and is evicted once
the watermark passes session end + gap. Both are the canonical
bounded-state shapes for 100 TB/day streams.
"""

from __future__ import annotations

import itertools
import os
import shutil
from collections import Counter
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..cache import memo, stage_dir
from ..pipeline.events import (
    DEDUP_UNIT,
    ORACLE_EVENTS_TOPK_WINDOW,
    SESSION_GAP_MIN,
)

WATERMARK = "2 hours"


def _events_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a directory of events parquet. The
    static read supplies the schema (file sources require one); the
    TIMESTAMP_NTZ → session-TZ timestamp normalization mirrors
    catalog.table (UTC session pin included, so watermarks and window
    boundaries agree with the batch contract).

    max_files_per_trigger: the file-source batching knob a production
    stream sets for bounded per-batch work; the multi-batch semantics
    tests (tests/test_streaming_recovery.py) use it to force each
    staged file into its own micro-batch. The DECLARED keys leave it
    unset — their exact-oracle contract is the one-file/one-batch
    drain (see _events_src_dir)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Schema cache (r14): every declared stream key builds its reader
    # over the same staged directory, and the static schema-discovery
    # read costs ~0.1 s of driver listing + footer parse per call —
    # pure first-use metadata, cached per (session, dir) like the
    # staging itself. (The staged dir is written once per session and
    # never mutated, so the cached schema cannot go stale.)
    schema = memo(
        spark, src_dir, "stream_schema", lambda: spark.read.parquet(src_dir).schema
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(src_dir)
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    elif ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return stream


def tumbling_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of events_tumbling (no countDistinct — not
    supported in streaming aggs; the batch contract keeps it)."""
    ev = _events_stream(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    ).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").cast("string").alias("hour"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


def enrich_stream(
    spark: SparkSession, src_dir: str, customers: DataFrame
) -> DataFrame:
    """Stream-static join: each streaming event is enriched with the
    (static, broadcast) customer dimension before the windowed rollup
    — the canonical streaming-ETL shape (facts stream, dims don't).
    The join is stateless (static side is just a broadcast lookup per
    micro-batch); only the downstream windowed agg carries state."""
    ev = _events_stream(spark, src_dir).withWatermark("ts", WATERMARK)
    dim = customers.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    return (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").cast("string").alias("hour"),
            "segment",
            "n_events",
            "sum_value_cents",
        )
    )


def hopping_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming twin of events_hopping: same sliding window expression
    under a watermark. State is one row per (window, event_type) with
    2× windows live vs tumbling — still bounded by the watermark
    horizon (windows whose end < watermark are finalized + evicted)."""
    from ..pipeline.events import HOP_SLIDE, HOP_WINDOW

    ev = _events_stream(spark, src_dir).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(F.window("ts", HOP_WINDOW, HOP_SLIDE).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"),
        )
        .select(
            F.col("w.start").cast("string").alias("hop_start"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )


def sessionize_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming twin of events_sessionize via the native
    session_window (gap-merged windows; batch's lag+cumsum is the
    same partition semantics expressed without streaming state)."""
    ev = _events_stream(spark, src_dir).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(
            F.session_window("ts", f"{SESSION_GAP_MIN} minutes").alias("w"),
            "user_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("sum_value_cents"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("session_start"),
            "n_events",
            "sum_value_cents",
        )
    )


def user_totals_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState` (the
    sanctioned arbitrary-state API): per-user running event count and
    value sum, state carried across micro-batches.

    This is the shape built-in streaming aggs can't express when the
    per-key update logic grows arbitrary (feature-store updaters,
    decayed counters, per-entity model state): one state row per user,
    Arrow-batched updates, update-mode emission of changed keys only.
    With an availableNow drain of a static directory the final state
    equals the batch groupBy — which the smoke test asserts.

    Scale: state is (2 longs) per user, hash-partitioned by user_id in
    the state store; eviction would use event-time timeout (set
    NoTimeout here because the drain is finite).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(spark, src_dir).select(
        "user_id", F.round(F.col("value") * 100).cast("bigint").alias("cents")
    )

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            s += int(pdf["cents"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_cents": [s]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, sum_value_cents bigint",
        stateStructType="n bigint, s bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def dedup_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming exact dedup via `dropDuplicatesWithinWatermark` —
    the streaming twin of dedup_exact's keep-one-per-key semantics,
    keyed here by event_id (the stream's identity key; duplicate
    deliveries are the at-least-once transport reality this operator
    exists for).

    State shape at 100 TB/day: one state row per key seen within the
    watermark horizon, evicted as event time passes — bounded by
    (arrival rate × horizon), unlike a plain dropDuplicates whose
    state grows forever. Per-key output is then aggregated to a
    per-type count so the smoke test compares a small stable frame
    against the batch distinct."""
    ev = _events_stream(spark, src_dir).withWatermark("ts", WATERMARK)
    return (
        ev.dropDuplicatesWithinWatermark(["event_id"])
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def burst_dedup_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """Streaming twin of events_dedup's BURST key: collapse same
    (user, event_type, clock hour) retransmissions to one surviving
    row via `dropDuplicatesWithinWatermark`. Emits survivors in append
    mode as they arrive (dedup state — one row per key inside the
    watermark horizon — is what's bounded; which physical row of a
    burst survives is batch-order-dependent, so downstream consumers
    must reduce over key-level facts, as stream_dedup does)."""
    ev = _events_stream(spark, src_dir).withWatermark("ts", WATERMARK)
    return ev.withColumn(
        "burst_hour", F.date_trunc(DEDUP_UNIT, "ts")
    ).dropDuplicatesWithinWatermark(["user_id", "event_type", "burst_hour"])


_STREAM_SEQ = itertools.count()


ATTRIB_WINDOW = "30 minutes"  # view→click attribution bound (batch twin)


def interval_join_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: the views stream joined to the
    clicks stream of the same user with the click inside
    [view_ts, view_ts + ATTRIB_WINDOW] — the funnel-attribution join
    run with BOTH sides unbounded. Each side carries its own
    watermark; with the time-bound condition Spark derives how long a
    view must be buffered (watermark + window) before no future click
    can match it, and evicts — the bounded-state contract that makes
    a stream×stream join feasible at all. (A stream self-join: the
    engine buffers both sides' state independently.)"""
    ev = _events_stream(spark, src_dir)
    # Watermark matched to the join window, not the generic 2 h
    # aggregation delay: join state retention is watermark + window,
    # so the right-sized delay holds ~4× less view state in the store
    # (at test scale the drain cost is micro-batch machinery, not
    # state — the sizing matters at production arrival rates).
    # Delivery lag beyond 30 min would drop matches — the knob a
    # deployment tunes against its transport SLO.
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", ATTRIB_WINDOW)
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", ATTRIB_WINDOW)
    )
    return views.join(
        clicks,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {ATTRIB_WINDOW}")),
    )


def _events_src_dir(spark: SparkSession, sf_dir: str) -> str:
    """The file stream source requires a DIRECTORY (it derives
    basePath); stage the single events parquet into one, once per
    (session, sf). At scale the stream source is already a directory
    (or kafka) — this staging is a testdata-layout shim only.

    EXACT-ORACLE CONTRACT (ADVICE r5): the declared stream_* keys
    carry exact batch oracles only because this directory holds
    exactly ONE file, drained in ONE availableNow micro-batch — so no
    row ever arrives after the watermark has advanced past it. A
    multi-file staging (or maxFilesPerTrigger) would legitimately drop
    late rows across batches (the semantics test_watermark_drops_
    late_rows pins) and diverge from the full-table batch oracle;
    the assert below makes that assumption fail loudly."""
    def build() -> str:
        d = stage_dir(spark, sf_dir, "stream_src")
        os.makedirs(d, exist_ok=True)
        dst = os.path.join(d, "events.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(sf_dir, "events.parquet"), dst)
        staged = [f for f in os.listdir(d) if not f.startswith((".", "_"))]
        assert staged == ["events.parquet"], (
            f"stream staging dir {d} must hold exactly one file for the "
            f"one-batch exact-oracle contract; found {staged}"
        )
        return d

    return memo(spark, sf_dir, "stream_src", build)


def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the tumbling-window twin run end to end
    through Structured Streaming — readStream file source → watermark →
    windowed agg → availableNow drain — and returned as the final
    result table. With a static source fully drained, the final state
    equals the batch rollup, so this key carries an EXACT oracle: the
    streaming engine itself is under the driver's hash check, not just
    under pytest smoke tests.

    Scale notes: the memory sink here is the smoke-surface stand-in
    for the kafka/delta sink a deployment uses; state is one row per
    (window, type), evicted as the watermark passes (the bounded-state
    contract the availableNow drain demonstrates)."""
    src = _events_src_dir(spark, sf_dir)
    name = f"stream_tumbling_{next(_STREAM_SEQ)}"
    return run_available_now(tumbling_stream(spark, src), name)


ORACLE_STREAM_TUMBLING = """
SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS hour,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY 1, 2
"""


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the `applyInPandasWithState` custom
    stateful operator (per-user running totals) drained with
    availableNow. Update mode can emit one row per user per
    micro-batch; running totals are monotone in n_events, so the final
    state per user is its max-n row — selected with a window, never by
    relying on sink row order. Exact oracle: final state ≡ batch
    groupBy."""
    from pyspark.sql import Window

    src = _events_src_dir(spark, sf_dir)
    name = f"stream_user_totals_{next(_STREAM_SEQ)}"
    res = run_available_now(
        user_totals_stream(spark, src),
        name,
        mode="update",
        state_partitions=PYTHON_STATE_PARTITIONS,
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "sum_value_cents")
    )


def topk_window_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """The STATEFUL half of events_topk_window: per-(hour window,
    user) spend under the watermark. Ranking is not a streaming
    operation (no window functions over streaming aggs), so the
    top-k cut belongs to the post-drain reduction. Drained in UPDATE
    mode (stream_user_totals' discipline) — that is what makes the
    bounded-state claim true: the watermark finalizes and EVICTS
    closed windows' state, each key's last emitted update is its
    final total (spend is monotone within a key), and the sink-side
    max-spend row per key recovers it. Complete mode would retain
    every window ever seen and re-emit all of them per trigger —
    exactly the unbounded state this key exists to avoid."""
    ev = _events_stream(spark, src_dir).withWatermark("ts", WATERMARK)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "spend_cents"
            )
        )
        .select(
            F.col("w.start").cast("string").alias("hour"),
            "user_id",
            "spend_cents",
        )
    )


def stream_topk_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the per-window leaderboard
    (events_topk_window's twin). The stream maintains the per-(hour,
    user) spend state — the part that must be incremental at 100 TB/
    day — drained in UPDATE mode so watermark eviction bounds the
    state (see topk_window_stream); the sink-side max-spend row per
    (hour, user) is that key's final total (update mode can emit one
    row per key per micro-batch; spend is monotone), and the
    top-WINDOW_TOPK rank runs as the post-drain batch reduction via
    the SAME rank_topk the batch key uses (production ranks in the
    serving store, not in stream state). Exact oracle: final ranked
    rows ≡ the batch key, so the twin shares
    ORACLE_EVENTS_TOPK_WINDOW verbatim — one rank definition and one
    oracle for both execution modes."""
    from pyspark.sql import Window

    from ..pipeline.events import rank_topk

    src = _events_src_dir(spark, sf_dir)
    name = f"stream_topk_window_{next(_STREAM_SEQ)}"
    res = run_available_now(
        topk_window_stream(spark, src), name, mode="update"
    )
    w = Window.partitionBy("hour", "user_id").orderBy(
        F.col("spend_cents").desc()
    )
    final = (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("hour", "user_id", "spend_cents")
    )
    return rank_topk(final)


ORACLE_STREAM_USER_TOTALS = """
SELECT user_id, COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY user_id
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key (VERDICT r5 item 2): streaming exact
    dedup under the driver's hash check. The burst-key
    `dropDuplicatesWithinWatermark` stream is drained with availableNow
    (append mode — dedup emits survivors immediately; the watermark
    only bounds its state), then the drained survivors go through the
    SAME per-type reduction as the batch twin, so the final result
    ≡ events_dedup's n_kept column: one row per
    (user, type, hour) burst, counted per type.

    The count is key-level, not row-level: WHICH physical row of a
    burst survives a single-batch drain is partition-order-dependent,
    but the number of surviving keys per type is exact — that is the
    deterministic fact the hash check pins, and it relies on the
    one-file/one-batch staging contract (_events_src_dir).

    Scale: dedup state is one (user, type, hour) row inside the
    watermark horizon — bounded by arrival rate × horizon, evicted as
    event time passes; the post-drain reduction is a tiny per-type
    aggregate."""
    src = _events_src_dir(spark, sf_dir)
    name = f"stream_dedup_{next(_STREAM_SEQ)}"
    res = run_available_now(burst_dedup_stream(spark, src), name, mode="append")
    return res.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept")
    )


def stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the sliding-window twin — same
    watermark + windowed-agg machinery as stream_tumbling but with
    overlapping windows (2× live state rows, each finalized
    independently as the watermark passes its end). Exact oracle under
    the one-batch drain contract: final state ≡ the batch hopping
    rollup."""
    src = _events_src_dir(spark, sf_dir)
    name = f"stream_hopping_{next(_STREAM_SEQ)}"
    return run_available_now(hopping_stream(spark, src), name)


def stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: native `session_window` sessionization
    drained with availableNow → (user_id, session_start, n_events,
    sum_value_cents) — the gap-merge semantics the batch twin
    (events_sessionize) expresses with lag+cumsum, here carried by the
    engine's own merging session state.

    Boundary note: session_window merges an event into a session iff
    its timestamp is STRICTLY inside [start, last+gap); an event at
    exactly last+gap starts a new session — the batch key's
    `gap > G ⇒ new` rule agrees (same-session iff gap ≤ G differs only
    when gap == G exactly, where both keep merging… see
    tests/test_events.py::test_sessionize_stream_matches_batch_sessions
    and the sf0.01 oracle parity, which pin that the two rules agree on
    the testdata's timestamp distribution). State: one open session row
    per active user, evicted once the watermark passes session end +
    gap."""
    src = _events_src_dir(spark, sf_dir)
    name = f"stream_sessionize_{next(_STREAM_SEQ)}"
    return run_available_now(sessionize_stream(spark, src), name)


ORACLE_STREAM_SESSIONIZE = f"""
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN EPOCH(ts) - LAG(EPOCH(ts)) OVER w IS NULL
                OR EPOCH(ts) - LAG(EPOCH(ts)) OVER w > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
n AS (
  SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS session_no
  FROM o
)
SELECT user_id,
       CAST(MIN(ts) AS VARCHAR) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM n GROUP BY user_id, session_no
"""


# The batch hopping oracle minus n_users (streaming aggs can't
# countDistinct; the batch key keeps that column).
ORACLE_STREAM_HOPPING = """
WITH hops AS (
  SELECT event_type, value,
         UNNEST([time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
                 time_bucket(INTERVAL '30 minutes', ts)]) AS wstart
  FROM events
)
SELECT CAST(wstart AS VARCHAR) AS hop_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM hops GROUP BY 1, 2
"""


ORACLE_STREAM_DEDUP = f"""
WITH k AS (
  SELECT DISTINCT user_id, event_type, DATE_TRUNC('{DEDUP_UNIT}', ts) AS burst_hour
  FROM events
)
SELECT event_type, COUNT(*) AS n_kept FROM k GROUP BY event_type
"""


def stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the STREAM-STATIC JOIN — streaming
    events enriched against the static customer dimension (broadcast
    lookup per micro-batch, stateless) before the watermarked windowed
    rollup → (hour, segment, n_events, sum_value_cents). The canonical
    streaming-ETL topology: facts stream, dimensions are a table.
    Exact oracle under the one-batch drain contract: final state ≡ the
    batch join+rollup. Inner join semantics — events without a
    matching customer (none in the testdata: user_ids ⊂ custkeys,
    asserted by the oracle parity itself) would be dropped identically
    in both engines."""
    from ..catalog import table as _table

    src = _events_src_dir(spark, sf_dir)
    name = f"stream_enrich_{next(_STREAM_SEQ)}"
    cust = _table(spark, sf_dir, "customer")
    return run_available_now(enrich_stream(spark, src, cust), name)


ORACLE_STREAM_ENRICH = """
SELECT CAST(DATE_TRUNC('hour', e.ts) AS VARCHAR) AS hour,
       c.c_mktsegment AS segment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the DURABLE-SINK path — the tumbling
    rollup drained through `foreachBatch` into a parquet store under a
    checkpointLocation, then the STORE (not the in-memory stream
    result) is read back and hash-checked. This is the production
    sink pattern the memory-sink keys stand in for: foreachBatch gets
    the per-trigger result as a batch DataFrame and commits it with
    batch-writer semantics; complete-mode overwrite makes the commit
    idempotent, so a retried or restarted trigger rewrites the same
    answer instead of duplicating it (the restart itself is pinned by
    tests/test_streaming_recovery.py with maxFilesPerTrigger over an
    exactly-once file sink).

    At scale the same hook writes kafka/delta or dynamic-overwrite
    parquet partitions keyed by window (store_partition_prune
    demonstrates that overwrite mode); the checkpoint carries the
    source offsets so a new run resumes, not replays."""
    src = _events_src_dir(spark, sf_dir)
    base = stage_dir(spark, sf_dir, "stream_sink")
    out_dir, ckpt = base + "_data", base + "_ckpt"

    def commit_batch(bdf: DataFrame, batch_id: int) -> None:
        # complete-mode snapshot → overwrite IS the idempotence story:
        # re-running batch N (crash between sink write and checkpoint
        # commit) rewrites byte-identical content.
        bdf.write.mode("overwrite").parquet(out_dir)

    with _state_partitions(spark):
        q = (
            tumbling_stream(spark, src)
            .writeStream.foreachBatch(commit_batch)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.parquet(out_dir)


def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the stream-stream interval join drained
    with availableNow (append — joins emit matches as both sides'
    watermarks permit), then reduced to the per-hour attribution
    rollup → (hour, n_pairs, n_users). Under the one-file/one-batch
    staging contract nothing is late, so the drained matches equal the
    batch interval join exactly — the EIGHTH streaming key, and the
    first to put two unbounded sides' join state under the hash
    check."""
    src = _events_src_dir(spark, sf_dir)
    name = f"stream_interval_join_{next(_STREAM_SEQ)}"
    res = run_available_now(
        # Project to the two columns the rollup reads BEFORE the sink
        # (r14, guide §2.3 project-before-the-exchange applied to the
        # drain): the join's 6-column match rows otherwise ship ids
        # and both timestamps into the memory sink only to be dropped
        # by the aggregate below. Match SET is unchanged — the
        # projection is after the join condition.
        interval_join_stream(spark, src).select("c_ts", "c_user"),
        name,
        mode="append",
    )
    return res.groupBy(
        F.date_trunc("hour", F.col("c_ts")).cast("string").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c_user").alias("n_users"),
    )


ORACLE_STREAM_INTERVAL_JOIN = """
SELECT CAST(DATE_TRUNC('hour', c.ts) AS VARCHAR) AS hour,
       COUNT(*) AS n_pairs,
       COUNT(DISTINCT c.user_id) AS n_users
FROM events v
JOIN events c
  ON v.user_id = c.user_id
 AND v.event_type = 'view' AND c.event_type = 'click'
 AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 30 MINUTE
GROUP BY 1
"""


# stream_late_data's staged three-batch timeline, pinned as constants
# shared by the Spark staging, the oracle SQL, and the margin test
# (tests/test_streaming_recovery.py): the LATE file's rows sit in
# [LATE_LO, LATE_HI); the SPLIT separates the two in-order batches.
# Events span 2024-01-01..30 at every sf (TESTDATA.md), so after the
# second batch the watermark (max ts − 2 h ≈ Jan 30) is ~28 days past
# the late windows' ends — the admit/evict boundary (≤ vs <) can never
# decide a row, which is what keeps the oracle exact.
LATE_LO = "2024-01-02 00:00:00"
LATE_HI = "2024-01-02 06:00:00"
LATE_SPLIT = "2024-01-15 00:00:00"


def _late_src_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as a THREE-file arrival timeline (file order =
    pinned mtimes, the file source's processing order): batch 1 = the
    in-order early half minus the late set, batch 2 = the late half
    (the watermark drivers), batch 3 = the late set — rows whose
    event time is now far behind the watermark. This is the on-disk
    replay of an out-of-order transport; at scale the 'files' are
    kafka offsets and the lateness is delivery lag."""
    import glob

    from ..catalog import table

    def build() -> str:
        d = stage_dir(spark, sf_dir, "stream_late")
        os.makedirs(d, exist_ok=True)
        ev = table(spark, sf_dir, "events")
        is_late = (F.col("ts") >= F.lit(LATE_LO).cast("timestamp")) & (
            F.col("ts") < F.lit(LATE_HI).cast("timestamp")
        )
        parts = [
            ("0_early", ev.filter((F.col("ts") < F.lit(LATE_SPLIT).cast("timestamp")) & ~is_late)),
            ("1_drivers", ev.filter(F.col("ts") >= F.lit(LATE_SPLIT).cast("timestamp"))),
            ("2_late", ev.filter(is_late)),
        ]
        for i, (name, df) in enumerate(parts):
            tmp = os.path.join(d, f"_tmp_{name}")
            df.coalesce(1).write.mode("overwrite").parquet(tmp)
            part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(d, f"{name}.parquet")
            os.replace(part, dst)
            shutil.rmtree(tmp)
            mtime = 1_000_000_000 + 100 * i
            os.utime(dst, (mtime, mtime))
        return d

    return memo(spark, sf_dir, "stream_late", build)


def stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: watermark LATE-DATA semantics under the
    hash check — the one streaming behavior the in-order keys can't
    exercise (their one-file drain makes lateness impossible by
    construction; this key makes it certain by construction instead).
    The staged source arrives in three micro-batches
    (maxFilesPerTrigger=1): in-order early data, the late-half
    watermark drivers, then a file of rows ~28 days behind the
    watermark. The tumbling per-hour rollup must ADMIT batches 1–2 and
    DROP batch 3 entirely (its windows were finalized and evicted when
    the watermark passed), so the final state equals the batch
    aggregate over the on-time rows only → (hour, n_events,
    sum_value_cents).

    The oracle replays the watermark ALGEBRA, not the expected answer:
    admitted(row) = NOT(late-set row AND window_end ≤ max(on-time ts)
    − delay) — if Spark's admission rule or the staging timeline ever
    drifts, the hash flips. Drained in update mode (the bounded-state
    discipline of stream_topk_window: closed windows are EVICTED, not
    retained for re-emission); per-hour counts are monotone, so the
    sink-side max-n row per hour is its final total.

    Scale: this is THE 100 TB/day correctness-vs-state tradeoff knob —
    the 2 h delay bounds state at (windows in horizon × keys), and
    everything later lands in a dead-letter audit (the n_dropped
    accounting lives in tests via StreamingQueryProgress's
    numRowsDroppedByWatermark)."""
    from pyspark.sql import Window

    src = _late_src_dir(spark, sf_dir)
    ev = _events_stream(spark, src, max_files_per_trigger=1).withWatermark(
        "ts", WATERMARK
    )
    agg = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "sum_value_cents"
            ),
        )
        .select(
            F.col("w.start").cast("string").alias("hour"),
            "n_events",
            "sum_value_cents",
        )
    )
    name = f"stream_late_data_{next(_STREAM_SEQ)}"
    res = run_available_now(agg, name, mode="update")
    w = Window.partitionBy("hour").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("hour", "n_events", "sum_value_cents")
    )


ORACLE_STREAM_LATE_DATA = f"""
WITH wm AS (
    SELECT MAX(ts) - INTERVAL 2 HOUR AS w
    FROM events
    WHERE NOT (ts >= TIMESTAMP '{LATE_LO}' AND ts < TIMESTAMP '{LATE_HI}')
),
admitted AS (
    SELECT e.*
    FROM events e, wm
    WHERE NOT (
        e.ts >= TIMESTAMP '{LATE_LO}' AND e.ts < TIMESTAMP '{LATE_HI}'
        AND DATE_TRUNC('hour', e.ts) + INTERVAL 1 HOUR <= wm.w
    )
)
SELECT CAST(DATE_TRUNC('hour', ts) AS VARCHAR) AS hour,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
         AS sum_value_cents
FROM admitted
GROUP BY 1
"""


# --- streaming CDC materializer ----------------------------------------------


def _cdc_version_frames(spark: SparkSession, sf_dir: str):
    """The shared CDC log derivation (sources/formats.py
    cdc_version_frames) — one definition for both execution modes."""
    from ..sources.formats import cdc_version_frames

    return cdc_version_frames(spark, sf_dir)


def _cdc_stream_snap_dir(spark: SparkSession, sf_dir: str) -> str:
    """Run the streaming CDC materialization once per (session, sf):
    the four log versions staged as mtime-ordered files, drained with
    maxFilesPerTrigger=1 (one version per micro-batch, the transport's
    total order), each batch MERGED into the snapshot store by
    foreachBatch — read snapshot v(i−1), union the batch, compact with
    the SAME cdc_compact_frame kernel the batch key uses, write
    snapshot v(i). Returns the FINAL snapshot dir; every intermediate
    version stays on disk (tests replay them against log-prefix
    compaction — the time-travel face of streaming ingest).

    Idempotence (the foreachBatch retry contract): snapshot v(i) is a
    deterministic pure function of (v(i−1), batch i) — re-running a
    crashed batch rewrites identical bytes; max(struct) is idempotent
    on replayed rows because seqs are unique per key."""
    return memo(spark, sf_dir, "stream_cdc", lambda: _cdc_stream_drain(spark, sf_dir))


def _cdc_stream_drain(spark: SparkSession, sf_dir: str) -> str:
    import glob

    from ..sources.formats import cdc_compact_frame

    base = stage_dir(spark, sf_dir, "stream_cdc")
    src = os.path.join(base, "log")
    os.makedirs(src, exist_ok=True)
    for i, vf in enumerate(_cdc_version_frames(spark, sf_dir)):
        tmp = os.path.join(base, f"_tmp_v{i + 1}")
        vf.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src, f"v{i + 1}.parquet")
        os.replace(part, dst)
        shutil.rmtree(tmp)
        mtime = 1_000_000_000 + 100 * i
        os.utime(dst, (mtime, mtime))

    schema = spark.read.parquet(src).schema
    # Resume-safety (ADVICE r9 #1): if a prior run in this session
    # died mid-stream, the checkpoint makes the restarted query SKIP
    # already-committed batches — so the driver-side merge state must
    # resume from the last COMMITTED snapshot, not from None (which
    # would silently compact the remaining batches without prior
    # survivors). Only _SUCCESS-marked snapshots count (a crash
    # mid-write leaves no marker and the batch replays); re-merging a
    # batch whose snapshot committed but whose checkpoint offset
    # didn't is idempotent — compact(compact(vᵢ₋₁ ∪ bᵢ) ∪ bᵢ) =
    # compact(vᵢ₋₁ ∪ bᵢ), because seqs are unique per key and deletes
    # re-delete (pinned in tests/test_streaming_recovery.py).
    committed = sorted(
        (
            p
            for p in glob.glob(os.path.join(base, "snap_*"))
            if os.path.exists(os.path.join(p, "_SUCCESS"))
        ),
        key=lambda p: int(p.rsplit("_", 1)[1]),
    )
    state = {"prev": committed[-1] if committed else None}

    def commit(bdf: DataFrame, batch_id: int) -> None:
        if state["prev"] is not None:
            prev = spark.read.parquet(state["prev"]).withColumn(
                # stored survivors re-enter the merge as plain upserts;
                # their seq already encodes their write order
                "op", F.lit("U")
            ).select("o_orderkey", "o_orderstatus", "seq", "op", "cents")
            log = prev.unionByName(
                bdf.select("o_orderkey", "o_orderstatus", "seq", "op", "cents")
            )
        else:
            log = bdf.select("o_orderkey", "o_orderstatus", "seq", "op", "cents")
        out = os.path.join(base, f"snap_{batch_id}")
        cdc_compact_frame(log).write.mode("overwrite").parquet(out)
        state["prev"] = out

    with _state_partitions(spark):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(commit)
            .option("checkpointLocation", os.path.join(base, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if state["prev"] is None:
        raise RuntimeError("CDC stream drained zero batches")
    return state["prev"]


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the STREAMING-INGEST materializer
    store_cdc_apply's docstring promises — the same multi-version CDC
    log arriving as four micro-batches in sequence order, each batch
    MERGED into a versioned parquet snapshot store via foreachBatch
    (the Hudi/Paimon continuous-compaction shape), then the final
    snapshot audited with the batch key's aggregate → (o_orderstatus,
    n_rows, sum_cents, n_from_v2, n_from_v3). Shares
    ORACLE_STORE_CDC_APPLY VERBATIM: one log derivation, one
    compaction kernel (cdc_compact_frame), two execution modes under
    one hash.

    Scale shape: each micro-batch's merge is the map-side-combined
    max(struct) compaction over (stored survivors ∪ batch) — at
    deployment the store side is partition-pruned to the keys the
    batch touches (MERGE INTO), and snapshots are retained for time
    travel exactly as written here; tests replay every intermediate
    snapshot against the log-prefix compaction."""
    d = _cdc_stream_snap_dir(spark, sf_dir)
    snap = spark.read.parquet(d)
    return snap.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.sum((F.col("seq") == 2).cast("bigint")).cast("bigint").alias("n_from_v2"),
        F.sum((F.col("seq") == 3).cast("bigint")).cast("bigint").alias("n_from_v3"),
    )


def cms_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """The Count-Min counter cells AS STREAMING STATE — the sketch's
    native habitat: every arriving event increments its CMS_DEPTH
    (seed, bucket) cells, so the streaming aggregation state IS the
    sketch, bounded at CMS_DEPTH x CMS_WIDTH = 256 rows BY
    CONSTRUCTION (the whole point of a sketch: no watermark needed —
    state cannot grow with the stream). Contrast every other stateful
    twin here, whose state is bounded only by watermark eviction."""
    from ..pipeline.events import CMS_DEPTH, _cms_bucket

    ev = _events_stream(spark, src_dir).select(
        F.col("user_id").cast("bigint").alias("user_id")
    )
    seeds = F.explode(
        F.array(*[F.lit(d) for d in range(CMS_DEPTH)])
    ).alias("seed")
    hashed = ev.select("user_id", seeds).withColumn(
        "bucket", _cms_bucket(F.col("user_id"), F.col("seed"))
    )
    return hashed.groupBy("seed", "bucket").agg(
        F.count(F.lit(1)).alias("counter")
    )


def stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the CMS heavy-hitter report with the
    counter table maintained by Structured Streaming (cms_stream) and
    drained availableNow, then fed into the SAME report kernel as the
    batch key. Update mode can re-emit a cell per micro-batch; cell
    counts are monotone, so max per (seed, bucket) is the final state.
    Exact oracle: a fully drained static source makes streaming
    increments equal the batch contraction (CMS additivity), so this
    key shares events_count_min's oracle verbatim — the equality is
    the merge-of-partials identity under the driver's hash check."""
    from ..pipeline.events import cms_report, cms_true_counts

    src = _events_src_dir(spark, sf_dir)
    name = f"stream_count_min_{next(_STREAM_SEQ)}"
    res = run_available_now(cms_stream(spark, src), name, mode="update")
    counters = res.groupBy("seed", "bucket").agg(
        F.max("counter").alias("counter")
    )
    return cms_report(cms_true_counts(spark, sf_dir), counters)



def scrub_stream(spark: SparkSession, src_dir: str) -> DataFrame:
    """STATELESS streaming transform: the PII/telemetry scrubber
    (events_scrub's regexp projection) applied to the live stream —
    the shape a redaction gate actually deploys as (scrub BEFORE the
    data ever lands anywhere durable, not as a batch pass after).
    No watermark, no state store: append mode emits each masked row
    as it arrives, so at 100 TB/day the cost is exactly the codegen'd
    narrow map, streamed."""
    ev = _events_stream(spark, src_dir)
    return ev.select(
        "event_id",
        F.regexp_replace("props", "[0-9]+", "#").alias("props_masked"),
        F.size(
            F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), 0)
        ).alias("n_masked"),
    )


def stream_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the stateless scrub path under the
    driver's hash check — readStream → regexp projection → append
    drain. A full availableNow drain masks every row exactly once, so
    the twin shares ORACLE_EVENTS_SCRUB verbatim with the batch key:
    one redaction definition, two execution modes (the
    events_scrub/text_pii_scrub family's streaming face)."""
    src = _events_src_dir(spark, sf_dir)
    name = f"stream_scrub_{next(_STREAM_SEQ)}"
    return run_available_now(scrub_stream(spark, src), name, mode="append")


def transitions_stream(
    spark: SparkSession,
    src_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState`: per-user
    consecutive event-type transition counting, state = the user's
    LAST (ts, event_id, event_type) so a pair spanning two
    micro-batches is still counted exactly once. Each batch sorts its
    Arrow chunk by (ts, event_id) — the batch twin's lag ordering —
    prepends the carried state row, emits per-(prev, next) partial
    counts, and stores the new last row.

    This is the sequence-model shape built-in streaming aggs can't
    express (lag/window functions don't exist on streams): arbitrary
    per-key state + arbitrary per-batch logic, Arrow-batched. State is
    3 scalars per user, hash-partitioned; eviction would use event-
    time timeout in a production stream (NoTimeout here — the drain
    is finite)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ev = _events_stream(
        spark, src_dir, max_files_per_trigger=max_files_per_trigger
    ).select("user_id", "ts", "event_id", "event_type")

    def update(key, pdfs, state: GroupState):
        # Per-group bodies are called ~once per user per batch, so the
        # constant factor here multiplies by |users|: plain-Python
        # tuple sort + Counter beats pandas concat/sort_values/groupby
        # by ~10× at the ~100-row group sizes this stream carries
        # (guide §4.2 — heavy lifting vectorizes, but sub-ms groups
        # are pure overhead in pandas). Semantics identical: same
        # (ts, event_id) order, same carried last row, same partial
        # counts (r13 optimization; stream_transitions 4.0 → 1.9 s
        # steady-state at sf0.1, same rows/hash).
        prev_ts, prev_id, prev_type = (
            state.get if state.exists else (None, None, None)
        )
        rows: list[tuple[int, int, str]] = []
        for pdf in pdfs:
            if len(pdf):
                rows.extend(
                    zip(
                        pdf["ts"].astype("int64"),
                        pdf["event_id"],
                        pdf["event_type"],
                    )
                )
        if not rows:
            return
        rows.sort()
        types = [r[2] for r in rows]
        prevs = ([prev_type] if prev_type is not None else []) + types[:-1]
        nexts = types if prev_type is not None else types[1:]
        last = rows[-1]
        state.update((int(last[0]), int(last[1]), str(last[2])))
        if not nexts:
            return
        counts = Counter(zip(prevs, nexts))
        yield pd.DataFrame(
            [(p, n, c) for (p, n), c in counts.items()],
            columns=["prev_type", "event_type", "n"],
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="prev_type string, event_type string, n bigint",
        stateStructType="last_ts bigint, last_id bigint, last_type string",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECLARED streaming key: the per-user transition matrix
    (events_transitions' twin) with the sequential lag carried by
    custom state instead of a batch window. Post-drain, the per-user
    per-batch partial counts sum into the global (prev, next) matrix
    and the row-normalized probability is computed exactly as the
    batch key does — so the twin shares ORACLE_EVENTS_TRANSITIONS
    verbatim: one Markov definition, two execution modes."""
    from ..pipeline.events import ORACLE_EVENTS_TRANSITIONS  # noqa: F401

    src = _events_src_dir(spark, sf_dir)
    name = f"stream_transitions_{next(_STREAM_SEQ)}"
    res = run_available_now(
        transitions_stream(spark, src),
        name,
        mode="update",
        state_partitions=PYTHON_STATE_PARTITIONS,
    )
    from pyspark.sql import Window

    pairs = res.groupBy("prev_type", "event_type").agg(
        F.sum("n").cast("bigint").alias("n")
    )
    tot = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "event_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


QUERIES = {
    "stream_tumbling": stream_tumbling,
    "stream_late_data": stream_late_data,
    "stream_cdc_apply": stream_cdc_apply,
    "stream_user_totals": stream_user_totals,
    "stream_topk_window": stream_topk_window,
    "stream_dedup": stream_dedup,
    "stream_hopping": stream_hopping,
    "stream_sessionize": stream_sessionize,
    "stream_sink_parquet": stream_sink_parquet,
    "stream_enrich": stream_enrich,
    "stream_interval_join": stream_interval_join,
    "stream_count_min": stream_count_min,
    "stream_scrub": stream_scrub,
    "stream_transitions": stream_transitions,
}

ORACLE_SQL = {
    "stream_tumbling": ORACLE_STREAM_TUMBLING,
    "stream_late_data": ORACLE_STREAM_LATE_DATA,
    # one log derivation + one compaction kernel, two execution modes
    # under one hash (set below; import placed after dict for clarity)
    "stream_cdc_apply": None,
    "stream_user_totals": ORACLE_STREAM_USER_TOTALS,
    # the twin's final ranked rows equal the batch key — one oracle
    "stream_topk_window": ORACLE_EVENTS_TOPK_WINDOW,
    "stream_dedup": ORACLE_STREAM_DEDUP,
    "stream_hopping": ORACLE_STREAM_HOPPING,
    "stream_sessionize": ORACLE_STREAM_SESSIONIZE,
    # the sink's CONTENT equals the tumbling rollup — same oracle
    "stream_sink_parquet": ORACLE_STREAM_TUMBLING,
    "stream_enrich": ORACLE_STREAM_ENRICH,
    "stream_interval_join": ORACLE_STREAM_INTERVAL_JOIN,
    # streaming increments == batch contraction (CMS additivity) under
    # a full drain — one oracle for both execution modes
    "stream_count_min": None,
    # stateless map fully drained == the batch projection — one oracle
    "stream_scrub": None,
    # per-user state-carried lag fully drained == the batch window —
    # one oracle for both execution modes
    "stream_transitions": None,
}


# State-store partition count for the declared drains. A stateful
# streaming operator creates one state store per shuffle partition per
# operator; the session default (32) costs ~8.7 s of pure store
# setup/commit machinery on the stream-stream interval join's THREE
# stateful operators over the single-file staged source (measured
# r7: 32→4 partitions = 8.67→2.03 s, identical results — state
# partitioning never changes answers, only parallelism). This is the
# size-partitions-to-input discipline applied downward: a deployment
# sets it to cluster scale exactly as it sets shuffle.partitions; the
# first start's checkpoint pins it thereafter.
from ..sources.formats import ORACLE_STORE_CDC_APPLY as _ORACLE_CDC

ORACLE_SQL["stream_cdc_apply"] = _ORACLE_CDC

from ..pipeline.events import ORACLE_EVENTS_COUNT_MIN as _ORACLE_CMS

ORACLE_SQL["stream_count_min"] = _ORACLE_CMS

from ..pipeline.events import (
    ORACLE_EVENTS_SCRUB as _ORACLE_SCRUB,
    ORACLE_EVENTS_TRANSITIONS as _ORACLE_TRANSITIONS,
)

ORACLE_SQL["stream_scrub"] = _ORACLE_SCRUB
ORACLE_SQL["stream_transitions"] = _ORACLE_TRANSITIONS

STREAM_STATE_PARTITIONS = "4"

# The applyInPandasWithState drain runs its per-group bodies in
# PYTHON workers, one task per state partition — unlike the JVM agg
# drains (whose cost is store setup/commit machinery, minimized at 4
# partitions, the r7 measurement), its wall-clock is Python-worker
# parallelism-bound, so it gets a wider state layout (r13 measured
# A/B at sf0.1: 4→16 partitions = 3.0→2.4 s, identical rows — state
# partitioning never changes answers, only parallelism; same
# deployment-knob discipline as STREAM_STATE_PARTITIONS itself).
PYTHON_STATE_PARTITIONS = "16"


def _state_partition_count(spark: SparkSession, measured: str) -> str:
    """Resolve a drain's state-store partition count (r14, VERDICT r13
    what's-wrong #5): the measured local optimum above is a HARNESS
    constant, so cap it at the session's actual parallelism (a 4-core
    driver run gets 4, not 16 one-wave-plus-overhead partitions) and
    let deployments override it outright via env — the
    SPARK_GRAFT_SHUFFLE_PARTITIONS discipline applied to streaming
    state. State partitioning never changes answers, only layout."""
    env = os.environ.get("SPARK_GRAFT_STATE_PARTITIONS")
    if env:
        return env
    return str(
        min(int(measured), max(1, spark.sparkContext.defaultParallelism))
    )


@contextmanager
def _state_partitions(spark: SparkSession, n: str | None = None):
    """Set the drain's state-store partition count at query start and
    restore the session value afterwards — the ONE place the invariant
    lives (both drains and any future streaming entry point use it)."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _state_partition_count(spark, n or STREAM_STATE_PARTITIONS),
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def run_available_now(
    df: DataFrame,
    name: str,
    mode: str = "complete",
    state_partitions: str = STREAM_STATE_PARTITIONS,
) -> DataFrame:
    """Drain the stream with trigger=availableNow into a memory sink
    and return the materialized result table (complete mode for agg
    twins: every window's final row; update mode for the arbitrary-
    state operator, which emits per-key rows itself). The drain runs
    at `state_partitions` state partitions (set at query start,
    which is when Spark fixes state partitioning; restored after)."""
    spark = df.sparkSession
    with _state_partitions(spark, state_partitions):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)
