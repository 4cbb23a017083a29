"""Table access over the driver-generated parquet testdata.

The filesystem directory is the catalog (mirrors the reference, where
file existence was the only metadata — client.c:43-49); here each
scale-factor directory holds one parquet file per table. At 100 TB the
same layout becomes a partitioned-parquet/warehouse path per table;
nothing in the engine assumes single-file tables.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Sessions whose TZ this module has already had to override (warn once
# per session, keyed by application id).
_TZ_WARNED: set[str] = set()


def _ensure_utc_session(spark: SparkSession) -> None:
    """Guarded fallback for sessions not built by session.get_spark
    (which pins UTC at construction): the events NTZ→TIMESTAMP cast is
    only correct under a UTC session TZ, so enforce it — but loudly,
    once, so a host application learns its TZ was overridden rather
    than discovering shifted timestamps."""
    # No-default get: the effective value falls back to the JVM default
    # TZ. (Passing a default string here would make Spark VALIDATE it
    # as a timezone when the conf is unset — i.e. only in foreign
    # sessions, the exact case this guard serves.)
    if spark.conf.get("spark.sql.session.timeZone") == "UTC":
        return
    app_id = spark.sparkContext.applicationId
    if app_id not in _TZ_WARNED:
        _TZ_WARNED.add(app_id)
        import warnings

        warnings.warn(
            "distributed_graph_database_spark: overriding session "
            "spark.sql.session.timeZone to UTC — the events table stores "
            "TIMESTAMP_NTZ and its normalization contract is UTC "
            "(see catalog.table docstring)",
            stacklevel=3,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Plain parquet scan → Catalyst gets pushdown/pruning.

    `events.ts` is stored as parquet TIMESTAMP(isAdjustedToUTC=false,
    MICROS), which Spark reads as TIMESTAMP_NTZ; normalize it to a plain
    session-TZ TIMESTAMP here so every consumer sees one schema. The
    engine's own session factory (session.get_spark) pins the session
    TZ to UTC, which makes the NTZ wall-clock → instant interpretation
    exact and epoch arithmetic identical to the DuckDB oracle's
    EPOCH(ts) on the same naive timestamps. Because the cast is LAZY
    (it resolves against the session TZ at execution time), a foreign
    session — e.g. the round driver's own — that isn't UTC would
    silently shift every events timestamp; for those sessions this
    seam force-sets UTC once and warns, so the override is visible
    instead of a side effect (ADVICE r5). A legacy int64-nanos branch
    is kept for sessions that read old TIMESTAMP(NANOS) data behind
    `spark.sql.legacy.parquet.nanosAsLong`.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    if name == "events":
        _ensure_utc_session(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        elif ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df
