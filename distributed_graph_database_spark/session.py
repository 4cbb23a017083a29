"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[32], 128 GiB
host); the same settings are what we'd ship as cluster defaults:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow on (fast Pandas UDF / toPandas paths), and a shuffle-partition
count that matches local parallelism (on a real cluster this is
overridden per-job or left to AQE's coalescing).
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = "32"


def get_spark(app_name: str = "distributed-graph-database-spark") -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Honors SPARK_GRAFT_CPUS for local core count (driver contract).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    shuffle_parts = os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
    )
    # Local-mode driver = the whole "cluster"; PySpark's 1g default
    # heap evicts localCheckpoint blocks under sf1-scale probes, which
    # forces lineage recompute over already-cleaned shuffles
    # (FileNotFoundException). 8g on a 128 GiB host is conservative;
    # only effective when this process launches the JVM (a session
    # built earlier in-process keeps its own setting, harmless).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.driver.memory", driver_mem)
        # FAIR scheduling between concurrently submitted jobs: the
        # reference serves N clients with thread-per-request on every
        # server (primary_server.c:270-281, secondary_server.c:335-346);
        # ops_concurrent_full makes that inter-query parallelism
        # physical by running the primary's writes and each
        # secondary's reads in their own scheduler pools (pools are
        # created on demand by the spark.scheduler.pool local
        # property; default weight 1 each, so none starves). On a
        # vanilla FIFO session (the round driver's) the pool property
        # is ignored and the key still returns identical results —
        # scheduling policy never affects answers.
        .config("spark.scheduler.mode", "FAIR")
        # AQE: runtime shuffle-partition coalescing, skew-join handling,
        # broadcast-join conversion from runtime stats. Essential at scale.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        # Arrow batches for any Pandas-UDF path and driver collection.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # The testdata events table stores TIMESTAMP_NTZ parquet; the
        # catalog casts it to session-TZ TIMESTAMP on read. Pinning the
        # session TZ to UTC makes that interpretation (and every epoch
        # extraction downstream) deterministic and DST-free, matching
        # the DuckDB oracle's EPOCH() over the same naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Quiet progress bars in test output.
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """Driver-held rows as a frame that collects with no Spark job.

    The rows go in as an Arrow table, which Spark turns into a
    LocalRelation whether or not the session enables Arrow, zero rows
    included: `isLocal()` is True. A list-backed `createDataFrame` is
    an RDD of defaultParallelism pickled slices instead, and every
    action on it walks them all through Python workers.
    """
    struct = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(struct.names, row)) for row in rows], schema=to_arrow_schema(struct)
    )
    return spark.createDataFrame(table, struct)
