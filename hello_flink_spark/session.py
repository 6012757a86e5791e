"""SparkSession factory with the engine's physical defaults.

SURVEY §4.2: AQE on, one shuffle partition per core (AQE coalesces
batch shuffles further), Arrow enabled for the Python boundary, UTC
session timezone so timestamp values are bit-identical to the DuckDB
oracle, RocksDB state store for streaming state (bounded keyed state is
a 100 TB requirement).

A stream fixes its state-partition count from
``spark.sql.shuffle.partitions`` when it first starts, and AQE never
coalesces state partitions, so each stateful micro-batch runs one task
per state partition. One partition per core makes that one task wave
per micro-batch, each paying its state-store load and commit and its
Python-runner calls once. A stream restarted from a checkpoint keeps
the count recorded in its offset log: checkpoints written when this
default was 32 stay at 32.

On a real cluster these configs are a starting point; the operators in
this package are written so their *plans* scale (broadcast hints on
dims, partial aggregation, pushed filters) independent of these knobs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "hello-flink-spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or 32;
    the master is ``local[cpus]``. Shuffle and stream state partitions
    equal the session's core count, read as
    ``sparkContext.defaultParallelism`` once the context is up, so
    ``cpus="*"`` resolves to the machine's cores.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # -- Catalyst / AQE ------------------------------------------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # dims in the star schema are tiny; let Catalyst broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # -- determinism vs the DuckDB oracle ------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # events.ts is parquet TIMESTAMP(NANOS), which the vectorized reader
        # rejects; read nanos as int64 once, session-wide (readers.load_table
        # truncates to µs — exactly DuckDB's ns→µs coercion).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- Python boundary ------------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # -- streaming state ------------------------------------------------
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
        # quiet the local run
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    spark = builder.getOrCreate()
    spark.conf.set("spark.sql.shuffle.partitions", str(spark.sparkContext.defaultParallelism))
    spark.sparkContext.setLogLevel("WARN")
    return spark
