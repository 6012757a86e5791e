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

Python workers fork from the engine's daemon,
:mod:`hello_flink_spark.worker_daemon` (``spark.python.daemon.module``).
Every Python task calls ``importlib.invalidate_caches()``, and CPython
before 3.13 answers it by re-reading the whole directory of every zip
importer's archive: a worker has 16, over ``pyspark.zip`` (1,328
entries) and the Spark core jar (5,359). That is ~120 ms per task on
an idle core and 210-310 ms under a stream's load, twice per stateful
task (data, then timeouts). The daemon's importers re-read an archive
only when its inode, size or mtime changed, so an unchanged one costs
a ``stat``. The package must be importable where the daemon starts:
the local master gets that from ``spark.executorEnv.PYTHONPATH`` (the
package's parent directory); a cluster must install the package on
its executors, as it already must for any query UDF.

On a real cluster these configs are a starting point; the operators in
this package are written so their *plans* scale (broadcast hints on
dims, partial aggregation, pushed filters) independent of these knobs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        # Python workers fork from the engine's daemon (module docstring);
        # the package's parent dir lets it start from any driver cwd.
        .config("spark.python.daemon.module", "hello_flink_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
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
