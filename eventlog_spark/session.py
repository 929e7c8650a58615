"""SparkSession factory with scale-oriented defaults.

Local tests run on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads), but
every config here is chosen to also be the right default on a
1000-executor cluster reading 100 TB:

* AQE on (runtime join-strategy selection, skew-join splitting,
  partition coalescing) — replaces hand-scheduling.
* ``spark.sql.shuffle.partitions`` sized for the local box; on a real
  cluster AQE's coalescing makes the initial number far less critical.
* Arrow on, so Pandas-UDF paths (the only non-JVM operators we have)
  move data in columnar batches instead of pickled rows.
* Session timezone pinned to UTC so timestamp semantics match the
  DuckDB correctness oracle and are cluster-location-independent.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# the directory holding the ``eventlog_spark`` package
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ship_package(spark: SparkSession) -> None:
    """Put the package root on the Python workers' ``PYTHONPATH``.

    Arrow/pandas operators pickle module-level helpers by reference, so
    a worker must import ``eventlog_spark``; a worker started outside
    the repo's cwd cannot otherwise. ``SparkContext.environment`` is
    copied into every Python function built after this call and Spark
    prepends its ``PYTHONPATH`` to the worker's. The value is the same
    for every query, so the session keeps one worker daemon. Works on a
    session this package did not build; idempotent. The path is the
    driver's, so it serves local mode and executors sharing the
    driver's filesystem; a cluster ships the package with --py-files."""
    env = spark.sparkContext.environment
    path = env.get("PYTHONPATH", "")
    if PACKAGE_ROOT not in path.split(os.pathsep):
        env["PYTHONPATH"] = os.pathsep.join(p for p in (PACKAGE_ROOT, path) if p)


def get_spark(
    app_name: str = "eventlog_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = int(DEFAULT_CPUS)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata stores events.ts as TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long, tables.py converts
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.spill.compress", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ship_package(spark)
    return spark
