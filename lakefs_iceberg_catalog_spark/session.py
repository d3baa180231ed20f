"""SparkSession construction + per-query session prep.

Local-mode testing config; the knobs that matter at cluster scale (AQE,
shuffle partitions, broadcast threshold) are the same names a 1000-executor
deployment would tune — nothing here is local-only logic.

``spark.sql.codegen.cache.maxEntries`` is raised from Spark's 100 to
CODEGEN_CACHE_ENTRIES. The cache maps generated Java source to its
compiled class. One pass over the full registry generates 3,348 distinct
classes, and one round of a perfbench workload 128-182, so at 100
entries the LRU cache thrashes on any repeated sequence of operators:
every warm op recompiled all of its classes in Janino and ran them cold
in the JIT again. The limit holds the measured working set with headroom.
It is a static conf: a session the engine does not own (an external
harness passes its own to ``queries()``) keeps Spark's default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# distinct generated classes of one full-registry pass (3,348), with headroom
CODEGEN_CACHE_ENTRIES = 4096


def get_spark(app: str = "lakefs_iceberg_catalog_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )


def prep(spark: SparkSession) -> SparkSession:
    """Runtime-settable conf applied defensively inside every query fn.

    The driver owns the SparkSession passed to ``queries()`` callables; pin the
    runtime-mutable settings correctness depends on (UTC session timezone so
    parquet timestamps compare equal to DuckDB's naive UTC timestamps).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    return spark
