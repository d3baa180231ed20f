"""Structured Streaming plumbing for the `events` table.

The reference has no streaming code (SURVEY.md §2.2 — Ring C scope); these
are the north-star streaming operators built on readStream → transform →
writeStream.

Local test harness: the events parquet is staged (symlinked) into a
throwaway directory because the file stream source requires a directory;
a memory sink + processAllAvailable() drives the query to completion
synchronously. In production the source line changes to kafka/object-store
paths and the sink to a table/foreachBatch — the transformations are
identical.

Scale notes (100 TB / unbounded):
- Every stateful op below carries a watermark so state is bounded: window
  state is dropped once the watermark passes the window end; dedup state is
  dropped per the same horizon.
- Shuffle partitioning of streaming aggregations follows
  spark.sql.shuffle.partitions like batch; skewed keys behave identically.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.util import materialize_bounded
from ..session import prep
from ..tables import table


def stage_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Symlink events.parquet into a fresh directory (file source wants a
    directory; testdata is read-only and mixed-schema)."""
    d = tempfile.mkdtemp(prefix="events-stream-")
    os.symlink(os.path.join(sf_dir, "events.parquet"), os.path.join(d, "events.parquet"))
    return d


def events_stream(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """readStream over the events table with the same NANOS→micros ts
    normalization as the batch loader (tables.table)."""
    prep(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = table(spark, sf_dir, "events").schema  # post-conversion: ts timestamp
    raw_schema = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).schema
    staged = stage_events_dir(spark, sf_dir)
    s = spark.readStream.schema(raw_schema).format("parquet").load(staged)
    raw_ts = dict((f.name, f.dataType.simpleString()) for f in raw_schema.fields).get("ts")
    if raw_ts == "bigint":
        s = s.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif raw_ts == "timestamp_ntz":
        # Same NTZ→TZ normalization as tables.table (session tz pinned UTC);
        # event-time watermarks require TIMESTAMP, not TIMESTAMP_NTZ.
        s = s.withColumn("ts", F.col("ts").cast("timestamp"))
    assert s.schema == schema
    return s, staged


def run_to_memory(spark: SparkSession, out: DataFrame, mode: str = "append") -> DataFrame:
    """Drive a streaming DataFrame to completion into a memory sink; return
    the materialized result (stable after the staging dir is gone)."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    q = out.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    result = spark.table(name)
    # Memory-sink results are fixture-scale by construction, but route them
    # through the same MATERIALIZE_ROW_CEILING guard as every other driver
    # materialization so an unbounded stream can never silently funnel
    # through the driver (VERDICT r5 #2).
    materialized = materialize_bounded(spark, result)
    spark.catalog.dropTempView(name)
    return materialized


def run_events_stream(
    spark: SparkSession, sf_dir: str, transform, mode: str = "append"
) -> DataFrame:
    """stage → readStream → transform(stream_df) → memory sink → result."""
    s, staged = events_stream(spark, sf_dir)
    try:
        return run_to_memory(spark, transform(s), mode)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def spool_frames(frames: list[DataFrame], spool: str, names: list[str]) -> None:
    """Write each frame as exactly one parquet file ``spool/<name>`` with
    ONE distributed staging job for all of them (catalog/parquet_io
    ``staged_slices``, the table writers' staging path; an empty frame
    still gets its schema-only file, so the spool carries every epoch).

    File mtimes are then stamped STRICTLY INCREASING in list order —
    the file stream source orders same-batch files by modification time,
    and the one-job staging would otherwise leave all epochs with the
    same timestamp (epoch order must never depend on a tie-break)."""
    import time as _time

    from ..catalog.parquet_io import staged_slices

    with staged_slices(frames) as (slices, _):
        base = _time.time()
        for i, (st, name) in enumerate(zip(slices, names)):
            dest = os.path.join(spool, name)
            # shutil.move, not os.replace: survives stage and spool
            # landing on different filesystems (EXDEV)
            shutil.move(st.path, dest)
            os.utime(dest, (base + i, base + i))
