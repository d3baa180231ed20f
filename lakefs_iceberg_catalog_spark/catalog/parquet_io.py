"""Data-file materialization for the table-format writers.

``staged_slices`` is the ONE data-file write path of the Delta, Iceberg
and VersionedCatalog writers (and the streaming spool), and the only
writer of Delta change files: every add frame of a call — one for
``commit``/``append``, N for ``commit_many``/``append_many`` — plus at
most one frame spanning partition tuples (Delta MERGE output, UPDATE
images, change rows and OPTIMIZE/REORG rewrites; Iceberg row-level
rewrites — CoW DELETE/UPDATE/MERGE survivors, MoR UPDATE/MERGE images —
and compaction; every VersionedCatalog write, its frames told apart by a
frame-index partition column) is written by ONE distributed job,
``partitionBy("_slice", <partition values>)``. Each single-valued slice
lands as exactly one file whose partition values are read off the
directory names, and the spanning frame lands as one file per tuple
directory and task; ``per_tuple`` gives it the one-task-per-tuple
distribution. Those directories are also the one partition
single-valuedness proof: a slice is single-valued iff it wrote exactly one
directory per partition level — exact for every type and transform, NaN
included (all NaN rows land in one ``x=NaN`` directory), at no cost beyond
the write the commit already pays for. An unpartitioned table is the
zero-partition-column case of the same write. Rows stream executor-side
straight to the files; nothing funnels through the driver, and row counts
come from the file footers (metadata-only reads).

Known limit: a partition value whose escaped directory name exceeds the
filesystem's 255-byte name limit fails the staging write; the stage is
discarded and no table state changes.

Avro data files have no SQL writer, so no directory layout. An Avro
append slice is one ``foreachPartition`` file behind the explicit
``distinct_singleton_row`` probe; an Avro spanning frame is ONE
``staged_avro`` job whose tasks write one file per run of equal partition
tuples, under whatever distribution the caller picked.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import tempfile
from typing import NamedTuple

from pyspark.sql import DataFrame


_SINGLE_VALUED = "expected exactly one distinct partition-value row, got {}"


def distinct_singleton_row(df: DataFrame) -> tuple:
    """The single distinct row of ``df``, asserting there is exactly one —
    a bounded limit(2) probe (the partitioned-write invariant check: one
    output file carries one partition-value combination), never an
    unbounded driver materialization."""
    rows = df.distinct().limit(2).collect()
    if len(rows) != 1:
        raise ValueError(
            _SINGLE_VALUED.format("none" if not rows else "several")
        )
    return tuple(rows[0])


def footer_rows(path: str, fmt: str = "parquet") -> int:
    """A parquet/ORC file's row count, from its footer (no data pass)."""
    if fmt == "orc":
        import pyarrow.orc as po

        return int(po.ORCFile(path).nrows)
    import pyarrow.parquet as pq

    return int(pq.read_metadata(path).num_rows)


def write_single_parquet(df: DataFrame, dest_path: str) -> int:
    """Write ``df`` as exactly one parquet file at ``dest_path``; returns
    the row count (read from the footer, no data pass)."""
    tmp = tempfile.mkdtemp(
        prefix="single-pq-", dir=os.path.dirname(dest_path) or None
    )
    out_dir = os.path.join(tmp, "out")
    try:
        df.coalesce(1).write.mode("overwrite").parquet(out_dir)
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*.parquet")))
        assert len(parts) == 1, f"coalesce(1) produced {len(parts)} part files"
        shutil.move(parts[0], dest_path)
        return footer_rows(dest_path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def write_single_orc(df: DataFrame, dest_path: str) -> int:
    """ORC twin of write_single_parquet (Iceberg's spec allows parquet,
    ORC, and Avro data files): one executor-side task streams rows to a
    single ORC file; the row count comes from the ORC footer."""
    tmp = tempfile.mkdtemp(
        prefix="single-orc-", dir=os.path.dirname(dest_path) or None
    )
    out_dir = os.path.join(tmp, "out")
    try:
        df.coalesce(1).write.mode("overwrite").orc(out_dir)
        parts = sorted(glob.glob(os.path.join(out_dir, "part-*.orc")))
        assert len(parts) == 1, f"coalesce(1) produced {len(parts)} part files"
        shutil.move(parts[0], dest_path)
        return footer_rows(dest_path, "orc")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# Spark renders an empty string as the NULL directory and timestamps in
# the session time zone; partition values are staged under an encoding
# whose directory text decodes back to the exact typed value.
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
_UNION_PARTITIONING = "spark.sql.unionOutputPartitioning"


def _dir_encoded(c, dt):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(dt, T.StringType):
        return F.concat(F.lit("s"), c)  # keeps "" apart from NULL
    if isinstance(dt, T.TimestampType):
        return F.unix_micros(c)
    if isinstance(dt, T.DateType):
        return F.unix_date(c)
    if isinstance(dt, T.FloatType):
        return c.cast("double")  # the float's exact value, as text
    if isinstance(
        dt,
        (T.IntegralType, T.DoubleType, T.BooleanType, T.DecimalType,
         T.TimestampNTZType),
    ):
        return c
    raise ValueError(f"unsupported partition column type {dt.simpleString()}")


def _dir_decoded(text: str, dt):
    """The typed value of one ``name=text`` partition directory — the
    same Python value a collect of the column returns."""
    import datetime
    import decimal
    from urllib.parse import unquote

    from pyspark.sql import types as T

    if text == _DEFAULT_PARTITION:
        return None
    v = unquote(text)
    if isinstance(dt, T.StringType):
        return v[1:]
    if isinstance(dt, (T.TimestampType, T.DateType)):
        return dt.fromInternal(int(v))
    if isinstance(dt, T.TimestampNTZType):
        return datetime.datetime.fromisoformat(v)
    if isinstance(dt, T.BooleanType):
        return v == "true"
    if isinstance(dt, T.IntegralType):
        return int(v)
    if isinstance(dt, T.DecimalType):
        return decimal.Decimal(v)
    return float(v)  # double/float: Java's round-trip text, NaN included


def per_tuple(df: DataFrame, parts: list[str]) -> DataFrame:
    """``df`` distributed so every partition tuple sits in ONE task —
    hash-partitioned on ``parts`` over ``defaultParallelism`` tasks, or
    one task when there are no parts — the distribution under which a
    spanning frame of ``staged_slices`` lands one file per tuple. The
    count is explicit: with an implicit one AQE coalesces a byte-wise
    small shuffle into one task, and the whole write serializes behind a
    single encoder. The file set is the same either way."""
    if not parts:
        return df.coalesce(1)
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism, *parts)


def _runs(df: DataFrame, cols: list[str]) -> DataFrame:
    """``df`` sorted on ``cols`` within each task, ties in the task's row
    order: one run per value, each keeping the order the caller gave it.
    The row position makes the projection non-deterministic, so Spark
    cannot drop the caller's own sort beneath this one."""
    from pyspark.sql import functions as F

    return (
        df.withColumn("_pos", F.monotonically_increasing_id())
        .sortWithinPartitions(*cols, "_pos")
        .drop("_pos")
    )


class StagedSlice(NamedTuple):
    path: str  # the slice's one data file, inside the stage directory
    rows: int  # footer row count
    values: tuple  # typed partition values, in ``parts`` order


@contextlib.contextmanager
def staged_slices(
    frames: list[DataFrame],
    parts: list[str] = (),
    fmt: str = "parquet",
    checks: list[str] = (),
    spanning: DataFrame | None = None,
):
    """Write every frame of ``frames``, and ``spanning`` when given, in
    ONE job; yields ``(slices, first_bad)`` and removes whatever the
    caller did not move out.

    ``parts`` name the partition columns every frame carries; they name
    the directories and never enter the files. ``slices[i]`` is the
    ``StagedSlice`` of frame i, or the ``ValueError`` its registration
    must raise: a frame writing several partition tuples ("got several")
    or, on a partitioned write, no rows at all ("got none"). Each of
    these frames is coalesced to one task.

    ``spanning`` is a frame whose rows may span partition tuples (Delta
    MERGE output, UPDATE images, change rows and OPTIMIZE/REORG rewrites;
    Iceberg row-level rewrites and compaction; every VersionedCatalog
    write). It is written as it comes: each of its tasks writes one file
    per tuple it holds, so the caller picks the distribution — ``per_tuple``
    for one file per tuple, a range or coalesced layout for one file per
    non-empty task — and each file keeps its task's row order. Its slices
    follow the frames' in ``slices``, one per written file, none when it
    has no rows. For ``checks`` its slice index is ``len(frames)``.

    ``checks`` name boolean columns (true = the row violates a table
    invariant), dropped before the write; ``first_bad[k]`` is the first
    slice with a violating row for check k, or None — an observed metric
    of the same job.

    Without the union's output partitioning
    (``spark.sql.unionOutputPartitioning``) every input keeps its own
    tasks; with it, Spark zips the single-partition slices into ONE task.
    The setting only moves tasks, never the file set, and is restored
    after the write."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    inputs = list(frames) + ([spanning] if spanning is not None else [])
    if not inputs:
        yield [], []
        return
    stage = tempfile.mkdtemp(prefix="stage-slices-")
    try:
        spark = inputs[0].sparkSession
        types = [inputs[0].schema[p].dataType for p in parts]
        u = None
        for i, d in enumerate(inputs):
            s = (d.coalesce(1) if i < len(frames) else d).withColumns(
                {
                    "_slice": F.lit(i),
                    **{
                        p: _dir_encoded(F.col(p), t)
                        for p, t in zip(parts, types)
                    },
                }
            )
            if parts and i == len(frames):
                # the write sorts by its encoded directory columns; sorting
                # on them here keeps the caller's row order in each file
                s = _runs(s, ["_slice", *parts])
            u = s if u is None else u.unionByName(s)
        obs = None
        if checks:
            obs = Observation()
            u = u.observe(
                obs,
                *[
                    F.min(F.when(F.col(c), F.col("_slice"))).alias(f"c{k}")
                    for k, c in enumerate(checks)
                ],
            )
        writer = (u.drop(*checks) if checks else u).write.format(fmt)
        out = os.path.join(stage, "out")
        prev = spark.conf.get(_UNION_PARTITIONING)
        spark.conf.set(_UNION_PARTITIONING, "false")
        try:
            writer.partitionBy("_slice", *parts).mode("overwrite").save(out)
        finally:
            spark.conf.set(_UNION_PARTITIONING, prev)
        first_bad = [obs.get[f"c{k}"] for k in range(len(checks))] if obs else []
        slices: list = []
        for i, d in enumerate(frames):
            cur = os.path.join(out, f"_slice={i}")
            if not os.path.isdir(cur):
                if parts:
                    slices.append(ValueError(_SINGLE_VALUED.format("none")))
                    continue
                # partitionBy writes nothing for a slice without rows
                path = os.path.join(stage, f"empty-{i}.{fmt}")
                write = write_single_orc if fmt == "orc" else write_single_parquet
                rows = write(d.drop(*checks) if checks else d, path)
                slices.append(StagedSlice(path, rows, ()))
                continue
            values = []
            for t in types:
                subs = sorted(e for e in os.listdir(cur) if "=" in e)
                if len(subs) != 1:
                    break
                values.append(_dir_decoded(subs[0].split("=", 1)[1], t))
                cur = os.path.join(cur, subs[0])
            if len(values) != len(types):
                slices.append(ValueError(_SINGLE_VALUED.format("several")))
                continue
            files = [f for f in os.listdir(cur) if f.endswith(f".{fmt}")]
            assert len(files) == 1, f"slice {i} produced {len(files)} files"
            path = os.path.join(cur, files[0])
            slices.append(StagedSlice(path, footer_rows(path, fmt), tuple(values)))
        if spanning is not None:
            root = os.path.join(out, f"_slice={len(frames)}")
            for path in sorted(
                glob.glob(os.path.join(root, *["*=*"] * len(parts), f"*.{fmt}"))
            ):
                dirs = os.path.relpath(path, root).split(os.sep)[:-1]
                values = tuple(
                    _dir_decoded(seg.split("=", 1)[1], t)
                    for seg, t in zip(dirs, types)
                )
                slices.append(StagedSlice(path, footer_rows(path, fmt), values))
        yield slices, first_bad
    finally:
        shutil.rmtree(stage, ignore_errors=True)


def avro_schema_of(schema) -> dict:
    """Map a flat Spark schema to the Avro record schema an Iceberg AVRO
    data file carries (spec primitives + date/timestamp logical types;
    nullable columns become ``["null", T]`` unions). Nested types raise —
    the fixture writers are flat, like the reference's tables."""
    from pyspark.sql import types as T

    def prim(dt):
        if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
            return "int"
        if isinstance(dt, T.LongType):
            return "long"
        if isinstance(dt, T.StringType):
            return "string"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.DateType):
            return {"type": "int", "logicalType": "date"}
        if isinstance(dt, T.TimestampType):
            return {"type": "long", "logicalType": "timestamp-micros"}
        raise ValueError(f"unsupported Spark type for Avro data file: {dt}")

    return {
        "type": "record",
        "name": "row",
        "fields": [
            {
                "name": f.name,
                "type": ["null", prim(f.dataType)] if f.nullable else prim(f.dataType),
            }
            for f in schema.fields
        ],
    }


def _avro_encoding(schema):
    """The Avro record schema of flat Spark ``schema`` and the function
    mapping one of its Rows to an Avro record: dates as epoch days,
    timestamps as exact epoch micros."""
    import datetime as _dt

    avro_schema = avro_schema_of(schema)
    cols = schema.fieldNames()
    epoch_day = _dt.date(1970, 1, 1)
    epoch_ts = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    kinds = [type(f.dataType).__name__ for f in schema.fields]

    def conv(kind, v):
        if v is None:
            return None
        if kind == "DateType":
            return (v - epoch_day).days
        if kind == "TimestampType":
            if v.tzinfo is None:
                v = v.replace(tzinfo=_dt.timezone.utc)
            # exact integer micros: total_seconds() goes through a float
            # whose rounding + int() truncation corrupts ~1% of values
            # by -1µs; timedelta floor-division is exact (ADVICE r12)
            return (v - epoch_ts) // _dt.timedelta(microseconds=1)
        return v

    def record(r):
        return {c: conv(k, r[c]) for c, k in zip(cols, kinds)}

    return avro_schema, record


def write_single_avro(df: DataFrame, dest_path: str) -> int:
    """Avro twin of write_single_parquet (the spec's THIRD data format):
    one executor-side task streams rows through the from-scratch Avro
    container encoder (catalog/avro_io.write_container — block-buffered,
    deflate) straight to ``dest_path``; the row count comes from the
    container's block headers, a metadata-only pass. Single-JVM layout
    note: the task writes to the shared local filesystem, the same
    contract the parquet/ORC twins rely on; a cluster deployment points
    dest at shared storage."""
    avro_schema, record = _avro_encoding(df.schema)

    def _write(rows):
        from .avro_io import write_container

        write_container(
            dest_path, avro_schema, (record(r) for r in rows), codec="deflate"
        )

    df.coalesce(1).foreachPartition(_write)
    from .avro_io import count_container_rows

    return count_container_rows(dest_path)


def staged_avro(df: DataFrame, parts: list[str], stage: str) -> list[StagedSlice]:
    """Write ``df`` as Avro data files under ``stage`` in ONE job and
    return their slices: each task writes one file per partition tuple
    it holds (``parts`` name the tuple and never enter the file), keeping
    the task's row order within each file — one file per non-empty task
    without parts. The slices come back through the job's own fold,
    refused past the driver's materialization ceiling."""
    import itertools
    import uuid

    from ..operators.util import MATERIALIZE_ROW_CEILING, MaterializeCeilingError

    avro_schema, record = _avro_encoding(df.drop(*parts).schema)
    if parts:
        df = _runs(df, parts)

    def _write(rows):
        from .avro_io import write_container

        for values, run in itertools.groupby(
            rows, key=lambda r: tuple(r[p] for p in parts)
        ):
            path = os.path.join(stage, f"{uuid.uuid4().hex}.avro")
            n = write_container(
                path, avro_schema, (record(r) for r in run), codec="deflate"
            )
            yield [(path, n, values)]

    def _capped(a: list, b: list) -> list:
        a.extend(b)
        if len(a) > MATERIALIZE_ROW_CEILING:
            raise MaterializeCeilingError(
                f"more than {MATERIALIZE_ROW_CEILING} staged Avro files"
            )
        return a

    return [
        StagedSlice(*f) for f in df.rdd.mapPartitions(_write).fold([], _capped)
    ]


def parquet_column_bounds(path: str) -> dict[str, tuple]:
    """Per-column (min, max) aggregated across ALL row groups, read from
    the parquet FOOTER only — zero data IO (the same stats source Iceberg's
    own writers use for manifest bounds). Columns lacking complete min/max
    stats in any row group are omitted (the spec allows absent bounds)."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(path)
    bounds: dict[str, tuple] = {}
    incomplete: set[str] = set()
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        for i in range(rg.num_columns):
            c = rg.column(i)
            name = c.path_in_schema
            if name in incomplete:
                continue
            s = c.statistics
            if s is None or not s.has_min_max:
                incomplete.add(name)
                bounds.pop(name, None)
                continue
            cur = bounds.get(name)
            bounds[name] = (
                (s.min, s.max)
                if cur is None
                else (min(cur[0], s.min), max(cur[1], s.max))
            )
    return bounds
