"""VersionedCatalog writes through ``parquet_io.staged_slices``: one staging
job per call, partition values typed and zone-free in the manifest, and
footer bounds that never outlive a row group without statistics. Also the
empty-source MoR MERGE of the Iceberg writer, which commits nothing."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from lakefs_iceberg_catalog_spark.catalog import parquet_io
from lakefs_iceberg_catalog_spark.catalog.catalog import VersionedCatalog
from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
    IcebergTableWriter,
    read_table_metadata,
    scan_iceberg_table,
)
from lakefs_iceberg_catalog_spark.catalog.manifest import METADATA_SHARD_PROP

# 2024-01-01 12:00:00 UTC and one day later
NOON = 1704110400
NEXT_NOON = NOON + 86400


@pytest.fixture
def cat(spark, tmp_path):
    c = VersionedCatalog(spark, str(tmp_path / "wh"))
    c.create_repository("repo", "main")
    c.create_namespace("repo.main.db")
    return c


@contextlib.contextmanager
def session_zone(spark, zone):
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, zone)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_string_partition_keeps_empty_apart_from_null(cat, spark):
    """Spark renders both "" and NULL as the default partition directory;
    the staged encoding keeps them apart, in the files' directories and in
    the manifest."""
    t = "repo.main.db.s"
    df = spark.createDataFrame(
        [(1, ""), (2, None), (3, "x")], "id int, s string"
    )
    cat.create_table(t, df.schema, partition_by=["s"])
    cat.append(t, df)
    assert _rows(cat.scan(t)) == [(1, ""), (2, None), (3, "x")]
    m = cat._ops(t)[0].current()
    assert sorted(map(repr, (p["s"] for p in m.file_partitions.values()))) == [
        "''", "'x'", "None"
    ]
    assert _rows(cat.scan_pruned(t, "s", "=", "")) == [(1, "")]


def test_timestamp_partition_is_zone_free(cat, spark):
    """A timestamp partition written under one session zone reads back as
    the same instant under another: the manifest holds epoch micros."""
    t = "repo.main.db.ts"
    with session_zone(spark, "America/New_York"):
        df = spark.range(1).select(
            F.lit(1).alias("id"), F.timestamp_seconds(F.lit(NOON)).alias("ts")
        )
        cat.create_table(t, df.schema, partition_by=["ts"])
        cat.append(t, df)
    with session_zone(spark, "UTC"):
        got = cat.scan(t).select("id", F.unix_seconds("ts")).collect()
    assert [tuple(r) for r in got] == [(1, NOON)]
    m = cat._ops(t)[0].current()
    assert list(m.file_partitions.values()) == [{"ts": NOON * 1_000_000}]


def test_legacy_text_timestamp_partition_still_reads(cat, spark):
    """A manifest may hold a timestamp partition value as session-local
    text (older builds) next to epoch micros: the text goes through the
    cast as it always did, the int through timestamp_micros."""
    t = "repo.main.db.legacy"
    df = spark.range(2).select(
        F.col("id").cast("int").alias("id"),
        F.timestamp_seconds(F.lit(NOON) + F.col("id") * 86400).alias("ts"),
    )
    cat.create_table(t, df.schema, partition_by=["ts"])
    cat.append_many(t, [df.filter("id = 0"), df.filter("id = 1")])
    ops = cat._ops(t)[0]
    base = ops.current()
    old, new = base.files
    ops.commit(
        base,
        base.next(
            base.files,
            file_partitions={
                old: {"ts": "2024-01-01 12:00:00"},
                new: {"ts": NEXT_NOON * 1_000_000},
            },
        ),
    )
    with session_zone(spark, "UTC"):
        got = cat.scan(t).select("id", F.unix_seconds("ts")).collect()
    assert sorted(tuple(r) for r in got) == [(0, NOON), (1, NEXT_NOON)]


def test_zorder_on_all_null_column(cat, spark):
    """An all-NULL z-order dimension is an inert axis, not a crash."""
    t = "repo.main.db.z"
    df = spark.range(40).select("id", F.lit(None).cast("int").alias("n"))
    cat.create_table_as(t, df, zorder_by=["id", "n"])
    assert cat.scan(t).count() == 40
    keep, total = cat.select_files(t, "id", "=", 3)
    assert total >= 1 and 1 <= len(keep) <= total


def test_sharded_int_partition_prunes(cat, spark):
    """Shard pruning compares the typed stored value with the probe: an
    int identity partition prunes, and every kept row is exact."""
    t = "repo.main.db.sharded"
    df = spark.range(30).selectExpr("id", "cast(id % 3 as int) AS k")
    cat.create_table(
        t, df.schema, properties={METADATA_SHARD_PROP: "true"}, partition_by=["k"]
    )
    cat.append(t, df)
    keep, total = cat.select_files(t, "k", "=", 1)
    assert total == 3 and len(keep) == 1
    assert cat.scan_pruned(t, "k", "=", 1).count() == 10
    assert cat.scan_pruned(t, "k", ">=", 1).count() == 20


@pytest.mark.parametrize(
    "layout", [{"partition_by": ["k"]}, {"bucket_by": ("id", 4)}]
)
def test_append_many_is_one_staging_call(cat, spark, monkeypatch, layout):
    """Three frames on a partitioned or bucketed table stage in ONE
    ``staged_slices`` call, with the files per version of three appends."""
    df = spark.range(60).selectExpr("id", "cast(id % 3 as int) AS k")
    frames = [df.filter(F.col("id") % 4 == i) for i in range(3)]
    many, seq = "repo.main.db.many", "repo.main.db.seq"
    for t in (many, seq):
        cat.create_table_as(t, df.limit(0), **layout)
    for f in frames:
        cat.append(seq, f)
    calls = []
    real = parquet_io.staged_slices

    def spy(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(parquet_io, "staged_slices", spy)
    cat.append_many(many, frames)
    assert len(calls) == 1
    om, os_ = cat._ops(many)[0], cat._ops(seq)[0]
    assert om.current().version == os_.current().version == 4
    for v in range(2, 5):
        a, b = om.load_version(v), os_.load_version(v)
        assert len(a.files) == len(b.files)
        assert sorted(map(repr, a.file_partitions.values())) == sorted(
            map(repr, b.file_partitions.values())
        )
        assert _rows(cat.scan(many, version=v)) == _rows(cat.scan(seq, version=v))


def test_footer_bounds_skip_row_group_without_stats(cat, spark, tmp_path):
    """A column whose last row group carries no min/max (parquet drops
    statistics over 4 KiB) has no file bound: pruning keeps the file."""
    src = str(tmp_path / "src")
    long = "z" * 5000
    (
        spark.range(20_001)
        .select(
            "id",
            F.when(F.col("id") == 20_000, F.lit(long))
            .otherwise(F.format_string("a%05d", F.col("id")))
            .alias("s"),
        )
        .coalesce(1)
        .write.option("parquet.block.size", 65536)
        .parquet(src)
    )
    import pyarrow.parquet as pq

    (name,) = [n for n in os.listdir(src) if n.endswith(".parquet")]
    md = pq.read_metadata(os.path.join(src, name))
    assert md.num_row_groups > 1
    last = md.row_group(md.num_row_groups - 1).column(1).statistics
    assert last is None or not last.has_min_max  # the premise
    assert md.row_group(0).column(1).statistics.has_min_max
    t = "repo.main.db.imported"
    cat.create_table(t, "id bigint, s string")
    assert cat.add_files(t, src) == 1
    keep, total = cat.select_files(t, "s", "=", long)
    assert (len(keep), total) == (1, 1)
    assert cat.scan_pruned(t, "s", "=", long).count() == 1
    assert cat.scan(t).filter(F.col("s") == long).count() == 1


@pytest.mark.parametrize("partition_by", [None, ["n_regionkey"]])
def test_iceberg_merge_upsert_mor_empty_source_commits_nothing(
    spark, tmp_path, partition_by
):
    """An empty MoR MERGE source commits no snapshot and leaves no file
    behind, on both the unpartitioned and the partitioned arm."""
    d = str(tmp_path / "t")
    rows = spark.createDataFrame(
        [(1, 0, "a"), (2, 1, "b")], "n_nationkey int, n_regionkey int, n_name string"
    )
    w = IcebergTableWriter(spark, d, partition_by=partition_by)
    head = w.append_many([rows.filter(f"n_regionkey = {r}") for r in (0, 1)])[-1]
    data_dir = os.path.join(d, "data")

    def data_files():
        return sorted(
            os.path.join(p, n) for p, _, ns in os.walk(data_dir) for n in ns
        )

    before = data_files()
    n_snaps = len(read_table_metadata(d)["snapshots"])
    assert w.merge_upsert_mor(rows.limit(0), ["n_nationkey"]) == head
    assert len(read_table_metadata(d)["snapshots"]) == n_snaps
    assert data_files() == before
    # the writer stays usable: the next MERGE commits normally
    w.merge_upsert_mor(rows.filter("n_nationkey = 1"), ["n_nationkey"])
    assert len(read_table_metadata(d)["snapshots"]) == n_snaps + 1
    assert sorted(r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()) == [1, 2]


@pytest.mark.parametrize(
    "op,value,n",
    [("=", float("nan"), 1), (">", 5.0, 1), (">=", 5.0, 1), ("<", float("nan"), 2)],
)
@pytest.mark.parametrize("partition_by", [None, ["x"]])
def test_nan_pruning_matches_spark_order(cat, spark, partition_by, op, value, n):
    """File pruning compares under Spark's order of doubles, where NaN is
    larger than every other value and equal to itself: ``scan_pruned``
    keeps the rows ``scan().filter`` returns, on footer bounds and on
    NaN partition values alike."""
    t = "repo.main.db.nan"
    df = spark.createDataFrame(
        [(0, 1.0), (1, 3.0), (2, float("nan"))], "id int, x double"
    )
    cat.create_table_as(t, df, partition_by=partition_by)
    x, v = F.col("x"), F.lit(value)
    cond = {"=": x == v, ">": x > v, ">=": x >= v, "<": x < v}[op]
    want = sorted(r["id"] for r in cat.scan(t).filter(cond).collect())
    got = sorted(r["id"] for r in cat.scan_pruned(t, "x", op, value).collect())
    assert len(want) == n
    assert got == want
