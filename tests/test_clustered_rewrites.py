"""Clustered rewrites through ``zorder.clustered``: Iceberg sorted and
z-ordered ``rewrite_data`` and Delta OPTIMIZE ZORDER on a five-tuple table
whose fifth tuple is NULL. Every rewrite conserves rows, writes files that
each hold one tuple (in the table's sort order, for a sorted rewrite),
stays within ``files * k + k - 1`` files, and stages
its rows in ONE staging call without a single-file writer; a ZORDER commit
whose staged rows do not match the aggregate's count is refused."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lakefs_iceberg_catalog_spark.catalog import parquet_io, zorder
from lakefs_iceberg_catalog_spark.catalog.avro_io import read_container
from lakefs_iceberg_catalog_spark.catalog.delta_format import (
    DeltaTableWriter,
    read_delta_log,
    scan_delta_table,
)
from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
    IcebergTableWriter,
    iceberg_snapshot_files,
    scan_iceberg_table,
)
from lakefs_iceberg_catalog_spark.tables import table

from .conftest import SF_DIR

K = 5  # partition tuples, the NULL one included


def _slices(spark):
    """nation split into one frame per region and key parity (two frames
    per tuple, so a rewrite has fragments to fold); region 4 is NULL."""
    n = table(spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n = n.withColumn(
        "n_regionkey",
        F.when(F.col("n_regionkey") != 4, F.col("n_regionkey")),
    )
    return [
        n.filter(
            (F.col("n_regionkey") == rk if rk < 4 else F.col("n_regionkey").isNull())
            & (F.col("n_nationkey") % 2 == m)
        )
        for m in range(2)
        for rk in range(K)
    ]


def _rows(df):
    cols = ("n_nationkey", "n_name", "n_regionkey")
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _file_column(path: str, col: str) -> list:
    """The values of ``col`` in one Iceberg data file, in file order."""
    if path.endswith(".avro"):
        return [r[col] for r in read_container(path)[1]]
    if path.endswith(".orc"):
        import pyarrow.orc as po

        return po.read_table(path).column(col).to_pylist()
    import pyarrow.parquet as pq

    return pq.read_table(path).column(col).to_pylist()


def _iceberg(spark, d, fmt, sort):
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"], file_format=fmt)
    w.append_many(_slices(spark))
    if sort:
        w.set_sort_order(["n_nationkey"])
    return w


def _delta(spark, d, mapped):
    w = DeltaTableWriter(spark, d, column_mapping=mapped)
    first, *rest = _slices(spark)
    w.commit(add_dfs=[first], partition_cols=["n_regionkey"])
    w.commit_many(rest)
    return w


ICEBERG = [
    # (file format, sort order, zorder_by, target_files)
    ("parquet", True, None, 1),
    ("parquet", True, None, 3),
    ("parquet", False, ["n_nationkey"], 2),
    ("orc", False, ["n_nationkey"], 2),
    ("avro", False, ["n_nationkey"], 2),
]


@pytest.mark.parametrize("fmt,sort,zorder_by,files", ICEBERG)
def test_iceberg_clustered_rewrite_keeps_null_tuple(
    spark, tmp_path, fmt, sort, zorder_by, files
):
    d = str(tmp_path / "ice")
    w = _iceberg(spark, d, fmt, sort)
    before = _rows(scan_iceberg_table(spark, d))
    w.rewrite_data(target_files=files, zorder_by=zorder_by)
    assert _rows(scan_iceberg_table(spark, d)) == before
    data, _ = iceberg_snapshot_files(d)
    for f in data:
        path = f["file_path"]
        tuple_ = f["partition"]["n_regionkey"]
        assert set(_file_column(path, "n_regionkey")) == {tuple_}
        if sort:  # each file keeps the table's sort order
            keys = _file_column(path, "n_nationkey")
            assert keys == sorted(keys)
    assert {f["partition"]["n_regionkey"] for f in data} == {0, 1, 2, 3, None}
    assert sum(f["record_count"] for f in data) == len(before)
    assert len(data) <= files * K + K - 1
    if files == 1:
        assert len(data) == K


@pytest.mark.parametrize("mapped", [False, True])
def test_delta_optimize_zorder_keeps_null_tuple(spark, tmp_path, mapped):
    d = str(tmp_path / "delta")
    w = _delta(spark, d, mapped)
    before = _rows(scan_delta_table(spark, d))
    w.optimize(zorder_by=["n_nationkey"], target_files=2)
    # the reader injects each file's tuple from the log: a row staged
    # under another tuple would come back changed
    assert _rows(scan_delta_table(spark, d)) == before
    adds = list(read_delta_log(d)["files"].values())
    pvs = {next(iter(a["partitionValues"].values())) for a in adds}
    assert pvs == {"0", "1", "2", "3", None}
    assert all(a["dataChange"] is False for a in adds)
    assert len(adds) <= 2 * K + K - 1


def _spy_staging(monkeypatch):
    """Count staging calls (``staged_slices`` and ``staged_avro``); any
    single-file writer raises."""
    calls = {"staged": 0}

    def counted(real):
        def spy(*a, **k):
            calls["staged"] += 1
            return real(*a, **k)

        return spy

    def single(*a, **k):
        raise AssertionError("single-file write on a clustered rewrite")

    for name in ("staged_slices", "staged_avro"):
        monkeypatch.setattr(parquet_io, name, counted(getattr(parquet_io, name)))
    for name in ("write_single_parquet", "write_single_orc", "write_single_avro"):
        monkeypatch.setattr(parquet_io, name, single)
    return calls


@pytest.mark.parametrize("fmt,sort,zorder_by,files", ICEBERG)
def test_iceberg_clustered_rewrite_stages_once(
    spark, tmp_path, monkeypatch, fmt, sort, zorder_by, files
):
    w = _iceberg(spark, str(tmp_path / "ice"), fmt, sort)
    calls = _spy_staging(monkeypatch)
    w.rewrite_data(target_files=files, zorder_by=zorder_by)
    assert calls == {"staged": 1}


@pytest.mark.parametrize("mapped", [False, True])
def test_delta_optimize_zorder_stages_once(spark, tmp_path, monkeypatch, mapped):
    w = _delta(spark, str(tmp_path / "delta"), mapped)
    calls = _spy_staging(monkeypatch)
    w.optimize(zorder_by=["n_nationkey"], target_files=2)
    assert calls == {"staged": 1}


def test_delta_optimize_zorder_refuses_lost_row(spark, tmp_path, monkeypatch):
    """A clustered frame that loses a row fails the row-conservation
    check before the log commit: head version, live files and the table
    directory stay as they were."""
    d = str(tmp_path / "delta")
    w = _delta(spark, d, False)
    real = zorder.clustered

    def lossy(*a, **k):
        out, n = real(*a, **k)
        return out.filter(F.col("n_nationkey") != 7), n

    monkeypatch.setattr(zorder, "clustered", lossy)
    state = read_delta_log(d)
    on_disk = sorted(os.listdir(d))
    with pytest.raises(AssertionError, match="row count"):
        w.optimize(zorder_by=["n_nationkey"], target_files=2)
    after = read_delta_log(d)
    assert after["version"] == state["version"]
    assert sorted(after["files"]) == sorted(state["files"])
    assert sorted(os.listdir(d)) == on_disk
