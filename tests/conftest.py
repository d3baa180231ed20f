"""Shared fixtures: one local SparkSession per test session, a DuckDB
connection with the driver's table views pre-registered, and the
Spark-vs-DuckDB comparison helper that mirrors the driver's correctness gate
(column-name-sorted, order-insensitive, value-level equality).
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakefs_iceberg_catalog_spark.session import get_spark  # noqa: E402
from lakefs_iceberg_catalog_spark.tables import TABLES  # noqa: E402

# Driver gate runs at sf0.01; override for quick local iteration.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("lakefs-iceberg-catalog-spark-tests")
    s.sparkContext.setLogLevel("WARN")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_query_scoped_caches():
    """Mirror the harness entry points: every test starts with the previous
    query's scoped caches released, so the suite's shared SparkSession never
    accumulates cached partitions (operators/util.py:scoped_persist)."""
    from lakefs_iceberg_catalog_spark.operators.util import release_scoped

    release_scoped()
    yield


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def jobs_of(spark, fn):
    """(fn's result, number of Spark jobs it ran)."""
    import uuid

    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count")
    try:
        out = fn()
    finally:
        sc.setJobGroup("idle", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def assert_driver_canonicalizable(schema, name: str = "") -> None:
    """Registration-time output lint: the driver's order-insensitive value
    hash sorts result cells with pandas, which cannot factorize container
    cells — a bare array/map/struct column fails the harness even when the
    values are right (multimodal_feature_extract, CORRECTNESS_r03). Every
    registered query must emit scalar-only columns (stringify or explode
    containers before returning)."""
    from pyspark.sql import types as T

    for f in schema.fields:
        assert not isinstance(
            f.dataType, (T.ArrayType, T.MapType, T.StructType)
        ), (
            f"{name}: column {f.name!r} has driver-uncanonicalizable type "
            f"{f.dataType.simpleString()}; explode it to rows or stringify it"
        )


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, normalize dtypes, sort rows — makes two result
    sets comparable the way the driver's order-insensitive value-hash is."""
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        dt = df[c].dtype
        if pd.api.types.is_datetime64_any_dtype(dt):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_float_dtype(dt):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(dt):
            # nullable Int64 and int32/int64 → plain int64 (or float64 if NA)
            if df[c].isna().any():
                df[c] = df[c].astype("float64")
            else:
                df[c] = df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(dt):
            df[c] = df[c].astype("bool") if not df[c].isna().any() else df[c].astype("object")
        elif dt == object:
            # array-valued cells (Spark/DuckDB both hand back ndarrays or
            # lists): stringify via tolist so elementwise == stays scalar —
            # the same ndarray→list normalization driver_sim.norm applies
            df[c] = df[c].map(
                lambda v: str(v.tolist())
                if isinstance(v, np.ndarray)
                else (str(v) if isinstance(v, list) else v)
            )
    key = df.apply(lambda r: tuple(str(v) for v in r), axis=1) if len(df) else None
    if key is not None:
        df = df.iloc[key.argsort(kind="mergesort").to_numpy()].reset_index(drop=True)
    return df


def assert_frames_match(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame, name: str = "") -> None:
    a, b = canonicalize(spark_pdf), canonicalize(duck_pdf)
    assert list(a.columns) == list(b.columns), f"{name}: column sets differ: {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"{name}: row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if pd.api.types.is_float_dtype(a[c].dtype) or pd.api.types.is_float_dtype(b[c].dtype):
            av = av.astype("float64")
            bv = bv.astype("float64")
            both_nan = np.isnan(av) & np.isnan(bv)
            exact = np.isclose(av, bv, rtol=0, atol=0, equal_nan=True)
            # Driver compares hashes → demand bitwise equality; report the
            # worst offender if rounding in the two dialects ever diverges.
            if not np.all(exact | both_nan):
                bad = np.where(~(exact | both_nan))[0][:5]
                raise AssertionError(
                    f"{name}: float column {c!r} differs at rows {bad.tolist()}: "
                    f"{av[bad].tolist()} vs {bv[bad].tolist()}"
                )
        else:
            sa = pd.Series(av, dtype="object")
            sb = pd.Series(bv, dtype="object")
            eq = (sa.where(sa.notna(), "<NA>") == sb.where(sb.notna(), "<NA>")).to_numpy()
            if not eq.all():
                bad = np.where(~eq)[0][:5]
                raise AssertionError(
                    f"{name}: column {c!r} differs at rows {bad.tolist()}: "
                    f"{av[bad].tolist()} vs {bv[bad].tolist()}"
                )
