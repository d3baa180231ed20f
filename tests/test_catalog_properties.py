"""Property tests (hypothesis) for the catalog's planning and metadata
invariants — pure Python except the partition-directory round trip, which
runs a few small Spark writes:

- `_file_survives` is CONSERVATIVE: a file whose [min, max] range covers any
  row matching the predicate is never skipped. (Skipping a matching file
  would be a wrong-results bug; keeping a non-matching file only costs IO.)
- Partition values round-trip through staged directory names: the
  `_dir_encoded` text Spark writes (hive-escaped) decodes through
  `_dir_decoded` to the exact value, for ints and strings.
- `TableManifest` JSON serialization round-trips exactly.
- `_is_safe_widening` admits only promotions that cannot lose information:
  irreflexive, antisymmetric, transitive along the integer chain.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark.sql import types as T

from lakefs_iceberg_catalog_spark.catalog.catalog import (
    _file_survives,
    _is_safe_widening,
    _parse_simple_predicate,
)
from lakefs_iceberg_catalog_spark.catalog.manifest import TableManifest, new_manifest

_OPS = ["=", "<", "<=", ">", ">="]


def _matches(v, op, bound) -> bool:
    return {
        "=": v == bound,
        "<": v < bound,
        "<=": v <= bound,
        ">": v > bound,
        ">=": v >= bound,
    }[op]


@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=20),
    op=st.sampled_from(_OPS),
    bound=st.integers(-1000, 1000),
)
def test_file_survives_is_conservative_int(vals, op, bound):
    stats = {"c": [min(vals), max(vals)]}
    any_match = any(_matches(v, op, bound) for v in vals)
    survives = _file_survives(stats, "c", op, bound)
    if any_match:
        assert survives  # never skip a file that contains a matching row


@given(
    vals=st.lists(st.integers(-1000, 1000), min_size=1, max_size=20),
    lo=st.integers(-1000, 1000),
    hi=st.integers(-1000, 1000),
)
def test_file_survives_conservative_between(vals, lo, hi):
    stats = {"c": [min(vals), max(vals)]}
    if any(lo <= v <= hi for v in vals):
        assert _file_survives(stats, "c", "between", (lo, hi))


@given(
    op=st.sampled_from(_OPS),
    bound=st.integers(-99, 99),
    col=st.sampled_from(["a", "x1", "o_orderkey"]),
)
def test_parse_simple_predicate_roundtrip(op, bound, col):
    parsed = _parse_simple_predicate(f"{col} {op} {bound}")
    assert parsed == (col, op, bound)


def _dir_roundtrip(spark, values: list, dt: T.DataType) -> list:
    """Stage ``values`` as a partition column (``_dir_encoded`` text in
    Spark's hive-escaped directory names) and decode each directory back
    through ``_dir_decoded``."""
    from lakefs_iceberg_catalog_spark.catalog.parquet_io import staged_slices

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)],
        T.StructType([T.StructField("i", T.IntegerType()), T.StructField("v", dt)]),
    )
    with staged_slices([], ["v"], spanning=df.coalesce(1)) as (slices, _):
        return sorted(s.values[0] for s in slices)


@settings(max_examples=10, deadline=None)
@given(st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=8, unique=True))
def test_partition_dir_roundtrip_int(spark, vals):
    assert _dir_roundtrip(spark, vals, T.LongType()) == sorted(vals)


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.text(alphabet=st.characters(codec="utf-8", exclude_characters="\x00"), max_size=30),
        min_size=1,
        max_size=8,
        unique=True,
    )
)
def test_partition_dir_roundtrip_string(spark, vals):
    # "" stays apart from NULL; hive's %XX escapes invert exactly
    assert _dir_roundtrip(spark, vals, T.StringType()) == sorted(vals)


@given(
    files=st.lists(
        st.text(alphabet="abcdef0123456789/=.-", min_size=1, max_size=20), max_size=5
    ),
    props=st.dictionaries(
        st.text(alphabet="abc.", min_size=1, max_size=8),
        st.text(max_size=10),
        max_size=3,
    ),
    pspec=st.lists(st.sampled_from(["k", "lang"]), max_size=2, unique=True),
)
def test_manifest_json_roundtrip(files, props, pspec):
    schema = T.StructType([T.StructField("k", T.IntegerType())]).json()
    m = new_manifest(schema, files, props, partition_spec=pspec)
    m2 = TableManifest.from_json(m.to_json())
    assert m2 == m


_NUMERIC = [
    T.ByteType(),
    T.ShortType(),
    T.IntegerType(),
    T.LongType(),
    T.FloatType(),
    T.DoubleType(),
    T.DecimalType(5, 2),
    T.DecimalType(12, 2),
    T.DecimalType(12, 4),
    T.StringType(),
]


@given(st.sampled_from(_NUMERIC))
def test_widening_irreflexive(t):
    assert not _is_safe_widening(t, t)  # same type is a no-op, not a widening


@given(st.sampled_from(_NUMERIC), st.sampled_from(_NUMERIC))
def test_widening_antisymmetric(a, b):
    # a promotion that is safe one way must not be safe the other way
    assert not (_is_safe_widening(a, b) and _is_safe_widening(b, a))


@given(
    st.sampled_from(_NUMERIC), st.sampled_from(_NUMERIC), st.sampled_from(_NUMERIC)
)
def test_widening_transitive(a, b, c):
    if _is_safe_widening(a, b) and _is_safe_widening(b, c):
        assert _is_safe_widening(a, c)


def test_widening_matrix_pins_iceberg_set():
    assert _is_safe_widening(T.IntegerType(), T.LongType())
    assert _is_safe_widening(T.FloatType(), T.DoubleType())
    assert _is_safe_widening(T.DecimalType(5, 2), T.DecimalType(12, 2))
    assert not _is_safe_widening(T.LongType(), T.IntegerType())
    assert not _is_safe_widening(T.DoubleType(), T.FloatType())
    assert not _is_safe_widening(T.DecimalType(12, 2), T.DecimalType(12, 4))
    assert not _is_safe_widening(T.IntegerType(), T.StringType())
    assert not _is_safe_widening(T.IntegerType(), T.DoubleType())


def test_bucket_expr_matches_python(spark):
    """The Spark-side bucket expression and the planner's Python _bucket_of
    must agree on every key, or files would be routed to one bucket and
    pruned by another. Checked over int and string keys including
    negatives, empties, and hive-hostile characters."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.catalog import _bucket_col, _bucket_of

    ints = [0, 1, -1, 7, 42, 10**12, -(10**12), 255, 256]
    strs = ["", "a", "Brand#42", "x y", "naïve", "0", "-1", "=", "%2F"]
    for n in (4, 8, 251):
        di = spark.createDataFrame([(v,) for v in ints], "k long")
        got = {r["k"]: r["b"] for r in di.select("k", _bucket_col("k", n).alias("b")).collect()}
        assert got == {v: _bucket_of(v, n) for v in ints}, f"int n={n}"
        ds = spark.createDataFrame([(v,) for v in strs], "k string")
        got = {r["k"]: r["b"] for r in ds.select("k", _bucket_col("k", n).alias("b")).collect()}
        assert got == {v: _bucket_of(v, n) for v in strs}, f"str n={n}"


_avro_primitives = st.one_of(
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
    st.text(max_size=40),
    st.booleans(),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
    st.none(),
)


@given(
    st.lists(
        st.fixed_dictionaries(
            {
                "k": st.integers(min_value=-(2**63), max_value=2**63 - 1),
                "s": st.one_of(st.none(), st.text(max_size=40)),
                "b": st.booleans(),
                "d": st.floats(allow_nan=False, allow_infinity=False, width=64),
            }
        ),
        max_size=50,
    )
)
def test_avro_container_roundtrip_property(records):
    """PROPERTY: any flat record batch round-trips through the
    from-scratch Avro container writer and the independent from-scratch
    reader byte-exactly — zig-zag longs across the full int64 range,
    UTF-8 strings, null unions, IEEE doubles, and the block-header-only
    counter all agree."""
    import os
    import tempfile

    from lakefs_iceberg_catalog_spark.catalog.avro_io import (
        count_container_rows,
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "b", "type": "boolean"},
            {"name": "d", "type": "double"},
        ],
    }
    fd, path = tempfile.mkstemp(suffix=".avro")
    os.close(fd)
    try:
        n = write_container(path, schema, iter(records), codec="deflate",
                            block_records=7)  # force multi-block framing
        assert n == len(records)
        assert count_container_rows(path) == len(records)
        _, back = read_container(path)
        assert back == records
    finally:
        os.unlink(path)
