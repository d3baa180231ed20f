"""Iceberg v2 on-disk interop (catalog/avro_io.py + catalog/iceberg_format.py).

The Avro tests are CROSS-IMPLEMENTATION: files are written by the real
Apache Avro Java library (bundled in Spark's jars) and decoded by the
from-scratch Python reader, so reader bugs cannot cancel against a sibling
writer. The Iceberg tests walk genuine HadoopCatalog-layout chains
(metadata.json + manifest list + Avro manifests), the reference's format
(LakeFSTableOperations.java:139,176).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lakefs_iceberg_catalog_spark.catalog.avro_io import (
    AvroDecodeError,
    JvmAvroWriter,
    read_container,
)
from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
    MANIFEST_ENTRY_SCHEMA,
    MANIFEST_LIST_SCHEMA,
    STATUS_ADDED,
    STATUS_DELETED,
    IcebergTableWriter,
    iceberg_data_files,
    iceberg_snapshot_files,
    read_table_metadata,
    scan_iceberg_table,
)

from .conftest import SF_DIR, jobs_of


def _nation(spark):
    from lakefs_iceberg_catalog_spark.tables import table

    return table(spark, SF_DIR, "nation")


# ----------------------------------------------------------- avro reader


_KITCHEN_SINK = {
    "type": "record",
    "name": "sink",
    "fields": [
        {"name": "b", "type": "boolean"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": "long"},
        {"name": "f", "type": "float"},
        {"name": "d", "type": "double"},
        {"name": "s", "type": "string"},
        {"name": "by", "type": "bytes"},
        {"name": "u", "type": ["null", "long"], "default": None},
        {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["RED", "BLUE"]}},
        {"name": "fx", "type": {"type": "fixed", "name": "f8", "size": 3}},
        {"name": "arr", "type": {"type": "array", "items": "int"}},
        {"name": "m", "type": {"type": "map", "values": "string"}},
        {
            "name": "nested",
            "type": {
                "type": "record",
                "name": "inner",
                "fields": [{"name": "x", "type": "long"}],
            },
        },
        # named-type REFERENCE (Iceberg's r102-style reuse)
        {"name": "nested2", "type": "inner"},
    ],
}

_SINK_ROWS = [
    {
        "b": True,
        "i": -42,
        "l": 1 << 40,
        "f": 1.5,
        "d": -2.25,
        "s": "héllo",
        "by": b"\x00\xff",
        "u": None,
        "e": "BLUE",
        "fx": b"abc",
        "arr": [1, 2, 3],
        "m": {"k1": "v1", "k2": "v2"},
        "nested": {"x": 7},
        "nested2": {"x": 8},
    },
    {
        "b": False,
        "i": 0,
        "l": -(1 << 40),
        "f": -0.5,
        "d": 1e300,
        "s": "",
        "by": b"",
        "u": 99,
        "e": "RED",
        "fx": b"xyz",
        "arr": [],
        "m": {},
        "nested": {"x": -7},
        "nested2": {"x": -8},
    },
]


@pytest.mark.parametrize("codec", ["null", "deflate"])
def test_avro_cross_implementation_roundtrip(spark, tmp_path, codec):
    p = str(tmp_path / f"sink-{codec}.avro")
    JvmAvroWriter(spark).write(p, _KITCHEN_SINK, _SINK_ROWS, meta={"who": "test"}, codec=codec)
    info, back = read_container(p)
    assert info["codec"] == codec
    assert info["meta"]["who"] == b"test"
    assert info["schema"]["name"] == "sink"
    assert len(back) == 2
    for want, got in zip(_SINK_ROWS, back):
        for k, v in want.items():
            if k == "f":  # float32 precision
                assert abs(got[k] - v) < 1e-6
            else:
                assert got[k] == v, k


def test_avro_rejects_non_avro(tmp_path):
    p = str(tmp_path / "not.avro")
    with open(p, "wb") as f:
        f.write(b"PAR1 definitely not avro")
    with pytest.raises(AvroDecodeError):
        read_container(p)


# ------------------------------------------------------- iceberg chain


@pytest.fixture
def ice(spark, tmp_path):
    """Two-snapshot nation table in a genuine Iceberg v2 layout."""
    d = str(tmp_path / "ice_table")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(_nation(spark).filter("n_nationkey < 12"))
    s2 = w.append(_nation(spark).filter("n_nationkey >= 12"))
    return d, s1, s2


def test_scan_current_snapshot(spark, ice):
    d, _s1, _s2 = ice
    df = scan_iceberg_table(spark, d)
    assert df.count() == 25
    assert set(df.columns) >= {"n_nationkey", "n_name", "n_regionkey"}


def test_time_travel_by_snapshot_and_version(spark, ice):
    d, s1, s2 = ice
    assert scan_iceberg_table(spark, d, snapshot_id=s1).count() == 12
    assert scan_iceberg_table(spark, d, snapshot_id=s2).count() == 25
    assert scan_iceberg_table(spark, d, version=1).count() == 12


def test_sequence_number_inheritance(ice):
    d, _s1, _s2 = ice
    # manifests leave ADDED entries' sequence_number null; readers must
    # inherit the manifest-list number (Iceberg spec inheritance rule)
    files = sorted(f["sequence_number"] for f in iceberg_data_files(d))
    assert files == [1, 2]


def test_version_hint_recovery_and_stale_hint(spark, ice):
    d, _s1, _s2 = ice
    hint = os.path.join(d, "metadata", "version-hint.text")
    os.remove(hint)  # recovery scan over metadata/
    assert read_table_metadata(d)["last-sequence-number"] == 2
    with open(hint, "w") as f:
        f.write("1")  # stale hint: walk forward to v2
    assert read_table_metadata(d)["last-sequence-number"] == 2
    assert scan_iceberg_table(spark, d).count() == 25


def test_metadata_json_spec_shape(ice):
    d, _s1, s2 = ice
    m = read_table_metadata(d)
    assert m["format-version"] == 2
    assert m["current-snapshot-id"] == s2
    assert m["schemas"][0]["fields"][0] == {
        "id": 1,
        "name": "n_nationkey",
        "required": False,
        "type": "int",
    }
    assert m["refs"]["main"]["snapshot-id"] == s2
    snap = [s for s in m["snapshots"] if s["snapshot-id"] == s2][0]
    assert snap["summary"]["operation"] == "append"
    assert os.path.exists(snap["manifest-list"])


def test_deleted_entries_are_skipped(spark, tmp_path, ice):
    """A manifest whose entry is status=DELETED must drop out of the scan
    (the spec's delete-by-rewrite path)."""
    d, _s1, s2 = ice
    meta_dir = os.path.join(d, "metadata")
    m = read_table_metadata(d)
    snap = [s for s in m["snapshots"] if s["snapshot-id"] == s2][0]
    _, manifests = read_container(snap["manifest-list"])
    # rewrite the OLDER manifest's entries as DELETED in a new manifest
    old = min(manifests, key=lambda x: x["sequence_number"])
    _, entries = read_container(old["manifest_path"])
    deleted_path = os.path.join(meta_dir, "rewrite-m0.avro")
    JvmAvroWriter(spark).write(
        deleted_path,
        MANIFEST_ENTRY_SCHEMA,
        [
            {**e, "status": STATUS_DELETED, "sequence_number": old["sequence_number"]}
            for e in entries
        ],
        codec="deflate",
    )
    new_list = os.path.join(meta_dir, "snap-999-1-rewrite.avro")
    keep = [mf for mf in manifests if mf is not old]
    JvmAvroWriter(spark).write(
        new_list,
        MANIFEST_LIST_SCHEMA,
        keep + [{**old, "manifest_path": deleted_path, "deleted_files_count": 1, "added_files_count": 0}],
    )
    # new snapshot pointing at the rewrite
    v = 3
    m["snapshots"].append(
        {
            "snapshot-id": 999,
            "sequence-number": 3,
            "timestamp-ms": m["last-updated-ms"] + 1,
            "summary": {"operation": "delete"},
            "manifest-list": new_list,
            "schema-id": 0,
        }
    )
    m["current-snapshot-id"] = 999
    m["last-sequence-number"] = 3
    with open(os.path.join(meta_dir, f"v{v}.metadata.json"), "w") as f:
        json.dump(m, f)
    with open(os.path.join(meta_dir, "version-hint.text"), "w") as f:
        f.write(str(v))
    assert scan_iceberg_table(spark, d).count() == 13  # n_nationkey >= 12
    # prior snapshots still read their original file sets
    assert scan_iceberg_table(spark, d, snapshot_id=s2).count() == 25


def test_corrupt_manifest_content_mismatch_raises(spark, tmp_path, ice):
    """A manifest-list entry tagged content=1 (deletes) whose manifest
    actually lists data files is a corrupt layout — refused loudly, not
    guessed through."""
    d, _s1, s2 = ice
    meta_dir = os.path.join(d, "metadata")
    m = read_table_metadata(d)
    snap = [s for s in m["snapshots"] if s["snapshot-id"] == s2][0]
    _, manifests = read_container(snap["manifest-list"])
    bad_list = os.path.join(meta_dir, "snap-888-1-bad.avro")
    JvmAvroWriter(spark).write(
        bad_list,
        MANIFEST_LIST_SCHEMA,
        [{**manifests[0], "content": 1}],  # claims DELETE, entries are data
    )
    m["snapshots"].append(
        {
            "snapshot-id": 888,
            "sequence-number": 3,
            "timestamp-ms": m["last-updated-ms"] + 1,
            "summary": {"operation": "overwrite"},
            "manifest-list": bad_list,
            "schema-id": 0,
        }
    )
    with open(os.path.join(meta_dir, "v3.metadata.json"), "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="corrupt manifest"):
        iceberg_data_files(d, snapshot_id=888)


def test_position_deletes_merge_on_read(spark, tmp_path):
    """A v2 snapshot carrying a POSITION delete file (content=1) scans with
    the deleted rows merged out — the (file_path, pos) anti-join — while
    time travel BEFORE the delete still sees them; the strict data-only
    listing refuses the snapshot (VERDICT r6 #5)."""
    d = str(tmp_path / "posdel")
    w = IcebergTableWriter(spark, d)
    nat = _nation(spark).orderBy("n_nationkey")
    s1 = w.append(nat)
    files, no_dels = iceberg_snapshot_files(d, snapshot_id=s1)
    assert len(files) == 1 and no_dels == []
    data_path = files[0]["file_path"]
    # rows are written ordered by n_nationkey → ordinal == n_nationkey
    s2 = w.delete_positions([(data_path, 0), (data_path, 7), (data_path, 24)])

    cur = scan_iceberg_table(spark, d)
    keys = {r["n_nationkey"] for r in cur.collect()}
    assert len(keys) == 22 and keys.isdisjoint({0, 7, 24})
    # time travel to the pre-delete snapshot sees all 25
    assert scan_iceberg_table(spark, d, snapshot_id=s1).count() == 25
    # the delete snapshot reports its delete file through the split walk
    _data, dels = iceberg_snapshot_files(d, snapshot_id=s2)
    assert [f["content"] for f in dels] == [1]
    with pytest.raises(NotImplementedError):
        iceberg_data_files(d, snapshot_id=s2)


def test_position_deletes_across_appends(spark, tmp_path):
    """Deletes only hit the referenced file: rows appended AFTER the delete
    (new file, new path) are untouched, and a second delete stacks."""
    d = str(tmp_path / "posdel2")
    w = IcebergTableWriter(spark, d)
    nat = _nation(spark).orderBy("n_nationkey")
    w.append(nat.where("n_nationkey < 10"))  # ordinals 0..9
    files, _ = iceberg_snapshot_files(d)
    f1 = files[0]["file_path"]
    w.delete_positions([(f1, 3)])  # kills n_nationkey=3
    w.append(nat.where("n_nationkey >= 10"))  # new file, ordinals 0..14
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {3}
    # stack a second delete on the SECOND file (ordinal 2 → key 12)
    files, _ = iceberg_snapshot_files(d)
    f2 = next(f["file_path"] for f in files if f["file_path"] != f1)
    w.delete_positions([(f2, 2)])
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {3, 12}


def test_equality_deletes_merge_on_read(spark, tmp_path):
    """A v2 snapshot carrying an EQUALITY delete file (content=2,
    equality_ids naming the key columns) scans with matching rows merged
    out of all STRICTLY OLDER data files — and rows re-appended AFTER the
    delete survive (the spec's sequence-number scoping, the property that
    makes equality deletes usable for UPSERT)."""
    d = str(tmp_path / "eqdel")
    w = IcebergTableWriter(spark, d)
    nat = _nation(spark).orderBy("n_nationkey")
    s1 = w.append(nat)                                   # seq 1
    w.delete_keys(["n_nationkey"], [(4,), (9,)])         # seq 2
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {4, 9}
    # pre-delete snapshot unaffected
    assert scan_iceberg_table(spark, d, snapshot_id=s1).count() == 25
    # re-append key 4 AFTER the delete: newer sequence, must survive
    w.append(nat.where("n_nationkey = 4"))               # seq 3
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {9}


def test_equality_and_position_deletes_compose(spark, tmp_path):
    """Both delete kinds on one snapshot: position kills an ordinal,
    equality kills keys in older files; both merge in one scan."""
    d = str(tmp_path / "bothdel")
    w = IcebergTableWriter(spark, d)
    nat = _nation(spark).orderBy("n_nationkey")
    w.append(nat)
    files, _ = iceberg_snapshot_files(d)
    fp = files[0]["file_path"]
    w.delete_positions([(fp, 0)])              # kills key 0
    w.delete_keys(["n_name"], [("NATION_3",)])  # kills key 3 by value
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {0, 3}


def test_partitioned_iceberg_write_and_prune(spark, tmp_path):
    """Identity-partitioned v2 table: partition values land TYPED in each
    manifest entry's partition struct + metadata partition-specs; the scan
    prunes FILES by partition_filter with zero IO on other partitions."""
    d = str(tmp_path / "icepart")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    n = _nation(spark)
    for rk in range(5):
        w.append(n.where(f"n_regionkey = {rk}"))
    m = read_table_metadata(d)
    spec = m["partition-specs"][0]["fields"]
    assert spec == [
        {"name": "n_regionkey", "transform": "identity", "source-id": 3, "field-id": 1000}
    ]
    files, _ = iceberg_snapshot_files(d)
    assert sorted(f["partition"]["n_regionkey"] for f in files) == [0, 1, 2, 3, 4]
    full = scan_iceberg_table(spark, d)
    assert full.count() == 25
    pruned = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 2})
    assert len(pruned.inputFiles()) == 1  # 1 of 5 files — metadata pruning
    assert {r["n_nationkey"] for r in pruned.collect()} == {
        r["n_nationkey"] for r in n.where("n_regionkey = 2").collect()
    }
    with pytest.raises(ValueError, match="non-partition"):
        scan_iceberg_table(spark, d, partition_filter={"n_name": "x"})


def test_partitioned_mor_deletes(spark, tmp_path):
    """Merge-on-read deletes over an identity-partitioned table (VERDICT
    r8 #3): delete files are partition-scoped — position deletes group by
    the TARGET file's tuple, equality deletes by their key-derived tuple
    — their manifest entries carry the typed partition struct, and
    partition_filter prunes delete manifests alongside data manifests."""
    d = str(tmp_path / "icepartmor")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    n = _nation(spark)
    for rk in range(5):
        w.append(n.where(f"n_regionkey = {rk}").orderBy("n_nationkey"))
    files, _ = iceberg_snapshot_files(d)
    by_region = {f["partition"]["n_regionkey"]: f for f in files}
    # region 0 file holds {0,5,10,15,20} in sorted order: ordinal 1 == 5
    w.delete_positions(
        [(by_region[0]["file_path"], 1), (by_region[2]["file_path"], 0)]
    )
    w.delete_keys(["n_nationkey", "n_regionkey"], [(10, 0), (11, 1)])
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {5, 2, 10, 11}
    # the position-delete snapshot wrote one delete FILE per touched tuple
    _, dels = iceberg_snapshot_files(d)
    pos_parts = sorted(
        f["partition"]["n_regionkey"] for f in dels if f["content"] == 1
    )
    eq_parts = sorted(
        f["partition"]["n_regionkey"] for f in dels if f["content"] == 2
    )
    assert pos_parts == [0, 2] and eq_parts == [0, 1]
    # partition pruning covers delete manifests (spec-507 summaries):
    # region 3 sees NO delete files, region 0 its pos+eq pair
    _, d3 = iceberg_snapshot_files(d, partition_filter={"n_regionkey": 3})
    assert d3 == []
    _, d0 = iceberg_snapshot_files(d, partition_filter={"n_regionkey": 0})
    assert sorted(f["content"] for f in d0) == [1, 2]
    # a GLOBAL equality delete (partition cols not in the key) commits
    # under the unpartitioned spec reference and applies table-wide
    # (VERDICT r10 #4 — previously a loud refusal)
    w.delete_keys(["n_nationkey"], [(1,), (22,)])
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {5, 2, 10, 11, 1, 22}
    _, dels = iceberg_snapshot_files(d)
    glob_dels = [f for f in dels if not (f.get("partition") or {})]
    assert len(glob_dels) == 1 and glob_dels[0]["content"] == 2
    # its manifest references a spec with NO fields, registered in metadata
    m = read_table_metadata(d)
    empty_specs = [s for s in m["partition-specs"] if s["fields"] == []]
    assert len(empty_specs) == 1
    assert glob_dels[0]["_spec_id"] == empty_specs[0]["spec-id"]
    # a global delete survives partition pruning (it scopes EVERY tuple)
    _, d3b = iceberg_snapshot_files(d, partition_filter={"n_regionkey": 3})
    assert [f["_spec_id"] for f in d3b] == [empty_specs[0]["spec-id"]]
    # ... and the pruned scan still applies it exactly
    pr = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 1})
    assert {r["n_nationkey"] for r in pr.collect()} == {6, 16, 21}  # not 1/11
    # transform-partitioned MoR deletes: the tuple comes from the target
    # file's manifest entry, no transform re-applied (VERDICT r10 #3)
    d2 = str(tmp_path / "icebucketmor")
    w2 = IcebergTableWriter(spark, d2, partition_by=["bucket(n_nationkey, 4)"])
    for k in (0, 1):
        w2.append(n.where(f"n_nationkey = {k}"))
    import pyarrow.parquet as _pq

    f2, _ = iceberg_snapshot_files(d2)
    target = f2[0]
    killed = _pq.read_table(target["file_path"]).column("n_nationkey")[0].as_py()
    w2.delete_positions([(target["file_path"], 0)])
    assert {
        r["n_nationkey"] for r in scan_iceberg_table(spark, d2).collect()
    } == {0, 1} - {killed}
    _, dels2 = iceberg_snapshot_files(d2)
    assert dels2[0]["partition"] == target["partition"]  # transformed tuple


def test_partitioned_append_must_be_single_valued(spark, tmp_path):
    """One data file = one partition tuple (per-partition writer-task
    shape): a mixed-partition append is refused."""
    d = str(tmp_path / "icepart2")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    with pytest.raises(ValueError, match="one distinct partition-value"):
        w.append(_nation(spark))
    assert not os.listdir(os.path.join(d, "data"))  # no orphan file
    # NaN edge: Iceberg identity partitions here are int/long/string (the
    # manifest writer's Avro JSON path cannot carry a NaN double), so a
    # NaN-valued partition never reaches staging — a NaN + 1.0 slice on a
    # double column is refused up front, with no file left behind
    dn = str(tmp_path / "icenan")
    wn = IcebergTableWriter(spark, dn, partition_by=["score"])
    nanmix = _nation(spark).where("n_nationkey < 4").withColumn(
        "score",
        F.when(F.col("n_nationkey") < 2, F.lit(float("nan"))).otherwise(1.0),
    )
    with pytest.raises(ValueError, match="not supported"):
        wn.append(nanmix)
    assert not os.listdir(os.path.join(dn, "data"))


def test_position_delete_file_is_real_iceberg_shape(spark, tmp_path):
    """The emitted delete file is spec-shaped parquet: (file_path, pos)
    columns, rows sorted by (file_path, pos)."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "posdel3")
    w = IcebergTableWriter(spark, d)
    w.append(_nation(spark).orderBy("n_nationkey"))
    files, _ = iceberg_snapshot_files(d)
    fp = files[0]["file_path"]
    w.delete_positions([(fp, 9), (fp, 1)])
    _, dels = iceberg_snapshot_files(d)
    t = pq.read_table(dels[0]["file_path"])
    assert t.column_names == ["file_path", "pos"]
    assert t.column("pos").to_pylist() == [1, 9]  # sorted per spec


def test_gzip_metadata_json_probe(spark, ice):
    """write.metadata.compression-codec tables store v<N>.metadata.json.gz;
    the read probe must find them (same probing as the reference's
    getMetadataFile, LakeFSTableOperations.java:149-166)."""
    import gzip as _gzip

    d, _s1, _s2 = ice
    meta_dir = os.path.join(d, "metadata")
    plain = os.path.join(meta_dir, "v2.metadata.json")
    with open(plain) as f:
        content = f.read()
    os.remove(plain)
    with _gzip.open(plain + ".gz", "wt") as f:
        f.write(content)
    assert read_table_metadata(d)["last-sequence-number"] == 2
    assert scan_iceberg_table(spark, d).count() == 25


def test_gzip_metadata_stock_iceberg_name(spark, ice):
    """Stock Iceberg's gzip codec writes v<N>.gz.metadata.json — `.gz`
    BEFORE `.metadata.json` (TableMetadataParser.getFileExtension; the
    reference's getMetadataFile probes this spelling FIRST). A real
    gzip-compressed Iceberg table must be readable through this name."""
    import gzip as _gzip

    d, _s1, _s2 = ice
    meta_dir = os.path.join(d, "metadata")
    plain = os.path.join(meta_dir, "v2.metadata.json")
    with open(plain) as f:
        content = f.read()
    os.remove(plain)
    with _gzip.open(os.path.join(meta_dir, "v2.gz.metadata.json"), "wt") as f:
        f.write(content)
    assert read_table_metadata(d)["last-sequence-number"] == 2
    assert scan_iceberg_table(spark, d).count() == 25


def test_refs_tag_branch_resolution_and_guards(spark, tmp_path):
    """Named refs: tags/branches pin snapshots via metadata-only commits,
    `main` tracks head and is writer-managed, unknown refs refuse, and a
    ref at an old metadata version resolves against THAT version's map."""
    import pyspark.sql.functions as F

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        IcebergTableWriter,
        read_table_metadata,
        resolve_ref,
        scan_iceberg_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table as _t

    from .conftest import SF_DIR

    n = _t(spark, SF_DIR, "nation")
    d = str(tmp_path / "refs")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.where("n_nationkey < 12"))
    files_before = sorted(
        f for f in __import__("os").listdir(f"{d}/metadata") if f.endswith(".avro")
    )
    w.set_ref("v1.0", ref_type="tag")
    # metadata-only: no new manifests/manifest lists were written
    files_after = sorted(
        f for f in __import__("os").listdir(f"{d}/metadata") if f.endswith(".avro")
    )
    assert files_after == files_before
    s2 = w.append(n.where("n_nationkey >= 12"))
    md = read_table_metadata(d)
    assert md["refs"]["main"]["snapshot-id"] == s2
    assert md["refs"]["v1.0"] == {"snapshot-id": s1, "type": "tag"}
    assert scan_iceberg_table(spark, d, ref="v1.0").count() == 12
    assert resolve_ref(d, "main") == s2
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown ref"):
        resolve_ref(d, "nope")
    with _pytest.raises(ValueError, match="writer-managed"):
        w.set_ref("main")
    with _pytest.raises(ValueError, match="unknown snapshot"):
        w.set_ref("bad", snapshot_id=123)
    with _pytest.raises(ValueError, match="tag or branch"):
        w.set_ref("x", ref_type="wat")
    with _pytest.raises(ValueError, match="not both"):
        scan_iceberg_table(spark, d, ref="v1.0", snapshot_id=s1)


def test_orc_ordinal_reader_iterates_stripes(spark, tmp_path):
    """The ORC ordinal reader must stream STRIPE-sized frames with a
    running offset (ADVICE r8 #1 — whole-file materialization risks
    executor OOM on multi-GB MoR files): over a many-stripe file the
    stamped _pos is the global file ordinal, continuous across stripe
    boundaries."""
    import pyarrow as pa
    import pyarrow.orc as po

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        _orc_scan_with_ordinals,
    )

    p = str(tmp_path / "stripes.orc")
    n = 50_000
    po.write_table(
        pa.table({"k": list(range(n))}), p, stripe_size=64 * 1024
    )
    assert po.ORCFile(p).nstripes > 1  # the premise: many stripes
    got = _orc_scan_with_ordinals(spark, [p])
    rows = got.select("k", "_pos").collect()
    assert len(rows) == n
    assert all(r["k"] == r["_pos"] for r in rows)  # global, gapless


def test_orc_data_files_mixed_format_scan_and_mor_deletes(spark, tmp_path):
    """file_format is a per-data-file property: a table may mix ORC and
    parquet files and the scan dispatches per manifest entry; MoR
    position deletes now apply over ORC too — the parquet-only
    `_metadata.row_index` is replaced by an executor-side pyarrow
    ordinal reader for ORC groups (VERDICT r7 #9, refusal lifted)."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        IcebergTableWriter,
        scan_iceberg_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table as _t

    from .conftest import SF_DIR

    n = _t(spark, SF_DIR, "nation")
    d = str(tmp_path / "orc")
    w = IcebergTableWriter(spark, d, file_format="orc")
    w.append(n.where("n_nationkey < 12").orderBy("n_nationkey"))
    w.append(n.where("n_nationkey >= 12"), file_format="parquet")
    back = scan_iceberg_table(spark, d)
    assert back.count() == 25
    exts = {p.rsplit(".", 1)[-1] for p in back.inputFiles()}
    assert exts == {"orc", "parquet"}
    # avro became a SUPPORTED third format in round 12; csv never will be
    with _pytest.raises(ValueError, match="unsupported data file format"):
        IcebergTableWriter(spark, str(tmp_path / "bad"), file_format="csv")
    # MoR position deletes on a MIXED table: ordinals 0 and 3 of the ORC
    # file (written in key order: nations 0 and 3) plus ordinal 0 of the
    # parquet file — both formats' ordinal spaces resolve correctly
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_snapshot_files,
    )

    files, _ = iceberg_snapshot_files(d)
    orc_file = next(f for f in files if f["file_format"] == "ORC")
    w.delete_positions([(orc_file["file_path"], 0), (orc_file["file_path"], 3)])
    merged = scan_iceberg_table(spark, d)
    assert merged.count() == 23
    keys = {r["n_nationkey"] for r in merged.collect()}
    assert keys == set(range(25)) - {0, 3}
    # a second delete on the parquet side composes with the ORC one
    pq_file = next(f for f in files if f["file_format"] == "PARQUET")
    w.delete_positions([(pq_file["file_path"], 0)])
    again = scan_iceberg_table(spark, d)
    assert again.count() == 22
    # MULTIPLE ORC files in one scan group: pyspark's read.orc takes ONE
    # path-or-list arg — *-splatting >1 path lands in mergeSchema and
    # throws (regression: found via the ORC MoR driver run)
    d2 = str(tmp_path / "orc2")
    w2 = IcebergTableWriter(spark, d2, file_format="orc")
    w2.append(n.where("n_nationkey < 12"))
    w2.append(n.where("n_nationkey >= 12"))
    assert scan_iceberg_table(spark, d2).count() == 25
    w2.delete_positions([(iceberg_snapshot_files(d2)[0][0]["file_path"], 1)])
    assert scan_iceberg_table(spark, d2).count() == 24


def test_incremental_append_scan_windows_and_refusals(spark, tmp_path):
    """IncrementalAppendScan contract: (from, to] file selection by the
    sequence-number window, default to = current, and the append-only
    range validation (a delete inside the range refuses loudly — an
    append-only reader would double-process changed rows)."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_incremental_append_files,
        scan_iceberg_incremental,
    )

    n = _nation(spark)
    d = str(tmp_path / "incr")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.where("n_nationkey < 8"))
    s2 = w.append(n.where("n_nationkey >= 8 and n_nationkey < 17"))
    s3 = w.append(n.where("n_nationkey >= 17"))

    # bounded window: exactly the middle append
    mid = scan_iceberg_incremental(spark, d, s1, s2)
    assert sorted(r["n_nationkey"] for r in mid.collect()) == list(range(8, 17))
    # open window defaults to the current snapshot
    assert scan_iceberg_incremental(spark, d, s1).count() == 17
    # (s, s] is empty — refuse rather than return an empty scan silently
    with _pytest.raises(ValueError, match="no files appended"):
        scan_iceberg_incremental(spark, d, s3, s3)
    # reversed window
    with _pytest.raises(ValueError, match="older than"):
        iceberg_incremental_append_files(d, s2, s1)
    # unknown ids
    with _pytest.raises(ValueError, match="unknown from_snapshot_id"):
        iceberg_incremental_append_files(d, 12345)
    # a delete snapshot inside the range poisons it...
    files, _ = iceberg_snapshot_files(d, snapshot_id=s1)
    w.delete_positions([(files[0]["file_path"], 0)])
    with _pytest.raises(ValueError, match="non-append"):
        iceberg_incremental_append_files(d, s1)
    # ...but a range that ends BEFORE the delete stays readable
    assert len(iceberg_incremental_append_files(d, s1, s3)) == 2


def test_rewrite_and_expire_reclaims_orphans(spark, tmp_path):
    """Compaction + expiry invariants: the replace snapshot preserves the
    merge-on-read row set; expiry reclaims exactly the files only expired
    snapshots reach; ref-pinned snapshots refuse expiry (stock Iceberg's
    protection); expired time travel refuses; retain_last > history is a
    no-op."""
    import pytest as _pytest

    n = _nation(spark)
    d = str(tmp_path / "exp")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.where("n_nationkey < 12"))
    w.append(n.where("n_nationkey >= 12"))
    files, _ = iceberg_snapshot_files(d, snapshot_id=s1)
    w.delete_positions([(files[0]["file_path"], 3)])
    w.set_ref("keepme", snapshot_id=s1, ref_type="tag")
    w.rewrite_data()
    assert scan_iceberg_table(spark, d).count() == 24  # MoR applied, 1 file
    assert len(scan_iceberg_table(spark, d).inputFiles()) == 1
    # no-op below history length
    assert w.expire_snapshots(retain_last=99)["expired"] == 0
    # the tag pins s1 — refuse
    with _pytest.raises(ValueError, match="refs still pin"):
        w.expire_snapshots(retain_last=1)
    w.drop_ref("keepme")
    with _pytest.raises(ValueError, match="unknown ref"):
        w.drop_ref("keepme")
    stats = w.expire_snapshots(retain_last=1)
    assert stats["expired"] == 3  # s1, append#2, the MoR delete
    assert stats["removed_data_files"] == 3  # 2 data + 1 position-delete file
    assert scan_iceberg_table(spark, d).count() == 24
    with _pytest.raises(ValueError, match="not found"):
        scan_iceberg_table(spark, d, snapshot_id=s1)


def test_schema_evolution_field_id_projection(spark, tmp_path):
    """Schema evolution on the real layout: rename/add/drop are
    metadata-ONLY commits; readers project every data file to the CURRENT
    schema by field id against the manifest's embedded write-time schema —
    renamed columns re-alias, columns added later read as typed NULLs,
    dropped columns stop being projected, and files written under the
    current schema pass through untouched."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    n = _nation(spark)
    d = str(tmp_path / "evo")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.where("n_nationkey < 12"))  # file under the OLD schema
    w.rename_column("n_name", "nation_name")
    w.add_column("note", "string")
    w.append(
        n.where("n_nationkey >= 12")
        .withColumnRenamed("n_name", "nation_name")
        .withColumn("note", F.lit("new"))
    )
    full = scan_iceberg_table(spark, d)
    assert full.columns == ["n_nationkey", "nation_name", "n_regionkey", "note"]
    assert full.count() == 25
    old_rows = full.where("n_nationkey < 12")
    assert old_rows.where("note IS NULL").count() == 12  # added col → NULL
    assert old_rows.where("nation_name IS NOT NULL").count() == 12  # renamed
    # time travel to the pre-evolution snapshot keeps the current schema?
    # no — snapshot selection picks files, metadata version picks schema:
    # the v1 metadata still reads with the old names
    v1 = scan_iceberg_table(spark, d, version=1)
    assert "n_name" in v1.columns and v1.count() == 12
    # drop stops projecting the bytes (files untouched)
    w.drop_column("n_regionkey")
    after_drop = scan_iceberg_table(spark, d)
    assert "n_regionkey" not in after_drop.columns and after_drop.count() == 25
    # merge-on-read still works across evolution: delete one OLD-file row
    files, _ = iceberg_snapshot_files(d, snapshot_id=s1)
    w.delete_positions([(files[0]["file_path"], 3)])
    assert scan_iceberg_table(spark, d).count() == 24
    # guards
    with _pytest.raises(ValueError, match="unknown column"):
        w.rename_column("nope", "x")
    with _pytest.raises(ValueError, match="already exists"):
        w.add_column("note", "string")
    with _pytest.raises(ValueError, match="no Spark mapping"):
        w.add_column("bad", "uuidish")
    wp = IcebergTableWriter(spark, str(tmp_path / "pevo"), partition_by=["n_regionkey"])
    wp.append(n.where("n_regionkey = 0"))
    with _pytest.raises(ValueError, match="partition source"):
        wp.rename_column("n_regionkey", "rk")
    w2 = IcebergTableWriter(spark, str(tmp_path / "fresh"))
    with _pytest.raises(ValueError, match="no schema yet"):
        w2.rename_column("a", "b")


def test_partitioned_rewrite_one_file_per_partition(spark, tmp_path):
    """Partitioned compaction: many small files per partition collapse to
    ONE data file per live partition tuple under a single replace
    snapshot; the typed partition structs survive (partition_filter
    pruning still reads only matching files), and expiry then reclaims
    every pre-compaction file."""
    n = _nation(spark)
    d = str(tmp_path / "prw")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    # two small appends per region: 10 data files pre-compaction
    for region in range(5):
        w.append(n.where(f"n_regionkey = {region} and n_nationkey < 12"))
        w.append(n.where(f"n_regionkey = {region} and n_nationkey >= 12"))
    assert len(scan_iceberg_table(spark, d).inputFiles()) == 10
    w.rewrite_data()
    full = scan_iceberg_table(spark, d)
    assert full.count() == 25
    assert len(full.inputFiles()) == 5  # one file per live region
    pruned = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 2})
    assert len(pruned.inputFiles()) == 1  # typed partition structs intact
    assert pruned.count() == 5
    stats = w.expire_snapshots(retain_last=1)
    assert stats["expired"] == 10 and stats["removed_data_files"] == 10
    assert scan_iceberg_table(spark, d).count() == 25


def test_manifest_column_bounds_written_and_decoded(spark, ice):
    """The writer records per-column lower/upper bounds in each manifest
    entry (spec fields 125/128, Appendix D single-value serialization,
    sourced from the parquet footer), and the walker decodes them back to
    typed Python values keyed by column name."""
    d, _s1, _s2 = ice
    data, _ = iceberg_snapshot_files(d)
    assert len(data) == 2
    by_lo = sorted(data, key=lambda f: f["_bounds"]["n_nationkey"][0])
    assert by_lo[0]["_bounds"]["n_nationkey"] == (0, 11)
    assert by_lo[1]["_bounds"]["n_nationkey"] == (12, 24)
    # string bounds decode too (utf-8 single-value serialization)
    lo, hi = by_lo[0]["_bounds"]["n_name"]
    assert isinstance(lo, str) and lo <= hi


def test_stats_filter_skips_files_and_applies_residual(spark, ice):
    """stats_filter prunes data files by manifest bounds (driver-side,
    before any executor IO) AND applies the exact row-level residual —
    Iceberg's planner/engine split."""
    d, _s1, _s2 = ice
    # range living entirely in the second file: one file read, exact rows
    df = scan_iceberg_table(spark, d, stats_filter={"n_nationkey": (15, None)})
    assert len(df.inputFiles()) == 1
    assert sorted(r["n_nationkey"] for r in df.collect()) == list(range(15, 25))
    # straddling range: both files read, residual still exact
    df2 = scan_iceberg_table(spark, d, stats_filter={"n_nationkey": (10, 13)})
    assert len(df2.inputFiles()) == 2
    assert df2.count() == 4
    # disjoint range: zero files, exact empty result with the table schema
    empty = scan_iceberg_table(spark, d, stats_filter={"n_nationkey": (99, None)})
    assert empty.count() == 0
    assert set(empty.columns) >= {"n_nationkey", "n_name", "n_regionkey"}
    # unknown column refused loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        scan_iceberg_table(spark, d, stats_filter={"nope": (1, 2)})


def test_manifest_list_partition_summaries_prune_manifests(
    spark, tmp_path, monkeypatch
):
    """Two-level pruning: the manifest list's `partitions` field summaries
    (spec field 507, written per manifest in spec-field order) let the
    walker skip whole MANIFESTS — a partition-filtered scan opens ONE
    manifest Avro file (plus the manifest list), not all five. This is the
    metadata level above per-file partition structs: at 100 TB the planner
    walk is O(matching manifests), not O(all manifests)."""
    import lakefs_iceberg_catalog_spark.catalog.iceberg_format as icefmt

    n = _nation(spark)
    d = str(tmp_path / "mlp")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in range(5):
        w.append(n.filter(f"n_regionkey = {rk}"))

    reads: list[str] = []
    real = icefmt.read_container

    def counting(path):
        reads.append(path)
        return real(path)

    monkeypatch.setattr(icefmt, "read_container", counting)
    df = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 2})
    assert df.count() == 5
    lists = [p for p in reads if "/snap-" in p]
    manifests = [p for p in reads if "-m0.avro" in p]
    assert len(lists) == 1
    assert len(manifests) == 1  # 1 of 5 — four manifests never opened
    # unfiltered scan still reads them all
    reads.clear()
    assert scan_iceberg_table(spark, d).count() == 25
    assert len([p for p in reads if "-m0.avro" in p]) == 5


def test_metadata_tables_snapshots_history_manifests_files(spark, ice):
    """t.snapshots/.history/.manifests/.files over the real layout: rows
    from metadata only (no data IO), parent lineage chains, manifest
    counts, per-file record counts — mirroring stock Iceberg's metadata
    tables."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
    )

    d, s1, s2 = ice
    snaps = iceberg_metadata_table(spark, d, "snapshots").collect()
    assert [r["snapshot_id"] for r in snaps] == [s1, s2]
    assert [r["operation"] for r in snaps] == ["append", "append"]
    assert snaps[0]["parent_id"] is None and snaps[1]["parent_id"] == s1
    assert snaps[0]["committed_at_ms"] <= snaps[1]["committed_at_ms"]

    hist = iceberg_metadata_table(spark, d, "history").collect()
    assert [r["snapshot_id"] for r in hist] == [s1, s2]
    assert all(r["is_current_ancestor"] for r in hist)

    mans = iceberg_metadata_table(spark, d, "manifests").collect()
    assert len(mans) == 2  # current snapshot lists both live manifests
    assert {r["added_snapshot_id"] for r in mans} == {s1, s2}
    assert all(r["content"] == 0 for r in mans)
    assert sum(r["added_rows_count"] for r in mans) == 25

    files = iceberg_metadata_table(spark, d, "files").collect()
    assert len(files) == 2
    assert sum(r["record_count"] for r in files) == 25
    assert all(r["file_format"] == "PARQUET" for r in files)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown metadata table"):
        iceberg_metadata_table(spark, d, "nope")


def test_metadata_table_partitions(spark, tmp_path):
    """t.partitions: per-partition record/file/delete-file counts from the
    manifest walk — zero data IO, like stock Iceberg's PartitionsTable."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
    )

    n = _nation(spark)
    d = str(tmp_path / "ptable")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in range(5):
        w.append(n.filter(f"n_regionkey = {rk}"))
    w.append(n.filter("n_regionkey = 2").limit(2))  # second file for rk=2
    rows = {
        r["partition"]["n_regionkey"]: (r["record_count"], r["file_count"])
        for r in iceberg_metadata_table(spark, d, "partitions").collect()
    }
    assert rows["2"] == (7, 2)  # 5 rows + 2 re-appended, two files
    assert all(v == (5, 1) for k, v in rows.items() if k != "2")


def test_bucket_transform_matches_spec_vectors():
    """Iceberg spec Appendix B test values: murmur3_x86_32 over the
    type's hash encoding — int/long 34 → 2017239379, 'iceberg' →
    1210000089, date 2017-11-16 (17486 days) → -653330422 signed."""
    import datetime

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        _murmur3_32,
        iceberg_bucket,
    )

    def signed(u):
        return u - (1 << 32) if u >= (1 << 31) else u

    assert signed(_murmur3_32((34).to_bytes(8, "little", signed=True))) == 2017239379
    assert signed(_murmur3_32(b"iceberg")) == 1210000089
    assert (
        signed(_murmur3_32((17486).to_bytes(8, "little", signed=True)))
        == -653330422
    )
    assert iceberg_bucket(34, 16, "int") == iceberg_bucket(34, 16, "long") == 3
    assert iceberg_bucket("iceberg", 16, "string") == 9
    assert iceberg_bucket(datetime.date(2017, 11, 16), 16, "date") == (
        (-653330422 & 0x7FFFFFFF) % 16
    )


def test_hidden_partition_transforms_write_scan_prune(spark, tmp_path):
    """Hidden partitioning on the real layout: days()/truncate()/bucket()
    partition specs write TRANSFORMED values into the manifest partition
    structs (+ manifest-list summaries), and hidden_filter projects a
    SOURCE-column predicate through the transform — only matching files
    open, the exact row residual applies, and the user never names the
    partition layout."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        IcebergTableWriter,
        iceberg_bucket,
        read_table_metadata,
    )

    n = _nation(spark)
    # truncate(n_nationkey, 10): three width-10 key ranges
    d = str(tmp_path / "trunc")
    w = IcebergTableWriter(spark, d, partition_by=["truncate(n_nationkey, 10)"])
    for lo in (0, 10, 20):
        w.append(n.filter(f"n_nationkey >= {lo} and n_nationkey < {lo + 10}"))
    spec = read_table_metadata(d)["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "truncate[10]"
    assert spec["name"] == "n_nationkey_trunc"
    h = scan_iceberg_table(spark, d, hidden_filter={"n_nationkey": 13})
    assert len(h.inputFiles()) == 1
    assert [r["n_nationkey"] for r in h.collect()] == [13]

    # bucket(n_regionkey, 2): appends grouped by the spec's murmur3 bucket
    d2 = str(tmp_path / "bk")
    w2 = IcebergTableWriter(spark, d2, partition_by=["bucket(n_regionkey, 2)"])
    by_bucket: dict[int, list[int]] = {}
    for rk in range(5):
        by_bucket.setdefault(iceberg_bucket(rk, 2, "int"), []).append(rk)
    for b in sorted(by_bucket):
        w2.append(n.filter(F.col("n_regionkey").isin(by_bucket[b])))
    hb = scan_iceberg_table(spark, d2, hidden_filter={"n_regionkey": 2})
    assert len(hb.inputFiles()) == 1  # one bucket's file of two
    assert hb.count() == 5 and {r["n_regionkey"] for r in hb.collect()} == {2}
    # unknown source column refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="feed no partition field"):
        scan_iceberg_table(spark, d2, hidden_filter={"n_name": "KENYA"})
    # schema evolution guard still resolves transform sources
    with _pytest.raises(ValueError, match="partition source"):
        w2.rename_column("n_regionkey", "rk")


def test_days_transform_rewrite_and_partition_summaries(spark, tmp_path):
    """days(ts) over a timestamp column: appends single-valued in the
    TRANSFORMED day (many timestamps, one day each), hidden_filter prunes
    manifests AND files, and rewrite_data re-enumerates partition tuples
    through the transform (one compacted file per day)."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        IcebergTableWriter,
    )
    from lakefs_iceberg_catalog_spark.tables import table as t

    from .conftest import SF_DIR

    e = t(spark, SF_DIR, "events").select("event_id", "user_id", "ts", "value")
    days = [
        r[0]
        for r in e.select(F.to_date("ts").alias("d")).distinct().orderBy("d").limit(3).collect()
    ]
    sub = e.filter(F.to_date("ts").isin(days))
    d = str(tmp_path / "days")
    w = IcebergTableWriter(spark, d, partition_by=["days(ts)"])
    for day in days:
        w.append(sub.filter(F.to_date("ts") == day))
    import datetime

    probe = datetime.datetime.combine(days[1], datetime.time())
    h = scan_iceberg_table(spark, d, hidden_filter={"ts": probe})
    assert len(h.inputFiles()) == 1  # one day's file of three
    want = sub.filter(F.to_date("ts") == days[1]).filter(F.col("ts") == probe)
    assert h.count() == want.count()
    # compaction re-enumerates partition tuples through the transform
    w.rewrite_data()
    full = scan_iceberg_table(spark, d)
    assert full.count() == sub.count()
    assert len(full.inputFiles()) == 3  # one compacted file per day


def test_snapshot_summary_stats_and_metadata_log(spark, ice):
    """Stock-shaped snapshot summaries (string-valued commit stats per
    SnapshotSummary convention) and the metadata-log chain of previous
    metadata files."""
    d, s1, s2 = ice
    md = read_table_metadata(d)
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    sm1, sm2 = by_id[s1]["summary"], by_id[s2]["summary"]
    assert sm1["operation"] == sm2["operation"] == "append"
    assert sm1["added-data-files"] == sm2["added-data-files"] == "1"
    assert sm1["added-records"] == "12" and sm2["added-records"] == "13"
    assert sm1["total-records"] == "12" and sm2["total-records"] == "25"
    assert sm1["total-data-files"] == "1" and sm2["total-data-files"] == "2"
    assert sm2["added-delete-files"] == "0" and sm2["total-delete-files"] == "0"
    # metadata-log: v2's log holds exactly v1, and the file exists
    log = md["metadata-log"]
    assert len(log) == 1
    assert log[0]["metadata-file"].endswith("v1.metadata.json")
    assert os.path.exists(log[0]["metadata-file"])


def test_sorted_clustered_rewrite_enables_stats_skipping(spark, tmp_path):
    """set_sort_order + rewrite_data(target_files=N): compaction writes N
    range-clustered files per partition whose tight manifest bounds let
    stats_filter open only straddling files — the sort-order/data-skipping
    composition stock Iceberg's sort rewrite strategy exists for. The
    order persists in metadata (spec sort-orders)."""
    n = _nation(spark)
    d = str(tmp_path / "clustered")
    w = IcebergTableWriter(spark, d)
    # three interleaved appends: every file spans nearly the full keyspace
    for m in range(3):
        w.append(n.filter(f"n_nationkey % 3 = {m}"))
    pre = scan_iceberg_table(spark, d, stats_filter={"n_nationkey": (0, 5)})
    assert len(pre.inputFiles()) == 3  # interleaved bounds: nothing skips
    w.set_sort_order(["n_nationkey"])
    md = read_table_metadata(d)
    assert md["default-sort-order-id"] == 1
    assert md["sort-orders"][1]["fields"][0]["transform"] == "identity"
    w.rewrite_data(target_files=3)
    full = scan_iceberg_table(spark, d)
    assert full.count() == 25
    n_files = len(full.inputFiles())
    assert 2 <= n_files <= 3  # range buckets (sampled partitioner)
    post = scan_iceberg_table(spark, d, stats_filter={"n_nationkey": (0, 5)})
    assert len(post.inputFiles()) < n_files  # clustering makes bounds bite
    assert sorted(r["n_nationkey"] for r in post.collect()) == list(range(6))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sort columns not in schema"):
        w.set_sort_order(["nope"])


def test_partition_spec_evolution_per_file_pruning(spark, tmp_path):
    """ALTER-TABLE-style PARTITION SPEC EVOLUTION: a metadata-only commit
    installs a new default spec; old files keep their spec id and layout
    (zero rewrite), new appends use the new one, and hidden_filter prunes
    EACH FILE BY ITS OWN SPEC — old-spec files lacking the field are kept
    and row-filtered exactly. partition_filter refuses mixed-spec tables
    loudly."""
    n = _nation(spark)
    d = str(tmp_path / "specevo")
    # spec 0: identity on n_regionkey — one append for regions 0-1
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in (0, 1):
        w.append(n.filter(f"n_regionkey = {rk}"))
    w.evolve_partition_spec(["truncate(n_nationkey, 10)"])
    md = read_table_metadata(d)
    assert md["default-spec-id"] == 1
    assert [sp["spec-id"] for sp in md["partition-specs"]] == [0, 1]
    # field ids stay globally unique across specs
    ids = [f["field-id"] for sp in md["partition-specs"] for f in sp["fields"]]
    assert ids == [1000, 1001]
    # spec 1 appends: the remaining regions, keyed by nationkey ranges
    rest = n.filter("n_regionkey >= 2")
    for lo in (0, 10, 20):
        w.append(rest.filter(f"n_nationkey >= {lo} and n_nationkey < {lo + 10}"))
    full = scan_iceberg_table(spark, d)
    assert full.count() == 25
    # hidden_filter on the NEW spec's source column: new-spec files prune
    # by range, OLD-spec files are kept (they may hold matching rows) and
    # the residual keeps the result exact
    h = scan_iceberg_table(spark, d, hidden_filter={"n_nationkey": 13})
    got = [r["n_nationkey"] for r in h.collect()]
    assert got == [13]
    # 2 old-spec files (kept) + exactly 1 of 3 new-spec files
    assert len(h.inputFiles()) == 3
    # hidden_filter on the OLD spec's source column: old files prune,
    # new-spec files are kept and row-filtered
    h2 = scan_iceberg_table(spark, d, hidden_filter={"n_regionkey": 1})
    assert {r["n_regionkey"] for r in h2.collect()} == {1}
    assert len(h2.inputFiles()) == 4  # 1 of 2 old files + all 3 new files
    import pytest as _pytest

    # partition_filter over the spec-evolved table (round-9 lift): each
    # file prunes under its OWN spec — old-spec files compare values,
    # new-spec files lacking the field are kept and row-filtered exactly
    pf = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 1})
    assert {r["n_regionkey"] for r in pf.collect()} == {1}
    assert len(pf.inputFiles()) == 4  # 1 of 2 old files + all 3 new
    # transform fields are not identity values: partition_filter rejects
    # them and points at hidden_filter (the source-column contract)
    with _pytest.raises(ValueError, match="identity fields only"):
        scan_iceberg_table(
            spark, d, partition_filter={"n_nationkey_trunc": 10}
        )
    # MoR position deletes AFTER spec evolution (VERDICT r10 #5): key 0
    # lives in an old-spec file (region 0), key 13 in a new-spec file —
    # each delete file groups under its target's OWN spec, one content=1
    # manifest per spec, each entry carrying that spec's partition struct
    w.delete_where_mor("n_nationkey = 0 or n_nationkey = 13")
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {0, 13}
    _, dels = iceberg_snapshot_files(d)
    tuples = {f["_spec_id"]: f["partition"] for f in dels}
    assert tuples == {0: {"n_regionkey": 0}, 1: {"n_nationkey_trunc": 10}}
    # hidden_filter prunes the old-spec delete file alongside its data
    _, d_r1 = iceberg_snapshot_files(
        d, partition_filter={"n_regionkey": 1, "n_nationkey_trunc": 20}
    )
    assert d_r1 == []


def test_add_files_partitioned_derives_tuple_from_footer(spark, tmp_path):
    """add_files on an IDENTITY-partitioned table: each imported file's
    partition tuple derives from its footer bounds (min == max proves
    single-valuedness); the imported file joins partition pruning
    immediately; straddling files and transform specs refuse."""
    from lakefs_iceberg_catalog_spark.catalog.parquet_io import (
        write_single_parquet,
    )

    n = _nation(spark)
    d = str(tmp_path / "addpart")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in (0, 1):
        w.append(n.filter(f"n_regionkey = {rk}"))
    legacy = str(tmp_path / "legacy-r2.parquet")
    write_single_parquet(n.filter("n_regionkey = 2"), legacy)
    w.add_files([legacy])
    full = scan_iceberg_table(spark, d)
    assert full.count() == 15
    pruned = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 2})
    assert {r["n_regionkey"] for r in pruned.collect()} == {2}
    assert len(pruned.inputFiles()) == 1  # the imported file, pruned to
    # a file spanning two partition values refuses loudly
    bad = str(tmp_path / "straddle.parquet")
    write_single_parquet(n.filter("n_regionkey >= 3"), bad)
    with pytest.raises(ValueError, match="exactly one partition"):
        w.add_files([bad])
    # footer min/max EXCLUDE nulls — a file mixing NULLs with one value
    # must refuse (bounds alone would claim single-valuedness), while an
    # all-NULL partition column imports as the NULL partition
    from pyspark.sql import functions as F

    mixed = str(tmp_path / "mixed-null.parquet")
    write_single_parquet(
        n.filter("n_regionkey = 3").withColumn(
            "n_regionkey",
            F.when(F.col("n_nationkey") == 3, None).otherwise(
                F.col("n_regionkey")
            ),
        ),
        mixed,
    )
    with pytest.raises(ValueError, match="mixes .* NULLs"):
        w.add_files([mixed])
    allnull = str(tmp_path / "all-null.parquet")
    write_single_parquet(
        n.filter("n_regionkey = 3").withColumn(
            "n_regionkey", F.lit(None).cast("int")
        ),
        allnull,
    )
    w.add_files([allnull])
    assert scan_iceberg_table(spark, d).count() == 20  # 15 + 5 NULL-region
    # transform-partitioned imports (VERDICT r8 #7): bucket[N] needs a
    # proven single source value (the hash is not monotone)...
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_bucket,
    )

    dt = str(tmp_path / "addtrans")
    wt = IcebergTableWriter(spark, dt, partition_by=["bucket(n_nationkey, 4)"])
    wt.append(n.filter("n_nationkey = 0"))
    single = str(tmp_path / "single-key.parquet")
    write_single_parquet(n.filter("n_nationkey = 7"), single)
    wt.add_files([single])
    tf, _ = iceberg_snapshot_files(dt)
    got = {f["file_path"]: f["partition"] for f in tf}
    assert got[single] == {"n_nationkey_bucket": iceberg_bucket(7, 4, "int")}
    # ...while a value-spanning file refuses even if both values hash to
    # the same bucket — the range proves nothing about the hash
    with pytest.raises(ValueError, match="exactly one partition"):
        wt.add_files([legacy])
    # monotone transforms accept spanning values INSIDE one partition and
    # refuse across: truncate[10] over n_nationkey
    dtr = str(tmp_path / "addtrunc")
    wtr = IcebergTableWriter(
        spark, dtr, partition_by=["truncate(n_nationkey, 10)"]
    )
    wtr.append(n.filter("n_nationkey = 0"))
    span_in = str(tmp_path / "span-in.parquet")
    write_single_parquet(n.filter("n_nationkey between 11 and 19"), span_in)
    wtr.add_files([span_in])  # [11, 19] all truncate to 10: accepted
    tfr, _ = iceberg_snapshot_files(dtr)
    assert {f["partition"]["n_nationkey_trunc"] for f in tfr} == {0, 10}
    span_out = str(tmp_path / "span-out.parquet")
    write_single_parquet(n.filter("n_nationkey between 19 and 21"), span_out)
    with pytest.raises(ValueError, match="spans partitions"):
        wtr.add_files([span_out])


def test_cow_delete_across_spec_evolution(spark, tmp_path):
    """A spec-evolved table must take a CoW DELETE (VERDICT r7 #6): the
    manifest rewrite dispatches per spec id — old-spec manifests rewrite
    under their OWN partition struct, the replacement rows land as
    per-tuple files under the CURRENT spec — and time travel to the
    pre-delete snapshot stays intact."""
    n = _nation(spark)
    d = str(tmp_path / "specevocow")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in (0, 1):
        w.append(n.filter(f"n_regionkey = {rk}"))
    w.evolve_partition_spec(["truncate(n_nationkey, 10)"])
    rest = n.filter("n_regionkey >= 2")
    for lo in (0, 10, 20):
        w.append(rest.filter(f"n_nationkey >= {lo} and n_nationkey < {lo + 10}"))
    pre_snap = w._current_snapshot_id
    n_before = scan_iceberg_table(spark, d).count()
    # keys 4 and 13 live in different files under DIFFERENT specs
    victims = {
        r["n_nationkey"]
        for r in scan_iceberg_table(spark, d)
        .filter("n_nationkey in (4, 13)")
        .collect()
    }
    assert victims == {4, 13}
    w.delete_where_cow("n_nationkey in (4, 13)")
    live = scan_iceberg_table(spark, d)
    assert live.count() == n_before - 2
    assert {r["n_nationkey"] for r in live.collect()} == (
        set(range(25)) - {4, 13}
    )
    # old-spec pruning still works post-rewrite (per-spec partition struct
    # survived the manifest rewrite)
    h = scan_iceberg_table(spark, d, hidden_filter={"n_regionkey": 1})
    assert {r["n_regionkey"] for r in h.collect()} == {1}
    # time travel to the pre-delete snapshot sees every row
    assert scan_iceberg_table(spark, d, snapshot_id=pre_snap).count() == n_before


def test_streaming_epoch_gate_and_rollback(spark, ice):
    """Streaming exactly-once via snapshot-summary epoch ids (the
    Iceberg-sink commit-dedup mechanism) and metadata-only ROLLBACK."""
    d, s1, s2 = ice
    # re-open semantics not modeled: use a fresh table for the epoch gate
    import os as _os

    w = IcebergTableWriter(spark, _os.path.join(d, "..", "gate"))
    n = _nation(spark)
    e0 = w.append(n.filter("n_nationkey < 12"), epoch=("app", 0))
    e1 = w.append(n.filter("n_nationkey >= 12"), epoch=("app", 1))
    assert scan_iceberg_table(spark, w.table_dir).count() == 25
    # duplicate epoch delivery: complete no-op returning the current head
    assert w.append(n.filter("n_nationkey >= 12"), epoch=("app", 1)) == e1
    assert scan_iceberg_table(spark, w.table_dir).count() == 25
    md = read_table_metadata(w.table_dir)
    by_id = {s["snapshot-id"]: s for s in md["snapshots"]}
    assert by_id[e0]["summary"]["streaming-epoch"] == "0"
    assert by_id[e1]["summary"]["streaming-epoch"] == "1"
    # rollback: pointer-only, zero data IO, history intact
    w.rollback_to_snapshot(e0)
    assert scan_iceberg_table(spark, w.table_dir).count() == 12
    md = read_table_metadata(w.table_dir)
    assert md["current-snapshot-id"] == e0
    assert len(md["snapshots"]) == 2  # later snapshot stays in history
    # a new append after rollback chains its parent to the rollback target
    e2 = w.append(n.filter("n_nationkey = 24"))
    assert scan_iceberg_table(spark, w.table_dir).count() == 13
    md = read_table_metadata(w.table_dir)
    new = next(s for s in md["snapshots"] if s["snapshot-id"] == e2)
    assert new["parent-snapshot-id"] == e0
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown snapshot"):
        w.rollback_to_snapshot(12345)


def test_rollback_across_replace_and_expire_reachability(spark, tmp_path):
    """Two ADVICE r7 defects: (a) rollback must rebuild the writer's
    manifest set from the target snapshot's OWN manifest list — filtering
    by sequence number breaks once a rewrite_data REPLACED the list, so a
    post-rollback commit published a head missing the rolled-back-to
    rows; (b) expire must retain by REACHABILITY from the current head —
    after rollback, keeping the newest N by commit order deleted the live
    head's files."""
    n = _nation(spark)
    d = str(tmp_path / "rb")
    w = IcebergTableWriter(spark, d)
    s0 = w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey >= 10"))
    # replace: rewrite_data swaps the whole manifest list
    w.rewrite_data()
    assert scan_iceberg_table(spark, d).count() == 25
    # roll back to the first append, then commit something new: the new
    # head must hold s0's 10 rows + the new row (pre-fix: 1 row only)
    w.rollback_to_snapshot(s0)
    assert scan_iceberg_table(spark, d).count() == 10
    w.append(n.filter("n_nationkey = 10"))
    live = scan_iceberg_table(spark, d)
    assert live.count() == 11
    assert {r["n_nationkey"] for r in live.collect()} == set(range(11))
    # expire after rollback: the live head (an OLDER snapshot by commit
    # order) and its ancestors survive; the rolled-away rewrite expires
    stats = w.expire_snapshots(retain_last=2)
    assert stats["expired"] >= 1
    again = scan_iceberg_table(spark, d)
    assert again.count() == 11  # every data file still readable
    md = read_table_metadata(d)
    ids = {s["snapshot-id"] for s in md["snapshots"]}
    assert md["current-snapshot-id"] in ids
    # time travel to the retained ancestor still works
    assert scan_iceberg_table(spark, d, snapshot_id=s0).count() == 10
    # sharpest expire case: head OLDER than later snapshots, no commit in
    # between — positional retention would delete the head itself
    d2 = str(tmp_path / "rb2")
    w2 = IcebergTableWriter(spark, d2)
    t0 = w2.append(n.filter("n_nationkey < 5"))
    w2.append(n.filter("n_nationkey >= 5"))
    w2.rollback_to_snapshot(t0)
    stats2 = w2.expire_snapshots(retain_last=1)
    assert stats2["expired"] == 1  # the rolled-away newer snapshot
    md2 = read_table_metadata(d2)
    assert md2["current-snapshot-id"] == t0
    assert scan_iceberg_table(spark, d2).count() == 5


def test_add_files_registers_without_rewrite(spark, tmp_path, ice):
    """add_files: existing parquet registered as one append snapshot —
    metadata cost only, bounds from footers, stats skipping works on the
    imported files; schema mismatches refuse."""
    from lakefs_iceberg_catalog_spark.catalog.parquet_io import (
        write_single_parquet,
    )

    d, _s1, _s2 = ice
    n = _nation(spark)
    legacy = str(tmp_path / "legacy.parquet")
    write_single_parquet(n.filter("n_nationkey < 7"), legacy)
    w = IcebergTableWriter(spark, str(tmp_path / "imp"))
    w.append(n.filter("n_nationkey >= 20"))
    before = scan_iceberg_table(spark, w.table_dir).count()
    snap = w.add_files([legacy])
    full = scan_iceberg_table(spark, w.table_dir)
    assert full.count() == before + 7
    # imported file carries bounds: stats skipping opens only it
    pruned = scan_iceberg_table(
        spark, w.table_dir, stats_filter={"n_nationkey": (0, 3)}
    )
    assert len(pruned.inputFiles()) == 1 and pruned.count() == 4
    md = read_table_metadata(w.table_dir)
    assert (
        next(s for s in md["snapshots"] if s["snapshot-id"] == snap)[
            "summary"
        ]["added-data-files"]
        == "1"
    )
    import pytest as _pytest

    bad = str(tmp_path / "bad.parquet")
    write_single_parquet(n.select("n_nationkey"), bad)
    with _pytest.raises(ValueError, match="schema mismatch"):
        w.add_files([bad])
    wp = IcebergTableWriter(
        spark, str(tmp_path / "imp2"), partition_by=["n_regionkey"]
    )
    wp.append(n.filter("n_regionkey = 0"))
    # partitioned import works for single-partition files now; a file
    # STRADDLING partition values still refuses (legacy spans regions)
    with _pytest.raises(ValueError, match="exactly one partition"):
        wp.add_files([legacy])


def test_delete_where_cow_rewrites_touched_manifests(spark, tmp_path):
    """Copy-on-write DELETE: affected manifests rewrite with
    EXISTING/DELETED statuses and resolved sequence numbers; untouched
    files and manifests survive byte-identical; surviving rows of touched
    files land in one new ADDED file under an `overwrite` snapshot; time
    travel to the pre-delete snapshot still sees every row."""
    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "cow")
    w = IcebergTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.append(n.filter(F.col("n_nationkey").between(lo, lo + 9)))
    pre_snap = read_table_metadata(d)["current-snapshot-id"]
    pre_paths = {f["file_path"] for f in iceberg_data_files(d)}
    w.delete_where_cow("n_nationkey in (13, 14)")
    full = scan_iceberg_table(spark, d)
    assert full.count() == 23
    assert full.filter("n_nationkey in (13, 14)").count() == 0
    post = iceberg_data_files(d)
    post_paths = {f["file_path"] for f in post}
    # two untouched original files survive IN PLACE; one new survivor file
    assert len(pre_paths & post_paths) == 2 and len(post_paths) == 3
    md = read_table_metadata(d)
    assert md["snapshots"][-1]["summary"]["operation"] == "overwrite"
    # the rewritten manifest carries EXISTING/DELETED counts
    from lakefs_iceberg_catalog_spark.catalog.avro_io import (
        read_container as rc,
    )

    snap = md["snapshots"][-1]
    _, mfs = rc(snap["manifest-list"])
    rewritten = [m for m in mfs if m["deleted_files_count"] == 1]
    assert len(rewritten) == 1
    assert rewritten[0]["existing_files_count"] == 0  # file was the only one
    _, entries = rc(rewritten[0]["manifest_path"])
    assert [e["status"] for e in entries] == [STATUS_DELETED]
    assert entries[0]["sequence_number"] is not None  # resolved, not null
    # pre-delete snapshot still complete
    assert scan_iceberg_table(spark, d, snapshot_id=pre_snap).count() == 25
    import pytest as _pytest

    with _pytest.raises(ValueError, match="matches no rows"):
        w.delete_where_cow("n_nationkey = 999")


def test_merge_upsert_cow_touched_file_granularity(spark, tmp_path):
    """Iceberg MERGE copy-on-write: only files holding matched keys
    rewrite; untouched files survive in place; result = upserted rows."""
    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "mergecow")
    w = IcebergTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.append(n.filter(F.col("n_nationkey").between(lo, lo + 9)))
    pre_paths = {f["file_path"] for f in iceberg_data_files(d)}
    src = spark.createDataFrame(
        [(13, "UP_13", 9), (30, "NEW_30", 9)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    w.merge_upsert_cow(src, ["n_nationkey"])
    post_paths = {f["file_path"] for f in iceberg_data_files(d)}
    assert len(pre_paths & post_paths) == 2  # only the 10-19 file rewrote
    back = scan_iceberg_table(spark, d)
    assert back.count() == 26
    got = {r["n_nationkey"]: r["n_name"] for r in back.collect()}
    assert got[13] == "UP_13" and got[30] == "NEW_30"
    assert back.filter("n_nationkey = 12").count() == 1  # survivor kept


def test_mor_delete_over_100k_matches_stays_off_driver(spark, tmp_path):
    """VERDICT r9 #1 gate (Iceberg side): a predicate merge-on-read
    DELETE matching far more rows than the driver materialization
    ceiling (sf0.1 lineitem, l_quantity <= 25 matches ~300k of 600k)
    must commit position-delete files built on the EXECUTORS — the
    matched ordinals group per target data file and each group streams
    straight to its file-scoped delete parquet; the driver receives
    only per-file descriptors. Before the fix this raised
    MaterializeCeilingError at bounded_rows(100k)."""
    from lakefs_iceberg_catalog_spark.tables import table

    sf01 = "/root/testdata/sf0.1"
    if not os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata not present")
    li = table(spark, sf01, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    d = str(tmp_path / "bigmor")
    w = IcebergTableWriter(spark, d)
    w.append(li)
    pre, _ = iceberg_snapshot_files(d)
    w.delete_where_mor("l_quantity <= 25")
    post, dels = iceberg_snapshot_files(d)
    assert {f["file_path"] for f in pre} == {
        f["file_path"] for f in post
    }  # zero data rewritten
    assert len(dels) == 1 and dels[0]["content"] == 1  # file-scoped
    assert dels[0]["record_count"] == 300027
    assert scan_iceberg_table(spark, d).count() == 600000 - 300027
    # rewrite_position_delete_files at the same scale: a second
    # overlapping MoR delete (~120k rows, ~60k already marked), then the
    # rewrite consolidates BOTH delete files into one — dedup'd row
    # count proven off-driver (the 420k-pair distributed read would blow
    # the materialization ceiling if it funneled through the driver)
    w.delete_where_mor("l_quantity between 20 and 30")
    _, dels2 = iceberg_snapshot_files(d)
    assert len(dels2) == 2
    w.rewrite_position_deletes()
    _, dels3 = iceberg_snapshot_files(d)
    assert len(dels3) == 1 and dels3[0]["content"] == 1
    from lakefs_iceberg_catalog_spark.operators.util import bounded_rows

    expected_dead = 600000 - bounded_rows(
        li.filter("NOT (l_quantity <= 25 OR l_quantity between 20 and 30)")
        .groupBy().count()
    )[0][0]
    assert dels3[0]["record_count"] == expected_dead  # duplicates collapsed
    assert scan_iceberg_table(spark, d).count() == 600000 - expected_dead


def test_changelog_scan_replace_skips_and_cow_diffs(spark, tmp_path):
    """Changelog scan invariants beyond the oracle-checked key: a
    `replace` (compaction) snapshot inside the window contributes NO
    change rows (the Iceberg analog of Delta's dataChange=false rule);
    deletes already dead before the window do not re-surface; a window
    crossing a copy-on-write rewrite reports exactly the NET row changes
    (round 12 — previously a loud refusal), and a valid window whose
    snapshots all contribute nothing returns an EMPTY typed frame."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_changelog,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "changelog")
    w = IcebergTableWriter(spark, d)
    v1 = w.append(n.filter("n_nationkey < 10"))
    w.delete_where_mor("n_nationkey = 3")
    v2 = w.rewrite_data()  # replace: folds the delete, rewrites files
    v3 = w.append(n.filter("n_nationkey >= 10"))
    # window (v2, v3]: only the append's inserts
    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=v2).collect()
    assert {r["_change_type"] for r in ch} == {"insert"}
    assert sorted(r["n_nationkey"] for r in ch) == list(range(10, 25))
    # window (v1, v3] spans the replace: the delete (seq 2) + the append
    # (seq 4); the replace itself contributes nothing
    ch2 = scan_iceberg_changelog(spark, d, from_snapshot_id=v1)
    by_kind = {}
    for r in ch2.collect():
        by_kind.setdefault((r["_change_type"], r["_commit_seq"]), []).append(
            r["n_nationkey"]
        )
    assert by_kind[("delete", 2)] == [3]
    assert sorted(by_kind[("insert", 4)]) == list(range(10, 25))
    assert set(by_kind) == {("delete", 2), ("insert", 4)}
    # a delete already applied BEFORE the window does not re-surface:
    # window (v2, head] after another MoR delete reports only that one
    v4 = w.delete_where_mor("n_nationkey = 20")
    ch3 = scan_iceberg_changelog(spark, d, from_snapshot_id=v3).collect()
    assert [(r["_change_type"], r["n_nationkey"]) for r in ch3] == [
        ("delete", 20)
    ]
    # CoW rewrite in the window (round 12; was a refusal): the rewrite
    # removes the touched file and re-adds survivors — the diff reports
    # exactly the one deleted row; carried-over rows cancel, and the row
    # MoR-deleted before the rewrite (20) does not re-surface
    v5 = w.delete_where_cow("n_nationkey = 21")
    ch4 = scan_iceberg_changelog(spark, d, from_snapshot_id=v4).collect()
    assert [(r["_change_type"], r["n_nationkey"]) for r in ch4] == [
        ("delete", 21)
    ]
    # the MoR delete + CoW delete window reports both, each under its seq
    ch5 = scan_iceberg_changelog(spark, d, from_snapshot_id=v3).collect()
    assert sorted(
        (r["_change_type"], r["n_nationkey"]) for r in ch5
    ) == [("delete", 20), ("delete", 21)]
    assert len({r["_commit_seq"] for r in ch5}) == 2
    # valid window with ONLY maintenance commits: empty typed frame
    w.rewrite_data()
    empty = scan_iceberg_changelog(spark, d, from_snapshot_id=v5)
    assert empty.count() == 0
    assert empty.columns[-2:] == ["_change_type", "_commit_seq"]


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish invariants beyond the oracle-checked key:
    staging refuses on an empty table; the staged snapshot is absent
    from snapshot-log (it never became current) and invisible to a
    CHANGELOG window spanning its sequence number (it is off the commit
    chain); publish by snapshot id works; a later MoR delete composes
    with the published rows; cherry-picking an unknown id refuses."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        read_table_metadata,
        scan_iceberg_changelog,
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "wap")
    w = IcebergTableWriter(spark, d)
    with _pytest.raises(ValueError, match="existing table head"):
        w.append(n.filter("n_nationkey < 5"), wap_id="w0")
    v1 = w.append(n.filter("n_nationkey < 12"))
    staged = w.append(n.filter("n_nationkey >= 12"), wap_id="w1")
    meta = read_table_metadata(d)
    assert staged not in {
        e["snapshot-id"] for e in meta["snapshot-log"]
    }
    # a post-stage commit on main does NOT carry the staged manifests
    v2 = w.delete_where_mor("n_nationkey = 3")
    assert sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    ) == [k for k in range(12) if k != 3]
    # changelog (v1, head]: only the MoR delete — the staged snapshot's
    # sequence number is inside the window but it is off the chain
    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=v1).collect()
    assert [(r["_change_type"], r["n_nationkey"]) for r in ch] == [
        ("delete", 3)
    ]
    with _pytest.raises(ValueError, match="no staged snapshot"):
        w.cherry_pick_snapshot(wap_id="nope")
    pub = w.cherry_pick_snapshot(snapshot_id=staged)
    assert sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    ) == [k for k in range(25) if k != 3]
    # the publish surfaces in the changelog as that commit's inserts
    ch2 = scan_iceberg_changelog(spark, d, from_snapshot_id=v2).collect()
    assert {r["_change_type"] for r in ch2} == {"insert"}
    assert sorted(r["n_nationkey"] for r in ch2) == list(range(12, 25))
    meta2 = read_table_metadata(d)
    assert meta2["refs"]["main"]["snapshot-id"] == pub


def test_branch_write_divergence_and_guards(spark, tmp_path):
    """Branch-write invariants beyond the oracle-checked key: a main
    commit AFTER the fork diverges the histories and fast_forward
    refuses; wap_id+branch is rejected; an unknown branch refuses; and
    main commits never carry branch manifests."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "branchdiv")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    with _pytest.raises(ValueError, match="not both"):
        w.append(n.filter("n_nationkey >= 20"), branch="b", wap_id="x")
    w.append(n.filter("n_nationkey between 10 and 14"), branch="b")
    # diverge main, then fast-forward must refuse
    w.append(n.filter("n_nationkey >= 20"))
    assert sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    ) == list(range(10)) + list(range(20, 25))  # no branch rows on main
    with _pytest.raises(ValueError, match="diverged"):
        w.fast_forward("b")
    with _pytest.raises(ValueError, match="no branch ref"):
        w.fast_forward("nope")
    # the branch still reads consistently at its own head
    assert sorted(
        r["n_nationkey"]
        for r in scan_iceberg_table(spark, d, ref="b").collect()
    ) == list(range(15))


def test_dropped_branch_recreated_forks_from_main(spark, tmp_path):
    """drop_ref forgets the branch's manifest set: a branch re-created
    under the same name forks from the CURRENT main, so fast_forward
    publishes main's commits made since the drop plus the new branch
    commit — none of the dropped branch's rows, none of main's lost."""
    n = _nation(spark)
    d = str(tmp_path / "rebranch")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_regionkey = 0"))
    w.append(n.filter("n_regionkey = 1"), branch="b")
    w.drop_ref("b")
    w.append(n.filter("n_regionkey = 2"))
    w.append(n.filter("n_regionkey = 3"), branch="b")
    w.fast_forward("b")
    back = scan_iceberg_table(spark, d)
    assert back.count() == n.filter("n_regionkey in (0, 2, 3)").count()
    assert sorted(
        r["n_regionkey"]
        for r in back.select("n_regionkey").distinct().collect()
    ) == [0, 2, 3]


def test_avro_container_writer_interop(spark, tmp_path):
    """The from-scratch Avro container ENCODER round-trips against BOTH
    independent readers: this module's from-scratch decoder and the real
    Apache Avro Java library — plus the block-header-only row counter."""
    from lakefs_iceberg_catalog_spark.catalog.avro_io import (
        count_container_rows,
        read_container,
        write_container,
    )

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "k", "type": "int"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
            {"name": "b", "type": "boolean"},
            {"name": "l", "type": "long"},
        ],
    }
    recs = [
        {
            "k": i,
            "s": None if i % 7 == 0 else f"säê-{i}",  # non-ASCII utf-8
            "d": i * 1.5,
            "b": i % 2 == 0,
            "l": (-1) ** i * i * 10**10,  # negative zig-zag longs
        }
        for i in range(2500)
    ]
    p = str(tmp_path / "t.avro")
    assert write_container(p, schema, iter(recs), codec="deflate") == 2500
    meta, back = read_container(p)
    assert back == recs
    assert count_container_rows(p) == 2500  # no block decode
    # the REAL Apache Avro reader (bundled jar) agrees
    jvm = spark.sparkContext._jvm
    fr = jvm.org.apache.avro.file.DataFileReader(
        jvm.java.io.File(p), jvm.org.apache.avro.generic.GenericDatumReader()
    )
    n = 0
    first = None
    while fr.hasNext():
        rec = fr.next()
        if first is None:
            first = str(rec.get("s"))
        n += 1
    fr.close()
    assert n == 2500 and first == "None"  # py4j maps Java null -> None


def test_avro_data_files_changelog_and_evolution(spark, tmp_path):
    """AVRO data files compose with the rest of the format surface: the
    changelog's insert branch and position-delete victim derivation read
    avro through the block-streaming ordinal scan, schema evolution
    projects old avro files by field id, and the incremental append scan
    unions avro with parquet."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_changelog,
        scan_iceberg_incremental,
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "avrochg")
    w = IcebergTableWriter(spark, d, file_format="avro")
    v1 = w.append(n.filter("n_nationkey < 10").orderBy("n_nationkey"))
    w.append(n.filter("n_nationkey between 10 and 14"))  # avro, in-window
    w.append(n.filter("n_nationkey >= 15"), file_format="parquet")
    inc = scan_iceberg_incremental(spark, d, from_snapshot_id=v1)
    assert sorted(r["n_nationkey"] for r in inc.collect()) == list(range(10, 25))
    w.delete_where_mor("n_nationkey in (2, 11)")  # victims in avro files
    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=v1).collect()
    by_kind = {}
    for r in ch:
        by_kind.setdefault(r["_change_type"], []).append(r["n_nationkey"])
    assert sorted(by_kind["insert"]) == list(range(10, 25))
    assert sorted(by_kind["delete"]) == [2, 11]
    # rename across avro files: field-id projection re-aliases them
    w.rename_column("n_name", "nation_name")
    back = scan_iceberg_table(spark, d)
    assert "nation_name" in back.columns
    got = {
        r["n_nationkey"]: r["nation_name"]
        for r in back.collect()
    }
    assert len(got) == 23 and 2 not in got and got[0] == "NATION_0"


def test_incremental_scan_ignores_staged_snapshots(spark, tmp_path):
    """IncrementalAppendScan purity is judged over the TO snapshot's
    ancestry: a staged WAP snapshot (or dead branch) with an in-range
    sequence number neither contributes files nor trips the
    non-append guard."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_incremental,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "incwap")
    w = IcebergTableWriter(spark, d)
    v1 = w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey >= 20"), wap_id="held")  # staged
    w.append(n.filter("n_nationkey between 10 and 14"))
    got = scan_iceberg_incremental(spark, d, from_snapshot_id=v1)
    assert sorted(r["n_nationkey"] for r in got.collect()) == list(
        range(10, 15)
    )


def test_changelog_eq_dead_rows_do_not_resurface(spark, tmp_path):
    """ADVICE r11 #1 regression: a row killed by an EQUALITY delete, then
    re-marked by a later position delete (delete_where_mor's probe scans
    raw files and re-marks eq-dead ordinals by design), must surface in
    the changelog exactly ONCE — the second snapshot's victims are drawn
    from the pre-snapshot VISIBLE rows, where the row is already gone."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_changelog,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "eqdead")
    w = IcebergTableWriter(spark, d)
    v1 = w.append(n.filter("n_nationkey < 10"))
    w.delete_keys(["n_nationkey"], [(4,)])  # equality delete kills key 4
    # position-delete probe matches the raw-file row for key 4 again,
    # plus a genuinely live key
    w.delete_where_mor("n_nationkey in (4, 6)")
    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=v1).collect()
    got = sorted((r["_change_type"], r["n_nationkey"]) for r in ch)
    # ONE delete for key 4 (the equality snapshot's), one for key 6
    assert got == [("delete", 4), ("delete", 6)], got
    assert len({r["_commit_seq"] for r in ch}) == 2


def test_avro_timestamp_micros_exact(spark, tmp_path):
    """ADVICE r12: write_single_avro used total_seconds()*1e6 — float
    rounding + int() truncation corrupted ~1% of timestamps by -1µs.
    The writer must use exact integer arithmetic: round-trip timestamps
    empirically known to trip the float path and compare exact micros."""
    import datetime as dt

    from lakefs_iceberg_catalog_spark.catalog.parquet_io import (
        write_single_avro,
    )

    epoch = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    trips = [  # (days, seconds, micros) where int(total_seconds()*1e6) is -1µs off
        (12471, 51750, 339563),
        (12659, 14408, 462030),
        (24907, 68649, 146074),
        (12713, 43154, 976848),
    ]
    rows = [
        (i, epoch + dt.timedelta(days=d, seconds=s, microseconds=us))
        for i, (d, s, us) in enumerate(trips)
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")
    p = str(tmp_path / "exact_ts.avro")
    assert write_single_avro(df, p) == len(rows)
    _, back = read_container(p)
    got = {r["id"]: r["ts"] for r in back}
    for i, (d, s, us) in enumerate(trips):
        want = (
            dt.timedelta(days=d, seconds=s, microseconds=us)
            // dt.timedelta(microseconds=1)
        )
        assert got[i] == want, (i, got[i] - want)


def test_branch_append_failure_restores_main_state(spark, tmp_path):
    """ADVICE r12: a branch append that fails mid-commit used to strand
    self._manifests on the branch's set, leaking branch rows into every
    later main commit. Failures BEFORE the swap (validation, data write)
    and DURING the commit (forced via monkeypatched _commit_snapshot)
    must both leave main's manifests, the branch ref, and subsequent
    main appends untouched."""
    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "branchfail")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 5"))
    w.append(n.filter("n_nationkey between 5 and 9"), branch="b")
    # 1. pre-swap validation failure: bad file format
    with pytest.raises(ValueError, match="unsupported data file format"):
        w.append(n.filter("n_nationkey between 10 and 14"), branch="b",
                 file_format="csv")
    # 2. commit-time failure: _commit_snapshot raises after the swap
    real = w._commit_snapshot
    pre_refs = dict(w._refs)

    def boom(*a, **k):
        raise RuntimeError("injected commit failure")

    w._commit_snapshot = boom
    try:
        with pytest.raises(RuntimeError, match="injected"):
            w.append(n.filter("n_nationkey between 10 and 14"), branch="b")
    finally:
        w._commit_snapshot = real
    assert w._refs == pre_refs  # branch ref restored to its prior head
    # main appends stay pure: no branch rows leak
    w.append(n.filter("n_nationkey >= 20"))
    assert sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    ) == list(range(5)) + list(range(20, 25))
    # the branch still reads its own (pre-failure) head
    assert sorted(
        r["n_nationkey"]
        for r in scan_iceberg_table(spark, d, ref="b").collect()
    ) == list(range(10))


def test_incremental_append_refuses_non_ancestor_from(spark, tmp_path):
    """ADVICE r12: a `from` snapshot that is NOT an ancestor of `to`
    (staged WAP, dead branch) bounds a meaningless sequence window that
    can skip or double-count appends — refuse, mirroring the changelog
    guard."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_incremental_append_files,
    )

    n = _nation(spark)
    d = str(tmp_path / "incr_anc")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.where("n_nationkey < 8"))
    sb = w.append(n.where("n_nationkey between 8 and 12"), branch="side")
    s2 = w.append(n.where("n_nationkey >= 20"))
    # sane window still works with the branch snapshot in the metadata
    assert len(iceberg_incremental_append_files(d, s1, s2)) == 1
    with pytest.raises(ValueError, match="not an ancestor"):
        iceberg_incremental_append_files(d, sb, s2)


def test_all_metadata_tables_and_position_deletes(spark, tmp_path):
    """The all_* metadata tables serve rows from the metadata chain ONLY
    — proven by corrupting every data file before the read (any data IO
    would throw). position_deletes, by contrast, is the one metadata
    table that READS delete-file content: its rows are the (file, pos)
    pairs, joined to partition/spec metadata, and it must refuse
    non-parquet delete files loudly."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "allmeta")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12").orderBy("n_nationkey"))
    w.append(n.filter("n_nationkey >= 12").orderBy("n_nationkey"))
    w.delete_where_cow("n_nationkey = 3")
    files, _ = iceberg_snapshot_files(d)
    f13 = next(f for f in files if f["record_count"] == 13)["file_path"]
    w.delete_positions([(f13, 2), (f13, 6)])

    # position_deletes BEFORE corruption: reads the delete file's rows
    pd = iceberg_metadata_table(spark, d, "position_deletes")
    got = [(r["file_path"], r["pos"]) for r in pd.collect()]
    assert sorted(got) == [(f13, 2), (f13, 6)]
    assert pd.columns == [
        "file_path", "pos", "delete_file_path", "partition", "spec_id",
    ]

    # corrupt every DATA file: all_* must still answer (zero data IO);
    # delete files stay intact (position_deletes needs them, data files
    # it must never open)
    import glob as _glob

    for p in _glob.glob(os.path.join(d, "data", "*.parquet")):
        if "-deletes-" not in p:
            with open(p, "wb") as fh:
                fh.write(b"corrupted, not parquet")
    adf = iceberg_metadata_table(spark, d, "all_data_files")
    # CoW victim (12 rows, seq 1) still listed: older snapshots hold it
    assert sorted(
        (r["record_count"], r["sequence_number"]) for r in adf.collect()
    ) == [(11, 3), (12, 1), (13, 2)]
    amf = iceberg_metadata_table(spark, d, "all_manifests")
    assert amf.count() == 1 + 2 + 3 + 4  # manifests per snapshot
    aen = iceberg_metadata_table(spark, d, "all_entries")
    assert sorted(
        (r["status"], r["content"], r["record_count"]) for r in aen.collect()
    ) == [(1, 0, 11), (1, 0, 12), (1, 0, 13), (1, 1, 2), (2, 0, 12)]
    # position_deletes still fine too — it opens DELETE files only
    assert iceberg_metadata_table(spark, d, "position_deletes").count() == 2

    # empty case: a table with no delete files yields an empty frame
    d2 = str(tmp_path / "allmeta2")
    w2 = IcebergTableWriter(spark, d2)
    w2.append(n.filter("n_nationkey < 5"))
    assert iceberg_metadata_table(spark, d2, "position_deletes").count() == 0


def test_cow_dml_over_avro_and_orc_with_deletes(spark, tmp_path):
    """VERDICT r12 #4: the CoW probe now rides the assembler's uniform
    `_file` lineage, so copy-on-write DML works on tables whose data
    files are AVRO (always the block reader) or ORC under merge-on-read
    deletes (the stripe-ordinal reader) — the r12 refusal is lifted.
    Mixed-format table: CoW DELETE touches an avro and a parquet file;
    CoW MERGE updates a row living in avro; an existing position delete
    stays honored throughout."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "cow_avro")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))  # parquet
    w.append(n.filter("n_nationkey >= 12"), file_format="avro")
    # MoR position delete on the parquet file first: the CoW probe must
    # see post-delete visibility (row 1 already dead)
    files, _ = iceberg_snapshot_files(d)
    fpq = next(f for f in files if f["file_format"].upper() == "PARQUET")
    w.delete_positions([(fpq["file_path"], 1)])
    # CoW DELETE spanning both formats
    w.delete_where_cow("n_nationkey in (3, 20)")
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {1, 3, 20}
    # CoW MERGE hitting a key that lives in the avro file
    src = n.filter("n_nationkey in (14, 99)").withColumn(
        "n_name", F.concat(F.lit("UP_"), F.col("n_nationkey"))
    )
    w.merge_upsert_cow(src, ["n_nationkey"])
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert got[14] == "UP_14"
    assert set(got) == set(range(25)) - {1, 3, 20}
    # ORC under MoR deletes: previously refused, now a value test
    d2 = str(tmp_path / "cow_orc")
    w2 = IcebergTableWriter(spark, d2, file_format="orc")
    w2.append(n.filter("n_nationkey < 12"))
    w2.append(n.filter("n_nationkey >= 12"))
    w2.delete_where_mor("n_nationkey = 5")
    w2.delete_where_cow("n_nationkey in (6, 17)")
    keys2 = {r["n_nationkey"] for r in scan_iceberg_table(spark, d2).collect()}
    assert keys2 == set(range(25)) - {5, 6, 17}


def test_changelog_remove_plus_position_delete_commit(spark, tmp_path):
    """VERDICT r12 #7 (stretch): a snapshot that REMOVES data files AND
    ADDS position-delete files — no stock writer emits it, so the
    fixture splices a CoW delete and a MoR delete into ONE metadata
    snapshot (drop the intermediate snapshot, reparent) — now yields
    the combined changelog: the rewrite's net losses from the file
    diff, plus the new ordinals' victims on the UNTOUCHED target file.
    The equality flavor keeps its loud refusal (victim set not
    file-boundable)."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        read_table_metadata,
        scan_iceberg_changelog,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "cowposdel")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.filter("n_nationkey < 12"))
    s2 = w.append(n.filter("n_nationkey >= 12"))
    s3 = w.delete_where_cow("n_nationkey = 3")  # removes+re-adds file A
    s4 = w.delete_where_mor("n_nationkey = 20")  # pos delete on file B
    # splice s3+s4 into one commit: drop s3 from the snapshot list and
    # reparent s4 onto s2 — s4's manifest list already reflects both
    # changes, so the (s2 -> s4] diff IS the remove+add-delete shape
    meta = read_table_metadata(d)
    ver = max(
        int(p.split("v")[1].split(".")[0])
        for p in os.listdir(os.path.join(d, "metadata"))
        if p.startswith("v") and ".metadata.json" in p
    )
    meta["snapshots"] = [
        {**s, "parent-snapshot-id": s2}
        if s["snapshot-id"] == s4
        else s
        for s in meta["snapshots"]
        if s["snapshot-id"] != s3
    ]
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] != s3
    ]
    nxt = os.path.join(d, "metadata", f"v{ver + 1}.metadata.json")
    with open(nxt, "w") as fh:
        json.dump(meta, fh)
    with open(os.path.join(d, "metadata", "version-hint.text"), "w") as fh:
        fh.write(str(ver + 1))

    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=s1)
    got = sorted(
        (r["_change_type"], r["n_nationkey"], r["_commit_seq"])
        for r in ch.collect()
    )
    want = sorted(
        [("insert", k, 2) for k in range(12, 25)]
        + [("delete", 3, 4), ("delete", 20, 4)]
    )
    assert got == want, got
    # the head scan agrees with folding the changelog onto (s1]'s rows
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {3, 20}


def test_cow_dml_null_predicate_keeps_rows(spark, tmp_path):
    """SQL row-level DML touches only rows where the predicate is TRUE:
    a predicate evaluating NULL (e.g. comparing a NULL column) must
    leave its row in place — the survivor filter uses NOT-TRUE
    semantics, not a bare negation that would silently drop NULLs."""
    from pyspark.sql import Row
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    rows = [Row(k=1, v=10), Row(k=2, v=None), Row(k=3, v=30)]
    df = spark.createDataFrame(rows, "k int, v int")
    d = str(tmp_path / "nullpred")
    w = IcebergTableWriter(spark, d)
    w.append(df)
    # v > 15 is NULL for k=2: only k=3 deletes, k=2 SURVIVES
    w.delete_where_cow("v > 15")
    got = {(r["k"], r["v"]) for r in scan_iceberg_table(spark, d).collect()}
    assert got == {(1, 10), (2, None)}
    # UPDATE with a NULL-evaluating condition: k=2 unmodified, k=1 updated
    w.update_where_cow("v < 15", {"v": "v + 100"})
    got2 = {(r["k"], r["v"]) for r in scan_iceberg_table(spark, d).collect()}
    assert got2 == {(1, 110), (2, None)}


def test_update_where_cow_guards_and_formats(spark, tmp_path):
    """update_where_cow: unknown-column refusal, no-op on no match (no
    snapshot), and it runs over AVRO data files via the lineage scan."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        read_table_metadata,
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "updcow")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))
    w.append(n.filter("n_nationkey >= 12"), file_format="avro")
    with pytest.raises(ValueError, match="unknown columns"):
        w.update_where_cow("n_nationkey = 1", {"ghost": "'x'"})
    n_snaps = len(read_table_metadata(d)["snapshots"])
    w.update_where_cow("n_nationkey = 999", {"n_name": "'NOPE'"})
    assert len(read_table_metadata(d)["snapshots"]) == n_snaps
    w.update_where_cow("n_nationkey in (2, 14)", {"n_name": "'X'"})
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert got[2] == "X" and got[14] == "X" and len(got) == 25


def test_remove_orphan_files_guards(spark, tmp_path):
    """remove_orphan_files never touches referenced files (even aged
    ones), the metadata chain, or staged WAP snapshot files; orphaned
    manifests in metadata/ are reclaimed once aged."""
    import time as _time

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "orphguard")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))
    w.append(n.filter("n_nationkey >= 12"))
    staged = w.append(n.limit(0), wap_id="audit-1")  # staged WAP snapshot
    week_ago = int(_time.time()) - 7 * 24 * 3600
    # age EVERYTHING: referenced files must still survive
    for root, _dirs, names in __import__("os").walk(d):
        for name in names:
            p = os.path.join(root, name)
            os.utime(p, (week_ago, week_ago))
    orphan_meta = os.path.join(d, "metadata", "zzz-orphan-manifest.avro")
    with open(orphan_meta, "wb") as fh:
        fh.write(b"Obj\x01 not really avro")
    os.utime(orphan_meta, (week_ago, week_ago))
    res = w.remove_orphan_files()
    assert res["removed_paths"] == [orphan_meta]
    # table intact, WAP snapshot still auditable
    assert scan_iceberg_table(spark, d).count() == 25
    assert scan_iceberg_table(spark, d, snapshot_id=staged).count() == 25


def test_changelog_fold_reconstructs_every_snapshot(spark, tmp_path):
    """End-to-end changelog soundness over a mixed DML history (appends,
    MoR position + equality deletes, CoW update/delete/merge, a replace
    compaction): for EVERY adjacent snapshot pair — and the full window
    — folding the changelog rows onto the older snapshot's scan
    reproduces the newer snapshot's scan exactly, as multisets. This is
    the invariant a CDC consumer relies on: base ⊕ changes ≡ head."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        read_table_metadata,
        scan_iceberg_changelog,
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "foldprop")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey between 10 and 19"))
    w.delete_where_mor("n_nationkey in (3, 13)")       # position deletes
    w.delete_keys(["n_name"], [("NATION_6",)])         # equality delete
    w.update_where_cow("n_nationkey in (5, 15)",
                       {"n_name": "concat('U', n_nationkey)"})
    w.append(n.filter("n_nationkey >= 20"))
    w.rewrite_data()                                   # replace: no changes
    w.delete_where_cow("n_nationkey = 7")
    src = n.filter("n_nationkey = 8").withColumn("n_name", F.lit("MRG"))
    w.merge_upsert_cow(src, ["n_nationkey"])

    meta = read_table_metadata(d)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    chain = []
    cur = meta["current-snapshot-id"]
    while cur in by_id:
        chain.append(cur)
        cur = by_id[cur].get("parent-snapshot-id")
    chain.reverse()  # oldest -> head, main ancestry only

    def rows_at(sid):
        return sorted(
            tuple(r) for r in scan_iceberg_table(spark, d, snapshot_id=sid)
            .select("n_nationkey", "n_name", "n_regionkey").collect()
        )

    def fold(base_sid, to_sid):
        base = rows_at(base_sid)
        ch = scan_iceberg_changelog(spark, d, base_sid, to_sid).collect()
        by_seq: dict[int, dict[str, list[tuple]]] = {}
        for r in ch:
            row = (r["n_nationkey"], r["n_name"], r["n_regionkey"])
            by_seq.setdefault(r["_commit_seq"], {}).setdefault(
                r["_change_type"], []
            ).append(row)
        state = list(base)
        for seq in sorted(by_seq):
            for victim in by_seq[seq].get("delete", []):
                state.remove(victim)  # multiset subtract; raises if absent
            state.extend(by_seq[seq].get("insert", []))
        return sorted(state)

    # every adjacent pair on the ancestry chain (replace windows are
    # empty-changelog no-ops and must still fold to identity)
    for a, b in zip(chain, chain[1:]):
        assert fold(a, b) == rows_at(b), (a, b)
    # and the full window in one shot
    assert fold(chain[0], chain[-1]) == rows_at(chain[-1])


def test_update_where_cow_partitioned_moves_rows(spark, tmp_path):
    """Partitioned UPDATE CoW: an assignment changing the partition
    column MOVES the row to its new tuple (the rewrite fans out one
    ADDED file per output tuple via the shared _rewrite_cow path), and
    partition pruning still answers correctly afterwards."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "updcowpart")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in range(5):
        w.append(n.filter(F.col("n_regionkey") == rk))
    w.update_where_cow("n_nationkey = 7", {"n_regionkey": "4"})
    got = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert got[7] == 4 and len(got) == 25
    moved = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 4})
    assert 7 in {r["n_nationkey"] for r in moved.collect()}
    stayed = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 2})
    assert 7 not in {r["n_nationkey"] for r in stayed.collect()}


def test_metadata_tables_cross_consistency(spark, tmp_path):
    """The metadata tables must agree with each other — the invariants
    an ops dashboard implicitly relies on: current files ⊆
    all_data_files (by path); partitions aggregates exactly the files
    rows; every snapshot appears in all_manifests; delete_files ⊆
    all_delete_files; entries' live rows count the files rows."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
        read_table_metadata,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "metaxcheck")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in range(5):
        w.append(n.filter(F.col("n_regionkey") == rk))
    w.delete_where_cow("n_nationkey = 3")
    w.delete_where_mor("n_nationkey = 20")

    mt = lambda k: iceberg_metadata_table(spark, d, k)  # noqa: E731
    files = mt("files").filter("content = 0").collect()
    all_df = mt("all_data_files").collect()
    assert {r["file_path"] for r in files} <= {r["file_path"] for r in all_df}
    # partitions table aggregates the files rows exactly
    parts = mt("partitions").collect()
    assert sum(r["record_count"] for r in parts) == sum(
        r["record_count"] for r in files
    )
    assert sum(r["file_count"] for r in parts) == len(files)
    assert sum(r["delete_file_count"] for r in parts) == 1
    # every snapshot is represented in all_manifests
    meta = read_table_metadata(d)
    ref_ids = {r["reference_snapshot_id"] for r in mt("all_manifests").collect()}
    assert ref_ids == {s["snapshot-id"] for s in meta["snapshots"]}
    # delete files: current ⊆ all
    dels = mt("delete_files").collect()
    all_dels = mt("all_delete_files").collect()
    assert {r["file_path"] for r in dels} <= {
        r["file_path"] for r in all_dels
    }
    # entries (current snapshot): live rows == files+delete_files rows
    live_entries = mt("entries").filter("status <> 2").count()
    assert live_entries == len(files) + len(dels)
    # position_deletes row count == delete_files record_count sum
    assert mt("position_deletes").count() == sum(
        r["record_count"] for r in dels if r["content"] == 1
    )


def test_expire_snapshots_retain_ref_history(spark, tmp_path):
    """retain_ref_history=True is stock expireSnapshots' behavior: the
    expire proceeds and snapshots reachable from named refs survive
    (tag heads; branch heads plus ancestors) instead of refusing —
    unreachable ones still expire, and the retained refs stay fully
    scannable afterwards."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        read_table_metadata,
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "expref")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.filter("n_nationkey < 8"))
    w.set_ref("v1", snapshot_id=s1, ref_type="tag")
    s2 = w.append(n.filter("n_nationkey between 8 and 15"))
    s3 = w.append(n.filter("n_nationkey > 15"))
    # default path still refuses while the tag pins s1
    with pytest.raises(ValueError, match="refs still pin"):
        w.expire_snapshots(retain_last=1)
    res = w.expire_snapshots(retain_last=1, retain_ref_history=True)
    # s2 is reachable from neither the head window nor any ref → expired
    assert res["expired"] == 1
    kept = {s["snapshot-id"] for s in read_table_metadata(d)["snapshots"]}
    assert kept == {s1, s3}
    # the tag still scans; head unchanged; expired time travel refuses
    assert scan_iceberg_table(spark, d, ref="v1").count() == 8
    assert scan_iceberg_table(spark, d).count() == 25
    with pytest.raises(ValueError, match="not found"):
        scan_iceberg_table(spark, d, snapshot_id=s2)


def test_changelog_remove_plus_equality_delete_commit(spark, tmp_path):
    """The EQUALITY flavor of the remove+add-delete commit shape (VERDICT
    r13 #5, the last changelog refusal, now a value test): spliced into
    one commit, the CoW rewrite's net losses come from the file diff and
    the equality keys' victims come from the SURVIVING files only — the
    removed files' rows are never double-counted, and a key whose only
    pre-image lived in a removed file still surfaces exactly once (via
    the diff). Folding the changelog onto the window base reproduces the
    head scan."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        read_table_metadata,
        scan_iceberg_changelog,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "coweqdel")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.filter("n_nationkey < 12"))
    s2 = w.append(n.filter("n_nationkey >= 12"))
    s3 = w.delete_where_cow("n_nationkey = 3")  # removes+re-adds file A
    # eq delete: key 20 lives in the SURVIVING file B, key 5 in the
    # REWRITTEN file A' — the diff must cover 5, the eq arm only 20
    s4 = w.delete_keys(["n_name"], [("NATION_20",), ("NATION_5",)])
    meta = read_table_metadata(d)
    ver = max(
        int(p.split("v")[1].split(".")[0])
        for p in os.listdir(os.path.join(d, "metadata"))
        if p.startswith("v") and ".metadata.json" in p
    )
    meta["snapshots"] = [
        {**s, "parent-snapshot-id": s2} if s["snapshot-id"] == s4 else s
        for s in meta["snapshots"]
        if s["snapshot-id"] != s3
    ]
    meta["snapshot-log"] = [
        e for e in meta.get("snapshot-log", []) if e["snapshot-id"] != s3
    ]
    with open(
        os.path.join(d, "metadata", f"v{ver + 1}.metadata.json"), "w"
    ) as fh:
        json.dump(meta, fh)
    with open(os.path.join(d, "metadata", "version-hint.text"), "w") as fh:
        fh.write(str(ver + 1))

    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=s1)
    got = sorted(
        (r["_change_type"], r["n_nationkey"], r["_commit_seq"])
        for r in ch.collect()
    )
    want = sorted(
        [("insert", k, 2) for k in range(12, 25)]
        + [("delete", 3, 4), ("delete", 5, 4), ("delete", 20, 4)]
    )
    assert got == want, got
    keys = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert keys == set(range(25)) - {3, 5, 20}


def test_non_parquet_delete_files_scan_changelog_and_table(spark, tmp_path):
    """Per the spec's write.delete.format, delete files may be ORC or
    Avro regardless of the data files' format — previously refused
    outside parquet. Hand-crafted ORC + Avro POSITION delete files and
    an Avro EQUALITY delete file on a parquet table must merge in the
    scan, drive the changelog, and surface in position_deletes; CoW
    after them still works through the lineage scan."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.orc as po

    from lakefs_iceberg_catalog_spark.catalog.avro_io import write_container
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
        scan_iceberg_changelog,
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "npdel")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12").orderBy("n_nationkey"))
    s2 = w.append(n.filter("n_nationkey >= 12").orderBy("n_nationkey"))
    files, _ = iceberg_snapshot_files(d)
    f12 = next(f for f in files if f["record_count"] == 12)["file_path"]
    f13 = next(f for f in files if f["record_count"] == 13)["file_path"]

    # ORC position delete: kill ordinal 3 of the 12-row file (key 3)
    orc_del = os.path.join(d, "data", "posdel-orc.orc")
    po.write_table(
        pa.table(
            {"file_path": pa.array([f12], pa.string()),
             "pos": pa.array([3], pa.int64())}
        ),
        orc_del,
    )
    # AVRO position delete: kill ordinals 1 and 5 of the 13-row file
    # (keys 13 and 17; spec orders rows by (file_path, pos))
    avro_del = os.path.join(d, "data", "posdel-avro.avro")
    write_container(
        avro_del,
        {"type": "record", "name": "pd", "fields": [
            {"name": "file_path", "type": "string"},
            {"name": "pos", "type": "long"}]},
        [{"file_path": f13, "pos": 1}, {"file_path": f13, "pos": 5}],
        codec="deflate",
    )
    w._version += 1
    w._sequence += 1
    s3 = int(_uuid.uuid4().int % (1 << 62))
    w._commit_delete_manifest(
        s3, [(orc_del, 1, {}, 1, None), (avro_del, 2, {}, 1, None)]
    )
    got = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert got == set(range(25)) - {3, 13, 17}

    # AVRO equality delete on n_name (field id 2): kill key 20
    avro_eq = os.path.join(d, "data", "eqdel-avro.avro")
    write_container(
        avro_eq,
        {"type": "record", "name": "eq", "fields": [
            {"name": "n_name", "type": "string"}]},
        [{"n_name": "NATION_20"}],
        codec="deflate",
    )
    w._version += 1
    w._sequence += 1
    s4 = int(_uuid.uuid4().int % (1 << 62))
    w._commit_delete_manifest(s4, [(avro_eq, 1, {}, 2, [2])])
    got = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert got == set(range(25)) - {3, 13, 17, 20}

    # changelog across both delete commits derives the right victims
    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=s2)
    assert sorted(
        (r["_change_type"], r["n_nationkey"]) for r in ch.collect()
    ) == [("delete", k) for k in (3, 13, 17, 20)]
    # position_deletes metadata table reads both non-parquet files
    pd_rows = iceberg_metadata_table(spark, d, "position_deletes").collect()
    assert sorted((r["file_path"], r["pos"]) for r in pd_rows) == [
        (f12, 3), (f13, 1), (f13, 5),
    ]
    assert {os.path.basename(r["delete_file_path"]) for r in pd_rows} == {
        "posdel-orc.orc", "posdel-avro.avro",
    }
    # CoW DML over the non-parquet delete debt still works
    w.delete_where_cow("n_nationkey = 9")
    got = {r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()}
    assert got == set(range(25)) - {3, 9, 13, 17, 20}


def test_cow_rewrite_honors_table_write_format(spark, tmp_path):
    """Stock honors write.format.default on row-level rewrites: a CoW
    DELETE/UPDATE on an ORC (or AVRO) table writes its replacement
    files in the table's format instead of drifting the layout to
    parquet; stats bounds still land in the manifest entries."""
    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    for fmt in ("orc", "avro"):
        d = str(tmp_path / f"cowfmt_{fmt}")
        w = IcebergTableWriter(spark, d, file_format=fmt)
        w.append(n.filter("n_nationkey < 12").orderBy("n_nationkey"))
        w.append(n.filter("n_nationkey >= 12").orderBy("n_nationkey"))
        w.delete_where_cow("n_nationkey = 3")
        w.update_where_cow("n_nationkey = 14", {"n_name": "'X'"})
        files, _ = iceberg_snapshot_files(d)
        assert {f["file_format"] for f in files} == {fmt.upper()}, fmt
        assert all(f["file_path"].endswith(f".{fmt}") for f in files)
        from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
            scan_iceberg_table,
        )

        got = {
            r["n_nationkey"]: r["n_name"]
            for r in scan_iceberg_table(spark, d).collect()
        }
        assert got[14] == "X" and set(got) == set(range(25)) - {3}, fmt


def test_rewrite_data_honors_table_write_format(spark, tmp_path):
    """rewrite_data (compaction) outputs in the table's write format too
    — small ORC and AVRO appends compact into one file of the SAME
    format, rows unchanged, and old files expire normally."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    for fmt in ("orc", "avro"):
        d = str(tmp_path / f"rwfmt_{fmt}")
        w = IcebergTableWriter(spark, d, file_format=fmt)
        for lo in (0, 10, 20):
            w.append(
                n.filter(F.col("n_nationkey").between(lo, lo + 9))
                .orderBy("n_nationkey")
            )
        w.rewrite_data()
        files, _ = iceberg_snapshot_files(d)
        assert len(files) == 1 and files[0]["file_format"] == fmt.upper()
        assert files[0]["file_path"].endswith(f".{fmt}")
        assert scan_iceberg_table(spark, d).count() == 25


def test_full_space_reclamation_composition(spark, tmp_path):
    """The complete reclamation story on one table: churn (appends, CoW
    delete, compaction) → expire_snapshots → remove_orphan_files. After
    the sweep, the data directory holds EXACTLY the live files and the
    metadata directory only the chain + live manifests/list — nothing a
    reader needs is gone (scan identical), nothing unreferenced
    remains (aged planted orphan included)."""
    import glob as _glob
    import time as _time

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        scan_iceberg_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "reclaim")
    w = IcebergTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.append(n.filter(F.col("n_nationkey").between(lo, lo + 9)))
    w.delete_where_cow("n_nationkey = 5")
    w.rewrite_data()
    want = sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    )
    orphan = os.path.join(d, "data", "aborted.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1 junk")
    week_ago = int(_time.time()) - 7 * 24 * 3600
    os.utime(orphan, (week_ago, week_ago))
    w.expire_snapshots(retain_last=1)
    res = w.remove_orphan_files(older_than_ms=int(_time.time() * 1000) + 1)
    # the planted orphan went; expire already reclaimed the rest
    assert orphan in res["removed_paths"] and not os.path.exists(orphan)
    # data dir == exactly the live file set
    files, dels = iceberg_snapshot_files(d)
    live = {f["file_path"] for f in files} | {f["file_path"] for f in dels}
    on_disk = set(_glob.glob(os.path.join(d, "data", "*")))
    assert on_disk == live
    # scan identical to pre-reclamation
    assert sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    ) == want


def test_remove_orphans_fresh_writer_derives_referenced_set_from_disk(
    spark, tmp_path
):
    """A writer NEWLY constructed over an existing table has empty
    in-memory state; remove_orphan_files must still derive the referenced
    set from the on-disk metadata chain and keep every committed file
    (ADVICE r13 medium: the old in-memory-only derivation would unlink
    the whole table and report success)."""
    import time as _time

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "orphfresh")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))
    w.append(n.filter("n_nationkey >= 12"))
    w.delete_where_mor("n_nationkey = 3")  # delete files must survive too

    week_ago = int(_time.time()) - 7 * 24 * 3600
    for root, _dirs, names in os.walk(d):
        for name in names:
            p = os.path.join(root, name)
            os.utime(p, (week_ago, week_ago))
    orphan = os.path.join(d, "data", "aborted-write.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"PAR1 junk")
    os.utime(orphan, (week_ago, week_ago))

    fresh = IcebergTableWriter(spark, d)  # knows NOTHING in memory
    assert fresh._snapshots == []
    res = fresh.remove_orphan_files()
    assert res["removed_paths"] == [orphan]
    got = sorted(
        r["n_nationkey"] for r in scan_iceberg_table(spark, d).collect()
    )
    assert got == [k for k in range(25) if k != 3]


def test_remove_orphans_refuses_empty_referenced_set(spark, tmp_path):
    """No on-disk metadata AND no in-memory snapshots → the sweep would
    treat every file as orphan; it must refuse instead of 'succeeding'."""
    d = str(tmp_path / "orphempty")
    w = IcebergTableWriter(spark, d)  # dirs created, nothing committed
    with pytest.raises(RuntimeError, match="refused"):
        w.remove_orphan_files()


def test_branch_commit_failure_leaves_no_phantom_snapshot(spark, tmp_path):
    """If the metadata write fails mid-branch-commit, the rollback must
    also undo _commit_snapshot's _snapshots append (ADVICE r13 #2) — a
    phantom staged snapshot would otherwise ride along in every later
    metadata file with no ref pointing at it."""
    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "branchroll")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    pre_snaps = len(w._snapshots)
    pre_version, pre_sequence = w._version, w._sequence

    real = w._write_metadata

    def boom(now_ms):
        raise OSError("simulated metadata write failure")

    w._write_metadata = boom
    with pytest.raises(OSError, match="simulated"):
        w.append(n.filter("n_nationkey >= 10"), branch="audit")
    w._write_metadata = real

    assert len(w._snapshots) == pre_snaps
    assert (w._version, w._sequence) == (pre_version, pre_sequence)
    # the table keeps working and the failed commit never surfaces
    w.append(n.filter("n_nationkey >= 10"))
    meta = read_table_metadata(d)
    assert len(meta["snapshots"]) == 2
    assert "audit" not in meta.get("refs", {})
    assert scan_iceberg_table(spark, d).count() == 25


def test_entries_tables_tolerate_none_sequence_numbers(
    spark, tmp_path, monkeypatch
):
    """entries/all_entries sort rows explicitly: EXISTING/DELETED entries
    in externally written manifests may omit sequence_number (spec-legal),
    and a plain tuple sort raises TypeError on a None/int tie
    (ADVICE r13 #3)."""
    from lakefs_iceberg_catalog_spark.catalog import iceberg_format as IF

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "noneseq")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 5"))
    w.append(n.filter("n_nationkey >= 5"))

    real = IF.read_container
    state = {"i": 0}

    def doctored(path):
        meta, recs = real(path)
        for r in recs:
            if isinstance(r, dict) and "data_file" in r and "status" in r:
                # foreign-manifest shape: two EXISTING entries tying on
                # (status, snapshot_id), one with None seq, one with int
                r["status"] = 0
                r["snapshot_id"] = 1
                r["sequence_number"] = None if state["i"] % 2 == 0 else 7
                state["i"] += 1
        return meta, recs

    monkeypatch.setattr(IF, "read_container", doctored)
    for kind in ("entries", "all_entries"):
        rows = IF.iceberg_metadata_table(spark, d, kind).collect()
        assert len(rows) == 2
        assert {r["sequence_number"] for r in rows} == {None, 7}


def test_metadata_log_entries_current_file_exists_on_gzip_chain(
    spark, tmp_path
):
    """On a gzip-compressed metadata chain the current row's `file` must
    name the path that exists on disk (ADVICE r13 #4)."""
    import gzip as _gzip

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "gzchain")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey >= 10"))
    # gzip-compress the CURRENT metadata file the way the catalog codec
    # spells it (vN.metadata.json.gz) and drop the plain spelling
    meta_dir = os.path.join(d, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    plain = os.path.join(meta_dir, f"v{v}.metadata.json")
    with open(plain, "rb") as src, _gzip.open(plain + ".gz", "wb") as dst:
        dst.write(src.read())
    os.unlink(plain)

    rows = iceberg_metadata_table(spark, d, "metadata_log_entries").collect()
    cur = rows[-1]
    assert cur["file"] == plain + ".gz"
    assert os.path.exists(cur["file"])


def test_update_where_mor_basic_and_noop(spark, tmp_path):
    """MoR UPDATE (stock write.update.mode=merge-on-read): position
    deletes + updated images in ONE overwrite snapshot; pre-existing
    data files never removed or rewritten; no-match is a no-op."""
    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "umor")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))
    w.append(n.filter("n_nationkey >= 12"))
    pre_files, _ = iceberg_snapshot_files(d)
    pre = {(f["file_path"], os.path.getmtime(f["file_path"])) for f in pre_files}
    n_snaps = len(read_table_metadata(d)["snapshots"])

    w.update_where_mor(
        "n_nationkey in (2, 14)", {"n_name": "concat('U', n_nationkey)"}
    )
    meta = read_table_metadata(d)
    assert len(meta["snapshots"]) == n_snaps + 1  # ONE commit for both halves
    assert meta["snapshots"][-1]["summary"]["operation"] == "overwrite"
    post_files, post_dels = iceberg_snapshot_files(d)
    post = {
        (f["file_path"], os.path.getmtime(f["file_path"])) for f in post_files
    }
    assert pre <= post  # zero-rewrite: same files, same mtimes
    assert len(post) - len(pre) == 1
    assert len(post_dels) == 2 and all(f["content"] == 1 for f in post_dels)
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert got[2] == "U2" and got[14] == "U14" and len(got) == 25

    # guards: unknown assignment column; no-match no-op
    with pytest.raises(ValueError, match="unknown columns"):
        w.update_where_mor("n_nationkey = 1", {"ghost": "'x'"})
    n_snaps = len(read_table_metadata(d)["snapshots"])
    w.update_where_mor("n_nationkey = 999", {"n_name": "'NOPE'"})
    assert len(read_table_metadata(d)["snapshots"]) == n_snaps


def test_update_where_mor_partitioned_and_no_resurrect(spark, tmp_path):
    """Over an identity-partitioned table the updated images land as
    per-tuple files with typed partition values and the delete files
    carry their target files' partition scope; rows already dead under
    existing deletes must NOT resurrect as updated copies (the probe is
    the VISIBLE scan, not raw files)."""
    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "umorpart")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in range(5):
        w.append(n.filter(F.col("n_regionkey") == rk))
    # kill nation 2 first (MoR delete), then update a predicate that
    # WOULD match it — the dead row must stay dead
    w.delete_where_mor("n_nationkey = 2")
    w.update_where_mor(
        "n_nationkey in (2, 9, 14)", {"n_name": "concat('U', n_nationkey)"}
    )
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert 2 not in got  # no resurrection
    assert got[9] == "U9" and got[14] == "U14" and len(got) == 24
    # updated images landed under their own partition tuples: prune to
    # one region and find the updated row there
    data, dels = iceberg_snapshot_files(d, partition_filter={"n_regionkey": 4})
    assert all(f["partition"]["n_regionkey"] == 4 for f in data)
    assert any(f["partition"].get("n_regionkey") == 4 for f in dels)


def test_temporal_transform_spec_vectors(spark):
    """The Iceberg spec's own example encodings (spec 'Partition
    Transforms' table, 2017-11-16T22:31:08): year→47, month→574,
    day→17486, hour→419686 — plus the pre-1970 floor behavior, and
    JVM-side _transform_col parity with the Python projection."""
    import datetime

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        apply_iceberg_transform,
    )

    ts = datetime.datetime(2017, 11, 16, 22, 31, 8)
    assert apply_iceberg_transform("year", ts, "timestamp") == 47
    assert apply_iceberg_transform("month", ts, "timestamp") == 574
    assert apply_iceberg_transform("day", ts, "timestamp") == 17486
    assert apply_iceberg_transform("hour", ts, "timestamp") == 419686
    d = datetime.date(2017, 11, 16)
    assert apply_iceberg_transform("year", d, "date") == 47
    assert apply_iceberg_transform("month", d, "date") == 574
    # pre-1970 values floor (spec: transforms are floor-based)
    pre = datetime.datetime(1969, 12, 31, 23, 0, 0)
    assert apply_iceberg_transform("year", pre, "timestamp") == -1
    assert apply_iceberg_transform("month", pre, "timestamp") == -1
    assert apply_iceberg_transform("hour", pre, "timestamp") == -1
    with pytest.raises(ValueError, match="timestamps only"):
        apply_iceberg_transform("hour", d, "date")

    # JVM expression parity: the writer's per-row transform column must
    # agree with the Python projection on every vector
    w = IcebergTableWriter.__new__(IcebergTableWriter)
    rows = [(ts,), (pre,), (datetime.datetime(1970, 1, 1),)]
    df = spark.createDataFrame(rows, "ts timestamp")
    for kind in ("year", "month", "hour"):
        pf = {"kind": kind, "source_name": "ts", "src_type": "timestamp"}
        got = [
            r[0]
            for r in df.select(
                IcebergTableWriter._transform_col(w, pf)
            ).collect()
        ]
        want = [
            apply_iceberg_transform(kind, v[0], "timestamp") for v in rows
        ]
        assert got == want, (kind, got, want)


def test_year_hour_partitioned_write_and_hidden_pruning(spark, tmp_path):
    """years()/hours() hidden partitioning end-to-end on the real layout:
    transform recorded in partition-specs, encoded tuples in the manifest
    structs, hidden_filter on the SOURCE column opens only the matching
    file."""
    import datetime

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_snapshot_files,
    )

    rows = [
        (1, datetime.datetime(2017, 11, 16, 22, 31, 8)),
        (2, datetime.datetime(2017, 11, 16, 22, 45, 0)),
        (3, datetime.datetime(2018, 2, 1, 4, 0, 0)),
    ]
    df = spark.createDataFrame(rows, "id int, ts timestamp")

    d = str(tmp_path / "hourly")
    w = IcebergTableWriter(spark, d, partition_by=["hours(ts)"])
    w.append(df.filter("id < 3"))   # both in hour 419686
    w.append(df.filter("id = 3"))
    meta = read_table_metadata(d)
    spec = meta["partition-specs"][0]["fields"][0]
    assert spec["transform"] == "hour" and spec["name"] == "ts_hour"
    data, _ = iceberg_snapshot_files(d)
    assert sorted(f["partition"]["ts_hour"] for f in data) == [419686, 421516]
    pruned = scan_iceberg_table(
        spark, d, hidden_filter={"ts": datetime.datetime(2017, 11, 16, 22, 31, 8)}
    )
    assert len(pruned.inputFiles()) == 1
    assert [r["id"] for r in pruned.collect()] == [1]

    d2 = str(tmp_path / "yearly")
    w2 = IcebergTableWriter(spark, d2, partition_by=["years(ts)"])
    w2.append(df.filter("id < 3"))
    w2.append(df.filter("id = 3"))
    data2, _ = iceberg_snapshot_files(d2)
    assert sorted(f["partition"]["ts_year"] for f in data2) == [47, 48]
    pruned2 = scan_iceberg_table(
        spark, d2, hidden_filter={"ts": datetime.datetime(2018, 2, 1, 4, 0, 0)}
    )
    assert len(pruned2.inputFiles()) == 1
    assert [r["id"] for r in pruned2.collect()] == [3]
    # a multi-year append must refuse (a data file belongs to ONE tuple)
    with pytest.raises(ValueError):
        w2.append(df)


def test_merge_mor_positions_edges(spark, tmp_path):
    """Stock-Spark-flavor MoR MERGE edges: an all-insert merge (no
    matches) writes no delete files; rows dead under prior deletes are
    not matched (no double-delete rows); ONE snapshot carries both
    manifest kinds; source column/key validation refuses loudly."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
    )
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "mergemorpos")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))
    n_snaps = len(read_table_metadata(d)["snapshots"])

    # all-insert: no position deletes, still one overwrite snapshot
    ins = local_df(spark, [(30, "NEW", 0)],
                   "n_nationkey int, n_name string, n_regionkey int")
    w.merge_upsert_mor_positions(ins, ["n_nationkey"])
    meta = read_table_metadata(d)
    assert len(meta["snapshots"]) == n_snaps + 1
    _, dels = iceberg_snapshot_files(d)
    assert dels == []

    # kill key 5 via MoR delete, then merge on (5, 7): only 7 matches —
    # 5 is dead and must come back purely as the source INSERT row
    w.delete_where_mor("n_nationkey = 5")
    src = local_df(spark, [(5, "BACK", 0), (7, "UPD", 3)],
                   "n_nationkey int, n_name string, n_regionkey int")
    w.merge_upsert_mor_positions(src, ["n_nationkey"])
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert got[5] == "BACK" and got[7] == "UPD" and got[30] == "NEW"
    assert len(got) == 13  # 12 original + inserted 30; 5 replaced in place
    total_del_rows = sum(
        r["record_count"]
        for r in iceberg_metadata_table(spark, d, "delete_files").collect()
    )
    assert total_del_rows == 2  # one for key 5's delete, one for key 7

    with pytest.raises(ValueError, match="lacks table columns"):
        w.merge_upsert_mor_positions(
            local_df(spark, [(1,)], "n_nationkey int"), ["n_nationkey"]
        )
    with pytest.raises(ValueError, match="key columns"):
        w.merge_upsert_mor_positions(src, ["ghost"])


def test_all_files_metadata_table_unions_both_contents(spark, tmp_path):
    """t.all_files = all_data_files ∪ all_delete_files, row-for-row (the
    stock union view), including files only historical snapshots
    reference."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        iceberg_metadata_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "allfiles")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 12"))
    w.append(n.filter("n_nationkey >= 12"))
    w.delete_where_mor("n_nationkey in (3, 14)")
    w.rewrite_position_deletes()  # historical delete files join all_*

    def rows(kind):
        return sorted(
            tuple(r) for r in iceberg_metadata_table(spark, d, kind).collect()
        )

    union = sorted(rows("all_data_files") + rows("all_delete_files"))
    assert rows("all_files") == union
    assert {r[0] for r in rows("all_files")} == {0, 1}  # both contents


def _pin_snapshot_log_timestamps(table_dir, stamps):
    """Rewrite the CURRENT metadata's snapshot-log timestamps to fixed
    values — deterministic timestamp-resolution tests at any commit
    speed (two real commits can land in the same millisecond)."""
    meta_dir = os.path.join(table_dir, "metadata")
    with open(os.path.join(meta_dir, "version-hint.text")) as fh:
        v = int(fh.read().strip())
    p = os.path.join(meta_dir, f"v{v}.metadata.json")
    with open(p) as fh:
        meta = json.load(fh)
    assert len(meta["snapshot-log"]) == len(stamps)
    for e, ts in zip(meta["snapshot-log"], stamps):
        e["timestamp-ms"] = ts
    with open(p, "w") as fh:
        json.dump(meta, fh)


def test_timestamp_as_of_is_history_faithful_across_rollback(spark, tmp_path):
    """resolve_snapshot_at_timestamp follows the SNAPSHOT LOG (when each
    snapshot became current), so a rollback makes the target snapshot
    current AGAIN at a new time while queries at old times still see
    what was current then — stock SnapshotUtil.snapshotIdAsOfTime
    semantics."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        resolve_snapshot_at_timestamp,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "asofroll")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.filter("n_nationkey < 12"))
    s2 = w.append(n.filter("n_nationkey >= 12"))
    w.rollback_to_snapshot(s1)
    log = read_table_metadata(d)["snapshot-log"]
    # the log now has three entries: s1 current, s2 current, s1 again
    assert [e["snapshot-id"] for e in log] == [s1, s2, s1]
    _pin_snapshot_log_timestamps(d, [100_000, 200_000, 300_000])
    assert resolve_snapshot_at_timestamp(d, 100_000) == s1
    assert resolve_snapshot_at_timestamp(d, 199_999) == s1
    assert resolve_snapshot_at_timestamp(d, 200_000) == s2
    assert resolve_snapshot_at_timestamp(d, 300_000) == s1
    rows = scan_iceberg_table(spark, d, as_of_timestamp_ms=300_000).count()
    assert rows == 12  # rolled-back head
    with pytest.raises(ValueError, match="one of"):
        scan_iceberg_table(
            spark, d, as_of_timestamp_ms=200_000, snapshot_id=s1
        )
    # monotonicity: a backwards/equal stamp adjusts to predecessor+1ms
    _pin_snapshot_log_timestamps(d, [100_000, 100_000, 50_000])
    assert resolve_snapshot_at_timestamp(d, 100_000) == s1
    assert resolve_snapshot_at_timestamp(d, 100_001) == s2
    assert resolve_snapshot_at_timestamp(d, 100_002) == s1
    with pytest.raises(ValueError, match="older than"):
        resolve_snapshot_at_timestamp(d, 99_999)


def test_round14_review_fixes(spark, tmp_path):
    """Pins for the round-14 self-review findings: (1) tz-aware values
    project through temporal transforms via their UTC instant, matching
    the epoch-based write side; (2) UPDATE assignments all evaluate
    against the OLD row (a={'a':'b','b':'a'} swaps) on both CoW and MoR
    paths; (3) an empty MERGE source is a no-op; (4) remove_orphan_files
    ABORTS when the current chain names a missing manifest instead of
    sweeping with an incomplete referenced set."""
    import datetime

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        apply_iceberg_transform,
        iceberg_snapshot_files,
    )
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    # (1) tz-aware → UTC instant (UTC+5 wall clock 02:00 = 21:00 prev day)
    aware = datetime.datetime(
        1995, 3, 5, 2, 0,
        tzinfo=datetime.timezone(datetime.timedelta(hours=5)),
    )
    utc = datetime.datetime(1995, 3, 4, 21, 0)
    for t in ("year", "month", "day", "hour"):
        assert apply_iceberg_transform(t, aware, "timestamptz") == \
            apply_iceberg_transform(t, utc, "timestamp"), t

    # (2) swap semantics, both UPDATE paths
    rows = local_df(spark, [(1, 10, 20)], "k int, a int, b int")
    for mode in ("cow", "mor"):
        d = str(tmp_path / f"swap_{mode}")
        w = IcebergTableWriter(spark, d)
        w.append(rows)
        fn = w.update_where_cow if mode == "cow" else w.update_where_mor
        fn("k = 1", {"a": "b", "b": "a"})
        got = scan_iceberg_table(spark, d).collect()[0]
        assert (got["a"], got["b"]) == (20, 10), mode

    # (3) empty MERGE source: no snapshot
    d = str(tmp_path / "emptymerge")
    w = IcebergTableWriter(spark, d)
    w.append(rows)
    n_snaps = len(read_table_metadata(d)["snapshots"])
    w.merge_upsert_mor_positions(rows.limit(0), ["k"])
    assert len(read_table_metadata(d)["snapshots"]) == n_snaps

    # (4) missing live manifest aborts the sweep, nothing deleted
    import time as _time

    d = str(tmp_path / "orphabort")
    w = IcebergTableWriter(spark, d)
    w.append(rows)
    data, _ = iceberg_snapshot_files(d)
    mf_path = next(
        os.path.join(d, "metadata", n)
        for n in os.listdir(os.path.join(d, "metadata"))
        if n.endswith(".avro") and not n.startswith("snap-")
    )
    os.rename(mf_path, mf_path + ".hidden")
    week_ago = int(_time.time()) - 7 * 24 * 3600
    os.utime(data[0]["file_path"], (week_ago, week_ago))
    with pytest.raises(FileNotFoundError, match="aborted"):
        w.remove_orphan_files()
    assert os.path.exists(data[0]["file_path"])  # nothing swept
    os.rename(mf_path + ".hidden", mf_path)


def test_temporal_transform_jvm_python_parity_wide_domain(spark):
    """JVM write-side expressions (_transform_col) and the Python
    read-side projection (apply_iceberg_transform) must agree on every
    temporal transform across a wide datetime domain — 1905..2129,
    second granularity, pre-1970 included — in ONE Spark job. Divergence
    here is silent wrong pruning (files skipped that hold matching
    rows), so the parity is the invariant, not any single encoding."""
    import datetime
    import random

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        apply_iceberg_transform,
    )

    rng = random.Random(14)
    base = datetime.datetime(1970, 1, 1)
    rows = [
        (
            i,
            base
            + datetime.timedelta(
                seconds=rng.randint(-2_050_000_000, 5_000_000_000)
            ),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "i int, ts timestamp")
    w = IcebergTableWriter.__new__(IcebergTableWriter)
    sel = [F.col("i")]
    for kind in ("year", "month", "day", "hour"):
        pf = {"kind": kind, "source_name": "ts", "src_type": "timestamp"}
        sel.append(IcebergTableWriter._transform_col(w, pf).alias(kind))
    got = {r["i"]: r for r in df.select(*sel).collect()}
    for i, ts in rows:
        for kind in ("year", "month", "day", "hour"):
            want = apply_iceberg_transform(kind, ts, "timestamp")
            assert got[i][kind] == want, (kind, ts, got[i][kind], want)


def test_rollback_to_timestamp(spark, tmp_path):
    """CALL rollback_to_timestamp: resolve via the snapshot log, roll
    back in one metadata write; a pre-table time raises and rolls back
    nothing."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        resolve_snapshot_at_timestamp,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "rollts")
    w = IcebergTableWriter(spark, d)
    s1 = w.append(n.filter("n_nationkey < 12"))
    w.append(n.filter("n_nationkey >= 12"))
    _pin_snapshot_log_timestamps(d, [100_000, 200_000])
    sid = w.rollback_to_timestamp(199_999)
    assert sid == s1
    assert scan_iceberg_table(spark, d).count() == 12
    # the rollback re-wrote metadata (fresh real stamps + the rollback's
    # own log entry): re-pin and check resolution over the new shape
    _pin_snapshot_log_timestamps(d, [100_000, 200_000, 300_000])
    with pytest.raises(ValueError, match="older than"):
        w.rollback_to_timestamp(99_999)
    assert resolve_snapshot_at_timestamp(d, 199_999) == s1


def test_round14_review_fixes_second_pass(spark, tmp_path):
    """Second-pass review pins: (1) a failed WAP staged commit leaks
    nothing into main; (2) an UPDATE with an invalid assignment RHS
    fails CLEANLY — no staged delete manifests ride the next commit;
    (3) expire_snapshots prunes rollback snapshot-log extras whose
    snapshot expired; (4) version+timestamp scans refuse."""
    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "wabort")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))

    # (1) WAP staged commit failure: full rollback, later append is clean
    real = w._write_metadata

    def boom(now_ms):
        raise OSError("simulated metadata write failure")

    pre_m = list(w._manifests)
    pre_v, pre_q = w._version, w._sequence
    w._write_metadata = boom
    with pytest.raises(OSError, match="simulated"):
        w.append(n.filter("n_nationkey >= 10"), wap_id="audit-x")
    w._write_metadata = real
    assert w._manifests == pre_m
    assert (w._version, w._sequence) == (pre_v, pre_q)
    w.append(n.filter("n_nationkey >= 10"))
    assert scan_iceberg_table(spark, d).count() == 25  # no leaked rows

    # (2) invalid assignment RHS: clean failure, no phantom delete debt
    pre_m_len = len(w._manifests)
    pre_v = w._version
    with pytest.raises(Exception, match="(?i)unresolved|cannot|not_a_fn"):
        w.update_where_mor("n_nationkey = 1", {"n_name": "not_a_fn(99)"})
    assert len(w._manifests) == pre_m_len and w._version == pre_v
    assert scan_iceberg_table(spark, d).count() == 25  # nothing hidden

    # (3) expire prunes _log_extra of expired snapshots
    d2 = str(tmp_path / "logextra")
    w2 = IcebergTableWriter(spark, d2)
    s1 = w2.append(n.filter("n_nationkey < 10"))
    s2 = w2.append(n.filter("n_nationkey >= 10"))
    w2.rollback_to_snapshot(s1)
    s3 = w2.append(n.filter("n_nationkey >= 10"))
    w2.rollback_to_snapshot(s2)  # extra log entry for s2
    w2.rollback_to_snapshot(s3)
    # retention walks the head's ancestor chain (s3 → s1), so exactly s2
    # expires — the rollback _log_extra entry naming it must be pruned
    w2.expire_snapshots(retain_last=2)
    meta = read_table_metadata(d2)
    snap_ids = {s["snapshot-id"] for s in meta["snapshots"]}
    log_ids = {e["snapshot-id"] for e in meta["snapshot-log"]}
    assert log_ids <= snap_ids  # no log row names an expired snapshot

    # (4) version + timestamp refusal
    with pytest.raises(ValueError, match="only one of"):
        scan_iceberg_table(spark, d2, version=1, as_of_timestamp_ms=1)


def test_changelog_pos_plus_eq_same_commit_single_emit(spark, tmp_path):
    """ADVICE r15 (r14 #1): ONE commit adding BOTH a position delete and
    an equality delete hitting the SAME surviving row must emit that row
    as exactly ONE changelog 'delete' — the eq-victim frame is anti-
    joined against the commit's own new position ordinals."""
    import uuid as _uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        CONTENT_POSITION_DELETES,
        scan_iceberg_changelog,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "poseq")
    w = IcebergTableWriter(spark, d)
    v1 = w.append(n.filter("n_nationkey < 10").orderBy("n_nationkey"))
    files, _ = iceberg_snapshot_files(d)
    assert len(files) == 1
    # one commit, both flavors: pos ordinal 4 (= key 4, sorted append)
    # AND an equality delete on keys {4, 6} — key 4 is doubly hit
    w._version += 1
    w._sequence += 1
    sid = int(_uuid.uuid4().int % (1 << 62))
    pos_path = os.path.join(
        w.data_dir, f"00000-{w._version}-{w._uuid}-deletes-00001.parquet"
    )
    pq.write_table(
        pa.table(
            {
                "file_path": pa.array([files[0]["file_path"]], pa.string()),
                "pos": pa.array([4], pa.int64()),
            }
        ),
        pos_path,
    )
    _, eq_files = w._eq_delete_files(["n_nationkey"], [(4,), (6,)])
    w._append_delete_manifest(
        sid, [(pos_path, 1, {}, CONTENT_POSITION_DELETES, None)] + eq_files
    )
    w._commit_snapshot(sid, "delete")
    assert scan_iceberg_table(spark, d).count() == 8
    ch = scan_iceberg_changelog(spark, d, from_snapshot_id=v1).collect()
    got = sorted((r["_change_type"], r["n_nationkey"]) for r in ch)
    assert got == [("delete", 4), ("delete", 6)], got


def test_merge_mor_positions_cardinality_check(spark, tmp_path):
    """ADVICE r15 (r14 #2): stock MERGE raises when a TARGET row matches
    more than one source row; duplicate source keys that match NOTHING
    stay legal (each inserts)."""
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "mergecard")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    dup_hit = local_df(
        spark,
        [(4, "A", 0), (4, "B", 0), (30, "NEW", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    with pytest.raises(ValueError, match="cardinality"):
        w.merge_upsert_mor_positions(dup_hit, ["n_nationkey"])
    assert scan_iceberg_table(spark, d).count() == 10  # nothing committed
    # duplicate keys matching NO target row: both insert, no raise
    dup_miss = local_df(
        spark,
        [(40, "X", 0), (40, "Y", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    w.merge_upsert_mor_positions(dup_miss, ["n_nationkey"])
    assert scan_iceberg_table(spark, d).count() == 12


def test_merge_mor_cardinality_outranks_row_ceiling(spark, tmp_path, monkeypatch):
    """A MoR MERGE that both violates cardinality and stages more delete
    files than the collect's row ceiling raises the cardinality
    ValueError, not MaterializeCeilingError; a merge over the ceiling
    alone still raises the ceiling error. Neither leaves a staged delete
    file or a commit behind."""
    import os

    from lakefs_iceberg_catalog_spark.operators import util
    from lakefs_iceberg_catalog_spark.operators.util import (
        MaterializeCeilingError,
        local_df,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "mergeceiling")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey >= 10 AND n_nationkey < 20"))
    monkeypatch.setattr(util.bounded_rows, "__defaults__", (1,))
    schema = "n_nationkey int, n_name string, n_regionkey int"

    def staged_deletes():
        return [f for f in os.listdir(w.data_dir) if "-deletes-" in f]

    both = local_df(spark, [(4, "A", 0), (4, "B", 0), (12, "C", 0)], schema)
    with pytest.raises(ValueError, match="cardinality"):
        w.merge_upsert_mor_positions(both, ["n_nationkey"])
    assert staged_deletes() == []
    over = local_df(spark, [(4, "A", 0), (12, "C", 0)], schema)
    with pytest.raises(MaterializeCeilingError):
        w.merge_upsert_mor_positions(over, ["n_nationkey"])
    assert staged_deletes() == []
    assert scan_iceberg_table(spark, d).count() == 20  # nothing committed


def test_remove_orphans_aborts_on_unreadable_newest_metadata(
    spark, tmp_path, monkeypatch
):
    """ADVICE r15 (r14 #3): when the NEWEST listed v*.metadata.json
    cannot be read (listdir saw it, open lost a race), the destructive
    sweep must ABORT — not fall through to older tolerant chains with a
    possibly-incomplete referenced set."""
    import lakefs_iceberg_catalog_spark.catalog.iceberg_format as icef

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "orphrace")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey >= 10"))
    newest = max(
        int(m.group(1))
        for name in os.listdir(w.meta_dir)
        if (m := icef._METADATA_RE.match(name))
    )
    real = icef._read_metadata_file

    def racy(path):
        if path.endswith(f"v{newest}.metadata.json"):
            return None  # simulate FileNotFoundError-at-open race
        return real(path)

    monkeypatch.setattr(icef, "_read_metadata_file", racy)
    with pytest.raises(FileNotFoundError, match="newest metadata"):
        w.remove_orphan_files()


def test_commit_guard_shallow_manifest_snapshot(spark, tmp_path):
    """ADVICE r15 (r14 #4): the guard snapshots manifests with a SHALLOW
    list copy — sound because manifest-entry dicts are write-once (every
    state change is list-level). Pins (a) restore-on-failure still heals
    the list exactly, preserving entry-dict identity, and (b) the
    write-once discipline across a mixed DML history: entry dicts
    surviving a commit are the SAME objects, unmutated."""
    import copy as _copy

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "shallowguard")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))

    # (a) forced commit failure: list healed, same dict objects back
    pre_ids = [id(m) for m in w._manifests]
    pre_deep = _copy.deepcopy(w._manifests)
    real = w._write_metadata

    def boom(now_ms):
        raise OSError("simulated metadata write failure")

    w._write_metadata = boom
    with pytest.raises(OSError, match="simulated"):
        w.append(n.filter("n_nationkey >= 10"))
    w._write_metadata = real
    assert [id(m) for m in w._manifests] == pre_ids
    assert w._manifests == pre_deep

    # (b) write-once across DML that rewrites the manifest SET: the
    # carried-over entries keep identity and content
    before = {id(m): _copy.deepcopy(m) for m in w._manifests}
    w.delete_where_mor("n_nationkey = 3")
    w.update_where_mor("n_nationkey = 5", {"n_name": "'X'"})
    for m in w._manifests:
        if id(m) in before:
            assert m == before[id(m)]  # never mutated in place
    assert scan_iceberg_table(spark, d).count() == 9  # key 3 deleted


def test_snapshot_migrate_guards_and_failure_restore(spark, tmp_path):
    """Round 15 snapshot/migrate edges: snapshot refuses on a non-fresh
    table and on an empty source dir; a failing add_files leaves the fresh
    writer FULLY fresh (schema restored), so a retry works; migrate's
    table serves time travel from v1."""
    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        migrate_parquet_to_iceberg,
    )
    from lakefs_iceberg_catalog_spark.catalog.parquet_io import (
        write_single_parquet,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    legacy = tmp_path / "legacy"
    legacy.mkdir()
    write_single_parquet(n, str(legacy / "part-0.parquet"))

    d = str(tmp_path / "snap")
    w = IcebergTableWriter(spark, d)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        w.snapshot_source_parquet(str(empty))
    # forced add_files failure: schema must restore to fresh
    real = w.add_files

    def boom(paths):
        raise OSError("simulated failure")

    w.add_files = boom
    with pytest.raises(OSError, match="simulated"):
        w.snapshot_source_parquet(str(legacy))
    assert w._schema_json is None and w._schemas == []
    w.add_files = real
    w.snapshot_source_parquet(str(legacy))  # retry works
    assert scan_iceberg_table(spark, d).count() == 25
    with pytest.raises(ValueError, match="fresh"):
        w.snapshot_source_parquet(str(legacy))

    mig_dir = tmp_path / "mig"
    mig_dir.mkdir()
    write_single_parquet(n.filter("n_nationkey < 10"), str(mig_dir / "p.parquet"))
    mw = migrate_parquet_to_iceberg(spark, str(mig_dir))
    mw.append(n.filter("n_nationkey >= 10"))
    assert scan_iceberg_table(spark, str(mig_dir)).count() == 25
    assert scan_iceberg_table(spark, str(mig_dir), version=1).count() == 10


def test_rewrite_data_zorder_guards(spark, tmp_path):
    """zorder_by validation: unknown columns and identity partition
    columns refuse; rows are preserved across the clustered rewrite."""
    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "zg")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    for rk in range(5):
        w.append(n.filter(f"n_regionkey = {rk}"))
    with pytest.raises(ValueError, match="unknown columns"):
        w.rewrite_data(zorder_by=["ghost"])
    with pytest.raises(ValueError, match="partition columns"):
        w.rewrite_data(zorder_by=["n_regionkey", "n_nationkey"])
    before = sorted(
        map(tuple, scan_iceberg_table(spark, d).collect())
    )
    w.rewrite_data(target_files=2, zorder_by=["n_nationkey"])
    after = sorted(map(tuple, scan_iceberg_table(spark, d).collect()))
    assert before == after  # row-preserving, per-partition clustering


def test_append_many_matches_sequential_appends(spark, tmp_path):
    """append_many = N appends, 1 staged write job (round 15 optimization):
    pins byte-level table-state equivalence on BOTH layouts it fast-paths —
    unpartitioned and identity-int-partitioned — against a sequentially
    appended twin: same snapshot count, same per-snapshot file counts, same
    rows, same partition pruning, and incremental scans see each slice."""
    n = _nation(spark)
    slices = [n.filter(F.col("n_regionkey") == rk) for rk in range(5)]

    for part in (None, ["n_regionkey"]):
        d_many = str(tmp_path / f"many-{bool(part)}")
        d_seq = str(tmp_path / f"seq-{bool(part)}")
        wm = IcebergTableWriter(spark, d_many, partition_by=part)
        ws = IcebergTableWriter(spark, d_seq, partition_by=part)
        snaps = wm.append_many(slices)
        for s in slices:
            ws.append(s)
        assert len(snaps) == 5
        mm, sm = read_table_metadata(d_many), read_table_metadata(d_seq)
        assert len(mm["snapshots"]) == len(sm["snapshots"]) == 5
        assert sorted(map(tuple, scan_iceberg_table(spark, d_many).collect())) == sorted(
            map(tuple, scan_iceberg_table(spark, d_seq).collect())
        )
        # one data file per snapshot on both
        dm, _ = iceberg_snapshot_files(d_many)
        ds, _ = iceberg_snapshot_files(d_seq)
        assert len(dm) == len(ds) == 5
        if part:
            pr = scan_iceberg_table(spark, d_many, partition_filter={"n_regionkey": 2})
            assert len(pr.inputFiles()) == 1  # manifest pruning intact
            assert pr.count() == slices[2].count()
        # incremental between consecutive snapshots = exactly one slice
        from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
            scan_iceberg_incremental,
        )

        inc = scan_iceberg_incremental(spark, d_many, snaps[2], snaps[3])
        assert sorted(map(tuple, inc.collect())) == sorted(
            map(tuple, slices[3].collect())
        )

    def twins(tag, frames, **writer_kw):
        """Batch vs sequential appends of ``frames``: same rows, same
        manifest partition tuples, and ONE write job for the batch."""
        dirs = []
        for mode in ("many", "seq"):
            d = str(tmp_path / f"{tag}-{mode}")
            w = IcebergTableWriter(spark, d, **writer_kw)
            if mode == "many":
                snaps, jobs = jobs_of(spark, lambda: w.append_many(frames))
                assert len(snaps) == len(frames)
                assert jobs == 1, jobs
            else:
                for f in frames:
                    w.append(f)
            dirs.append(d)
        (fm, _), (fs, _) = (iceberg_snapshot_files(d) for d in dirs)
        assert len(fm) == len(fs) == len(frames)
        assert sorted(map(str, (f["partition"] for f in fm))) == sorted(
            map(str, (f["partition"] for f in fs))
        )
        rows = [sorted(map(tuple, scan_iceberg_table(spark, d).collect()))
                for d in dirs]
        assert rows[0] == rows[1]
        assert len(rows[0]) == sum(f.count() for f in frames)
        return fm

    # bucket + truncate transforms (an int bucket, a string truncate)
    named = [
        s.withColumn("region", F.concat(F.lit("R"), F.col("n_regionkey")))
        for s in slices
    ]
    fm = twins(
        "bt", named,
        partition_by=["bucket(n_regionkey, 3)", "truncate(region, 2)"],
    )
    assert sorted(f["partition"]["region_trunc"] for f in fm) == [
        f"R{rk}" for rk in range(5)
    ]
    # ORC data files, unpartitioned and identity-partitioned
    twins("orc", slices, file_format="orc")
    twins("orcp", slices, file_format="orc", partition_by=["n_regionkey"])
    # timestamp partitions under a non-UTC session time zone (the staged
    # directory text must not depend on the session zone)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        stamped = [
            s.withColumn(
                "ts",
                F.timestamp_seconds(
                    F.lit(804_600_000) + F.col("n_regionkey") * 7200
                    + F.col("n_nationkey")
                ),
            )
            for s in slices
        ]
        fm = twins("ts", stamped, partition_by=["hours(ts)"])
        assert len({f["partition"]["ts_hour"] for f in fm}) == 5
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_append_many_fallbacks(spark, tmp_path):
    """Shapes the old fast path could not prove: a multi-valued slice on
    a partitioned table still raises (single-valued invariant), and a
    string truncate transform stages like any other and produces the
    same rows."""
    n = _nation(spark)
    d = str(tmp_path / "bad")
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"])
    with pytest.raises(ValueError):
        w.append_many([n.filter(F.col("n_regionkey") == 0), n])
    # truncate transform: staged directories prove it, same rows
    d2 = str(tmp_path / "trunc")
    w2 = IcebergTableWriter(spark, d2, partition_by=["truncate(n_name, 8)"])
    a = n.filter(F.col("n_nationkey").isin(1, 10, 11))  # all 'NATION_1'
    b = n.filter(F.col("n_nationkey").isin(2, 20, 21))  # all 'NATION_2'
    w2.append_many([a, b])
    assert sorted(map(tuple, scan_iceberg_table(spark, d2).collect())) == sorted(
        map(tuple, a.unionByName(b).collect())
    )


def test_append_many_explicit_parquet_on_orc_default_table(spark, tmp_path):
    """append_many(dfs, file_format='parquet') on a table whose DEFAULT
    format is orc must register the staged parquet files AS parquet
    (ADVICE r15 #1: the staged commit used to drop the file_format
    argument, re-resolving to the table default — parquet bytes under an
    .orc manifest entry, an unreadable table)."""
    n = _nation(spark)
    d = str(tmp_path / "orcdefault")
    w = IcebergTableWriter(spark, d, file_format="orc")
    snaps = w.append_many(
        [
            n.filter(F.col("n_regionkey") < 2),
            n.filter(F.col("n_regionkey") >= 2),
        ],
        file_format="parquet",
    )
    assert len(snaps) == 2
    files, _ = iceberg_snapshot_files(d)
    assert files and all(f["file_format"] == "PARQUET" for f in files)
    back = scan_iceberg_table(spark, d)
    assert back.count() == n.count()
    assert all(p.endswith(".parquet") for p in back.inputFiles())


def test_append_many_string_identity_partitions_fast_path(spark, tmp_path):
    """String identity partitions batch through the one staged write
    (VERDICT r15 #6) — their values are read off the staged directory
    names, exact at any length. Equivalence is pinned against a
    sequentially appended twin; the job count asserts the whole batch
    took ONE write job."""
    n = _nation(spark).withColumn(
        "region_name", F.concat(F.lit("R"), F.col("n_regionkey"))
    )
    slices = [n.filter(F.col("n_regionkey") == rk) for rk in range(5)]

    d_many = str(tmp_path / "smany")
    wm = IcebergTableWriter(spark, d_many, partition_by=["region_name"])
    snaps, jobs = jobs_of(spark, lambda: wm.append_many(slices))
    assert len(snaps) == 5
    assert jobs == 1, jobs  # every slice staged by the one write job

    d_seq = str(tmp_path / "sseq")
    ws = IcebergTableWriter(spark, d_seq, partition_by=["region_name"])
    for s in slices:
        ws.append(s)
    assert sorted(map(tuple, scan_iceberg_table(spark, d_many).collect())) == sorted(
        map(tuple, scan_iceberg_table(spark, d_seq).collect())
    )
    # manifest partition values identical to the sequential twin's
    fm, _ = iceberg_snapshot_files(d_many)
    fs, _ = iceberg_snapshot_files(d_seq)
    assert sorted(
        (f["partition"] or {}).get("region_name") for f in fm
    ) == sorted((f["partition"] or {}).get("region_name") for f in fs)
    # partition pruning intact on the staged layout
    pr = scan_iceberg_table(spark, d_many, partition_filter={"region_name": "R2"})
    assert pr.count() == slices[2].count()
    assert len(pr.inputFiles()) == 1
    # a multi-valued string slice still RAISES
    import pytest as _pytest

    d_bad = str(tmp_path / "sbad")
    wb = IcebergTableWriter(spark, d_bad, partition_by=["region_name"])
    with _pytest.raises(ValueError):
        wb.append_many([slices[0], n])


def test_append_many_temporal_transform_fast_path(spark, tmp_path):
    """Day/month/year transforms over DATE columns batch through the one
    staged write — the slice is single-tupled iff its TRANSFORMED values
    staged into one directory, even when the raw dates differ (a whole
    month per slice). Twin-pinned against sequential appends; the job
    count asserts ONE write job for the batch; a cross-month slice still
    raises."""
    from lakefs_iceberg_catalog_spark.tables import table as _tbl

    from .conftest import SF_DIR

    o = (
        _tbl(spark, SF_DIR, "orders")
        .filter("o_orderdate between '1995-01-01' and '1995-04-30'")
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )
    slices = [o.filter(F.month("o_orderdate") == m) for m in (1, 2, 3, 4)]

    d_many = str(tmp_path / "tmany")
    wm = IcebergTableWriter(spark, d_many, partition_by=["months(o_orderdate)"])
    snaps, jobs = jobs_of(spark, lambda: wm.append_many(slices))
    assert len(snaps) == 4
    assert jobs == 1, jobs  # every slice staged by the one write job

    d_seq = str(tmp_path / "tseq")
    ws = IcebergTableWriter(spark, d_seq, partition_by=["months(o_orderdate)"])
    for s in slices:
        ws.append(s)
    fm, _ = iceberg_snapshot_files(d_many)
    fs, _ = iceberg_snapshot_files(d_seq)
    # transformed manifest tuples identical to the sequential twin's
    assert sorted(
        (f["partition"] or {}).get("o_orderdate_month") for f in fm
    ) == sorted((f["partition"] or {}).get("o_orderdate_month") for f in fs)
    assert sorted(map(tuple, scan_iceberg_table(spark, d_many).collect())) == sorted(
        map(tuple, scan_iceberg_table(spark, d_seq).collect())
    )
    # hidden partition pruning intact on the staged layout
    import datetime as _dt

    pruned = scan_iceberg_table(
        spark, d_many,
        hidden_filter={"o_orderdate": _dt.datetime(1995, 3, 15)},
    )
    assert len(pruned.inputFiles()) == 1
    # a cross-month slice is NOT single-tupled: it raises
    import pytest as _pytest

    d_bad = str(tmp_path / "tbad")
    wb = IcebergTableWriter(spark, d_bad, partition_by=["months(o_orderdate)"])
    with _pytest.raises(ValueError, match="one distinct partition-value"):
        wb.append_many([slices[0], o])


def _five_tuple_table(spark, d, null_tuple=False, **kw):
    """A nation table partitioned by n_regionkey: one append per region
    (5 partition tuples); with ``null_tuple`` region 4's rows carry a
    NULL n_regionkey instead, so the fifth tuple is the NULL one."""
    n = _nation(spark)
    slices = [n.filter(F.col("n_regionkey") == rk) for rk in range(5)]
    if null_tuple:
        slices[4] = slices[4].withColumn(
            "n_regionkey", F.lit(None).cast(n.schema["n_regionkey"].dataType)
        )
    w = IcebergTableWriter(spark, d, partition_by=["n_regionkey"], **kw)
    w.append_many(slices)
    return w


@pytest.mark.parametrize(
    "fmt,sort", [("parquet", False), ("avro", False), ("parquet", True)]
)
def test_rewrite_data_keeps_null_partition_rows(spark, tmp_path, fmt, sort):
    """Compaction of a table whose fifth partition tuple is NULL keeps
    every row: the NULL tuple's rows land in their own file with a NULL
    partition value (the per-tuple ``==`` filter once matched nothing
    there and dropped 5 of 25 rows)."""
    d = str(tmp_path / "nullpart")
    w = _five_tuple_table(spark, d, null_tuple=True, file_format=fmt)
    if sort:
        w.set_sort_order(["n_nationkey"])
    before = sorted(map(tuple, scan_iceberg_table(spark, d).collect()))
    assert len(before) == 25
    w.rewrite_data()
    after = sorted(map(tuple, scan_iceberg_table(spark, d).collect()))
    assert after == before
    data, _ = iceberg_snapshot_files(d)
    assert sorted(
        (str(f["partition"]["n_regionkey"]), f["record_count"]) for f in data
    ) == [("0", 5), ("1", 5), ("2", 5), ("3", 5), ("None", 5)]
    nulls = scan_iceberg_table(spark, d).filter("n_regionkey is null")
    assert sorted(r["n_nationkey"] for r in nulls.collect()) == sorted(
        r["n_nationkey"] for r in _nation(spark).filter("n_regionkey = 4").collect()
    )


def test_row_level_rewrites_stage_once(spark, tmp_path, monkeypatch):
    """On a 5-tuple table every row-level rewrite writes its new data
    files through ONE staging call (one file per touched tuple), never
    through the single-file writers."""
    from lakefs_iceberg_catalog_spark.catalog import parquet_io

    calls = {"staged": 0, "single": 0}
    real = parquet_io.staged_slices

    def spy(*a, **k):
        calls["staged"] += 1
        return real(*a, **k)

    def single(*a, **k):
        calls["single"] += 1
        raise AssertionError("single-file write on a row-level rewrite")

    d = str(tmp_path / "stage1")
    w = _five_tuple_table(spark, d)
    # the k-th smallest nation key of every region: each predicate below
    # touches all five tuples
    by_region: dict = {}
    for r in _nation(spark).collect():
        by_region.setdefault(r["n_regionkey"], []).append(r["n_nationkey"])
    kth = [sorted(sorted(ks)[k] for ks in by_region.values()) for k in range(3)]
    monkeypatch.setattr(parquet_io, "staged_slices", spy)
    monkeypatch.setattr(parquet_io, "write_single_parquet", single)
    monkeypatch.setattr(parquet_io, "write_single_orc", single)
    for op in (
        lambda: w.delete_where_cow(f"n_nationkey in {tuple(kth[0])}"),
        lambda: w.update_where_cow(
            f"n_nationkey in {tuple(kth[1])}", {"n_name": "'C'"}
        ),
        lambda: w.update_where_mor(
            f"n_nationkey in {tuple(kth[2])}", {"n_name": "'M'"}
        ),
    ):
        calls.update(staged=0, single=0)
        op()
        assert calls == {"staged": 1, "single": 0}, calls
    rows = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_iceberg_table(spark, d).collect()
    }
    assert len(rows) == 20 and not set(kth[0]) & set(rows)
    assert sorted(k for k, v in rows.items() if v == "C") == kth[1]
    assert sorted(k for k, v in rows.items() if v == "M") == kth[2]
    # one new file per touched tuple, typed partitions intact
    data, _ = iceberg_snapshot_files(d)
    added = [f for f in data if f["record_count"] == 1]
    assert sorted(f["partition"]["n_regionkey"] for f in added) == list(range(5))
    pruned = scan_iceberg_table(spark, d, partition_filter={"n_regionkey": 2})
    assert pruned.count() == 4


def test_cow_delete_of_whole_file_adds_no_empty_file(spark, tmp_path):
    """A CoW DELETE that removes every row of the file it touches adds
    no data file and no manifest: there are no surviving rows to land
    (a 0-row data file used to be committed)."""
    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "wholefile")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))
    w.append(n.filter("n_nationkey >= 10"))
    w.delete_where_cow("n_nationkey < 10")
    data, _ = iceberg_snapshot_files(d)
    assert [f["record_count"] for f in data] == [15]
    meta = read_table_metadata(d)
    summary = meta["snapshots"][-1]["summary"]
    assert summary["operation"] == "overwrite"
    assert summary["added-data-files"] == "0"
    cur = meta["current-snapshot-id"]
    assert not [m for m in w._manifests if m["added_snapshot_id"] == cur]
    assert scan_iceberg_table(spark, d).count() == 15


def test_wap_commit_failure_leaves_writer_clean(spark, tmp_path):
    """A WAP-staged append whose metadata write fails restores every
    writer field: no phantom staged snapshot, no staged manifest in
    main's live set, the wap id stays unpublished, and the next append
    and a retried stage behave as if the failure never happened."""
    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "wapfail")
    w = IcebergTableWriter(spark, d)
    w.append(n.filter("n_nationkey < 10"))

    def state():
        return (
            len(w._snapshots), w._version, w._sequence,
            list(w._manifests), set(w._staged_ids),
            dict(w._staged_manifests), dict(w._pending_summary),
            w._current_snapshot_id,
        )

    pre = state()
    real = w._write_metadata

    def boom(now_ms):
        raise OSError("simulated metadata write failure")

    w._write_metadata = boom
    with pytest.raises(OSError, match="simulated"):
        w.append(n.filter("n_nationkey between 10 and 14"), wap_id="w1")
    w._write_metadata = real
    assert state() == pre
    with pytest.raises(ValueError, match="no staged snapshot"):
        w.cherry_pick_snapshot(wap_id="w1")
    # the next plain append carries no staged rows
    w.append(n.filter("n_nationkey >= 15"))
    assert scan_iceberg_table(spark, d).count() == 20
    meta = read_table_metadata(d)
    assert len(meta["snapshots"]) == 2
    assert not any("wap.id" in s["summary"] for s in meta["snapshots"])
    # a retried stage works and publishes exactly its rows
    w.append(n.filter("n_nationkey between 10 and 14"), wap_id="w1")
    assert scan_iceberg_table(spark, d).count() == 20
    w.cherry_pick_snapshot(wap_id="w1")
    assert scan_iceberg_table(spark, d).count() == 25
