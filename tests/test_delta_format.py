"""Delta Lake transaction-log interop (catalog/delta_format.py), per the
public Delta protocol (github.com/delta-io/delta PROTOCOL.md): JSON commit
fold, version time travel, and CHECKPOINTS — parquet base state +
`_last_checkpoint`, the mechanism that bounds the log walk at scale and
lets old JSON commits be truncated."""

from __future__ import annotations

import json
import os

import pytest

from lakefs_iceberg_catalog_spark.catalog.delta_format import (
    DeltaTableWriter,
    read_delta_log,
    scan_delta_table,
)

from .conftest import SF_DIR, jobs_of


def _nation(spark):
    from lakefs_iceberg_catalog_spark.tables import table

    return table(spark, SF_DIR, "nation")


@pytest.fixture
def delta(spark, tmp_path):
    """3-commit fixture: v0 adds low nations, v1 adds the rest, v2 removes
    v0's file. Live head = nations >= 12."""
    d = str(tmp_path / "delta")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    w.commit(add_dfs=[n.where("n_nationkey >= 12")])
    with open(os.path.join(d, "_delta_log", f"{0:020d}.json")) as f:
        v0_adds = [
            json.loads(line)["add"]["path"]
            for line in f.read().splitlines()
            if '"add"' in line
        ]
    w.commit(remove=v0_adds)
    return d, w


def test_fold_and_time_travel(spark, delta):
    d, _w = delta
    assert scan_delta_table(spark, d).count() == 13
    assert scan_delta_table(spark, d, version=1).count() == 25
    assert scan_delta_table(spark, d, version=0).count() == 12


def test_checkpoint_is_base_state(spark, delta):
    """After checkpoint(), the fold starts from the parquet base; later
    commits fold on top; results identical to the pure-JSON fold."""
    d, w = delta
    cp_v = w.checkpoint()
    assert cp_v == 2
    lc = json.load(open(os.path.join(d, "_delta_log", "_last_checkpoint")))
    assert lc["version"] == 2
    assert os.path.exists(
        os.path.join(d, "_delta_log", f"{2:020d}.checkpoint.parquet")
    )
    # head fold through the checkpoint
    assert scan_delta_table(spark, d).count() == 13
    # a LATER commit folds on top of the checkpoint base
    w.commit(add_dfs=[_nation(spark).where("n_nationkey < 3")])
    keys = {r["n_nationkey"] for r in scan_delta_table(spark, d).collect()}
    assert keys == {0, 1, 2} | set(range(12, 25))


def test_checkpoint_time_travel_across_boundary(spark, delta):
    """Versions BEFORE the checkpoint stay reachable while their JSON
    commits exist (folded from 0, ignoring the checkpoint)."""
    d, w = delta
    w.checkpoint()
    assert scan_delta_table(spark, d, version=1).count() == 25
    assert scan_delta_table(spark, d, version=0).count() == 12


def test_truncated_log_reads_head_but_refuses_old_versions(spark, delta):
    """The point of checkpoints: JSON commits <= checkpoint version can be
    deleted. Head (and versions >= cp) still read; earlier versions raise
    loudly instead of mis-folding."""
    d, w = delta
    w.checkpoint()
    for v in (0, 1):
        os.remove(os.path.join(d, "_delta_log", f"{v:020d}.json"))
    assert scan_delta_table(spark, d).count() == 13
    assert scan_delta_table(spark, d, version=2).count() == 13
    with pytest.raises(ValueError, match="truncated by checkpoint"):
        read_delta_log(d, version=1)


def test_multipart_checkpoint(spark, delta):
    """_last_checkpoint with parts=N reads <v>.checkpoint.<i>.<N>.parquet
    slices (real writers shard big checkpoints)."""
    import pyarrow.parquet as pq

    d, w = delta
    w.checkpoint()
    log_dir = os.path.join(d, "_delta_log")
    single = os.path.join(log_dir, f"{2:020d}.checkpoint.parquet")
    t = pq.read_table(single)
    # split rows into two part files
    pq.write_table(t.slice(0, 2), os.path.join(log_dir, f"{2:020d}.checkpoint.{1:010d}.{2:010d}.parquet"))
    pq.write_table(t.slice(2), os.path.join(log_dir, f"{2:020d}.checkpoint.{2:010d}.{2:010d}.parquet"))
    os.remove(single)
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        json.dump({"version": 2, "size": t.num_rows, "parts": 2}, f)
    assert scan_delta_table(spark, d).count() == 13


def test_checkpoint_remove_tombstones_tolerated(spark, delta):
    """Checkpoints may carry remove tombstones (kept for VACUUM); they are
    not live files and must not resurrect or break the fold."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d, w = delta
    w.checkpoint()
    log_dir = os.path.join(d, "_delta_log")
    single = os.path.join(log_dir, f"{2:020d}.checkpoint.parquet")
    t = pq.read_table(single)
    # the writer emits the remove column natively now (ADVICE r7 #5)
    remove_t = t.column("remove").type
    # add one tombstone row
    extra = pa.table(
        {
            "protocol": pa.array([None], t.column("protocol").type),
            "metaData": pa.array([None], t.column("metaData").type),
            "add": pa.array([None], t.column("add").type),
            "txn": pa.array([None], t.column("txn").type),
            "remove": pa.array(
                [{"path": "gone.parquet", "deletionTimestamp": 1, "dataChange": True}],
                remove_t,
            ),
        }
    )
    pq.write_table(pa.concat_tables([t, extra]), single)
    state = read_delta_log(d)
    assert "gone.parquet" not in state["files"]
    assert scan_delta_table(spark, d).count() == 13


@pytest.fixture
def delta_partitioned(spark, tmp_path):
    """nation partitioned by n_regionkey: one add per region per the
    protocol (partition cols NOT in the data files, only in the log)."""
    d = str(tmp_path / "deltapart")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    regions = [r["n_regionkey"] for r in n.select("n_regionkey").distinct().collect()]
    for i, rk in enumerate(sorted(regions)):
        w.commit(
            add_dfs=[n.where(f"n_regionkey = {rk}")],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )
    return d, w


def test_partitioned_write_and_read(spark, delta_partitioned):
    """Partition values re-inject as typed columns; data files themselves
    do NOT contain the partition column (protocol parity)."""
    import pyarrow.parquet as pq

    d, _w = delta_partitioned
    state = read_delta_log(d)
    assert state["partition_cols"] == ["n_regionkey"]
    some_add = next(iter(state["files"].values()))
    assert some_add["partitionValues"].keys() == {"n_regionkey"}
    cols = pq.read_schema(os.path.join(d, some_add["path"])).names
    assert "n_regionkey" not in cols  # lives in the log, not the file
    back = scan_delta_table(spark, d)
    src = _nation(spark)
    assert back.count() == 25
    assert set(back.columns) == set(src.columns)
    assert back.schema["n_regionkey"].dataType == src.schema["n_regionkey"].dataType
    assert back.exceptAll(src.select(*back.columns)).count() == 0
    assert src.select(*back.columns).exceptAll(back).count() == 0


def test_partition_filter_prunes_files(spark, delta_partitioned):
    """partition_filter prunes at the LOG level: the scan's input files are
    only the matching partition's — no data IO on pruned partitions."""
    d, _w = delta_partitioned
    out = scan_delta_table(spark, d, partition_filter={"n_regionkey": "2"})
    assert len(out.inputFiles()) == 1  # 5 partitions, 1 file each
    rows = out.collect()
    assert {r["n_regionkey"] for r in rows} == {2}
    assert len(rows) == _nation(spark).where("n_regionkey = 2").count()
    with pytest.raises(ValueError, match="non-partition"):
        scan_delta_table(spark, d, partition_filter={"n_name": "x"})


def test_partitioned_checkpoint_roundtrip(spark, delta_partitioned):
    """partitionValues survive the checkpoint's parquet map column and the
    truncated-log fold."""
    d, w = delta_partitioned
    cp_v = w.checkpoint()
    for v in range(cp_v):  # truncate all pre-checkpoint JSONs
        os.remove(os.path.join(d, "_delta_log", f"{v:020d}.json"))
    back = scan_delta_table(spark, d)
    assert back.count() == 25
    assert {r["n_regionkey"] for r in back.collect()} == set(range(5))
    out = scan_delta_table(spark, d, partition_filter={"n_regionkey": "3"})
    assert len(out.inputFiles()) == 1


# --- deletion vectors (PROTOCOL.md "Deletion Vectors") ----------------------


@pytest.fixture
def delta_dv(spark, tmp_path):
    """One-file nation table (ordinal == n_nationkey) with a stored DV
    deleting {0, 7, 24}, then an inline DV deleting {1} that must MERGE."""
    d = str(tmp_path / "delta_dv")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[_nation(spark).orderBy("n_nationkey")])
    rel = next(iter(read_delta_log(d)["files"]))
    w.delete_rows(rel, [0, 7, 24])
    w.delete_rows(rel, [1], inline=True)
    return d, w, rel


def _keys(spark, d, **kw):
    return sorted(
        r["n_nationkey"] for r in scan_delta_table(spark, d, **kw).collect()
    )


def test_dv_scan_drops_marked_ordinals(spark, delta_dv):
    d, _w, _rel = delta_dv
    assert _keys(spark, d) == [k for k in range(25) if k not in (0, 1, 7, 24)]


def test_dv_time_travel_pre_delete(spark, delta_dv):
    d, _w, _rel = delta_dv
    assert _keys(spark, d, version=0) == list(range(25))
    # first DV commit visible, inline merge not yet
    assert _keys(spark, d, version=1) == [
        k for k in range(25) if k not in (0, 7, 24)
    ]


def test_dv_inline_merges_with_stored(spark, delta_dv):
    """The second delete_rows must union positions — replacing the stored
    DV with only {1} would resurrect rows 0/7/24."""
    d, _w, rel = delta_dv
    dv = read_delta_log(d)["files"][rel]["deletionVector"]
    assert dv["storageType"] == "i" and dv["cardinality"] == 4


def test_dv_protocol_upgrade(spark, delta_dv):
    d, _w, _rel = delta_dv
    proto = read_delta_log(d)["protocol"]
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in proto["readerFeatures"]


def test_dv_survives_checkpoint(spark, delta_dv):
    """Checkpoint add rows must carry the descriptor — dropping it would
    silently resurrect deleted rows once old JSONs truncate."""
    d, w, _rel = delta_dv
    cp_v = w.checkpoint()
    for v in range(cp_v):  # truncate: checkpoint is now the only base
        os.remove(os.path.join(d, "_delta_log", f"{v:020d}.json"))
    assert _keys(spark, d) == [k for k in range(25) if k not in (0, 1, 7, 24)]


def test_dv_on_partitioned_table(spark, tmp_path):
    """DV anti-join composes with the log-only partition-value injection."""
    d = str(tmp_path / "delta_dv_part")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    import pyspark.sql.functions as F

    for i, rk in enumerate(range(5)):
        w.commit(
            add_dfs=[n.filter(F.col("n_regionkey") == rk).orderBy("n_nationkey")],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )
    # region 2's file: delete its first two ordinals
    state = read_delta_log(d)
    rel2 = next(
        rel
        for rel, a in state["files"].items()
        if a["partitionValues"].get("n_regionkey") == "2"
    )
    region2 = sorted(
        r["n_nationkey"]
        for r in n.filter("n_regionkey = 2").orderBy("n_nationkey").collect()
    )
    w.delete_rows(rel2, [0, 1])
    got = sorted(
        r["n_nationkey"]
        for r in scan_delta_table(spark, d)
        .filter("n_regionkey = 2")
        .collect()
    )
    assert got == region2[2:]
    assert scan_delta_table(spark, d).count() == 25 - 2


def test_dv_delete_requires_live_file(spark, delta_dv):
    d, w, _rel = delta_dv
    with pytest.raises(ValueError, match="not a live file"):
        w.delete_rows("nope.parquet", [0])



def test_export_refuses_non_append_history(spark, tmp_path):
    """Both interop exports replay snapshots as appends
    (operators/versioned.py export_history_appends); a history containing
    a remove/MoR-delete commit must refuse loudly — replaying only the
    adds would silently resurrect deleted rows in the exported table."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.operators.versioned import (
        VersionedCatalog,
        export_history_appends,
    )

    root = str(tmp_path / "vcat")
    cat = VersionedCatalog(spark, root)
    cat.create_repository("repo", "main")
    cat.create_namespace("repo.main.db")
    t = "repo.main.db.t"
    cat.create_table_as(t, spark.range(10).withColumnRenamed("id", "k"))
    cat.delete_where(t, "k >= 8")
    with _pytest.raises(NotImplementedError, match="non-append history"):
        export_history_appends(cat, t, lambda df: df)


# --- column mapping (PROTOCOL.md, mode=name) --------------------------------


@pytest.fixture
def delta_cm(spark, tmp_path):
    d = str(tmp_path / "delta_cm")
    w = DeltaTableWriter(spark, d, column_mapping=True)
    w.commit(add_dfs=[_nation(spark)])
    return d, w


def test_cm_physical_names_on_disk_logical_on_scan(spark, delta_cm):
    import pyarrow.parquet as pq

    d, _w = delta_cm
    data = next(f for f in os.listdir(d) if f.endswith(".parquet"))
    phys = [f.name for f in pq.read_schema(os.path.join(d, data))]
    assert all(c.startswith("col-") for c in phys)
    back = scan_delta_table(spark, d)
    assert back.columns == _nation(spark).columns
    assert back.count() == 25


def test_cm_rename_is_metadata_only_with_time_travel(spark, delta_cm):
    d, w = delta_cm
    before = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
    w.rename_column("n_name", "nation_name")
    assert sorted(f for f in os.listdir(d) if f.endswith(".parquet")) == before
    assert "nation_name" in scan_delta_table(spark, d).columns
    assert "n_name" in scan_delta_table(spark, d, version=0).columns


def test_cm_survives_checkpoint_truncation(spark, delta_cm):
    """configuration + schemaString ride the checkpoint metaData struct —
    losing them would surface raw physical column names after log
    truncation."""
    d, w = delta_cm
    w.rename_column("n_name", "nation_name")
    cp = w.checkpoint()
    for v in range(cp):
        os.remove(os.path.join(d, "_delta_log", f"{v:020d}.json"))
    back = scan_delta_table(spark, d)
    assert "nation_name" in back.columns and back.count() == 25


def test_cm_composes_with_deletion_vectors(spark, delta_cm):
    d, w = delta_cm
    rel = next(iter(read_delta_log(d)["files"]))
    w.delete_rows(rel, [0, 1, 2])
    back = scan_delta_table(spark, d)
    assert back.count() == 22
    assert back.columns == _nation(spark).columns


def test_cm_mode_id_resolves_by_parquet_field_id(spark, tmp_path):
    """Column mapping mode=id (VERDICT r8 #6): data files carry col-uuid
    physical names AND parquet field ids; the scan's read schema uses
    the LOGICAL names (absent from the files) + parquet.field.id
    metadata, so a correct non-null read proves field-id resolution —
    physicalName is never consulted. Renames time-travel; partitioned
    id-mode scans and id-mode DML compose (VERDICT r9 #3 — both former
    refusals lifted via _file_read_schema)."""
    import pyarrow.parquet as pq

    d = str(tmp_path / "cmid")
    w = DeltaTableWriter(spark, d, column_mapping="id")
    w.commit(add_dfs=[_nation(spark).select("n_nationkey", "n_name")])
    state = read_delta_log(d)
    assert (
        state["metadata"]["configuration"]["delta.columnMapping.mode"]
        == "id"
    )
    rel = next(iter(state["files"]))
    sch = pq.read_schema(os.path.join(d, rel))
    assert all(c.startswith("col-") for c in sch.names)
    fids = {
        int(sch.field(i).metadata[b"PARQUET:field_id"])
        for i in range(len(sch.names))
    }
    assert fids == {1, 2}
    back = scan_delta_table(spark, d)
    got = {r["n_nationkey"]: r["n_name"] for r in back.collect()}
    assert len(got) == 25 and got[3] == "NATION_3"  # non-null via ids
    w.rename_column("n_name", "nation_name")
    assert scan_delta_table(spark, d).columns == [
        "n_nationkey",
        "nation_name",
    ]
    assert scan_delta_table(spark, d, version=0).columns == [
        "n_nationkey",
        "n_name",
    ]
    # id-mode DML: merge resolves the probe scan by field id (the new
    # data file re-stamps ids; the renamed column round-trips)
    w.merge_upsert(
        spark.createDataFrame(
            [(1, "MERGED_1"), (30, "NEW_30")],
            "n_nationkey int, nation_name string",
        ),
        ["n_nationkey"],
    )
    got2 = {
        r["n_nationkey"]: r["nation_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    assert got2[1] == "MERGED_1" and got2[30] == "NEW_30"
    assert len(got2) == 26 and got2[3] == "NATION_3"
    # id-mode on a PARTITIONED table: partitionValues stay keyed by the
    # partition column's PHYSICAL name while file columns resolve by id;
    # partition_filter prunes from the log, incl. after a rename of the
    # partition column itself
    np = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d2 = str(tmp_path / "cmid_part")
    w2 = DeltaTableWriter(spark, d2, column_mapping="id")
    for i, rk in enumerate(range(5)):
        w2.commit(
            add_dfs=[np.where(f"n_regionkey = {rk}")],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )
    back2 = scan_delta_table(spark, d2)
    assert back2.count() == 25
    assert {r["n_regionkey"] for r in back2.collect()} == set(range(5))
    w2.rename_column("n_regionkey", "region_id")
    pruned = scan_delta_table(spark, d2, partition_filter={"region_id": "2"})
    rows = pruned.collect()
    assert len(rows) == 5 and all(r["region_id"] == 2 for r in rows)


def test_cm_guards(spark, tmp_path, delta_cm):
    d, w = delta_cm
    with pytest.raises(ValueError, match="no column"):
        w.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        w.rename_column("n_name", "n_regionkey")
    w2 = DeltaTableWriter(spark, str(tmp_path / "plain"))
    w2.commit(add_dfs=[_nation(spark)])
    with pytest.raises(NotImplementedError, match="column mapping"):
        w2.rename_column("n_name", "x")


def test_cm_partitioned_composes(spark, tmp_path):
    """Column mapping + partitioning COMPOSE (the protocol supports both
    at once): add.partitionValues keys are the partition columns'
    PHYSICAL names, partitionColumns stays logical; scans re-inject and
    prune; renaming a partition column is metadata-only and updates
    partitionColumns; CDF change rows carry the renamed injected values."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
        read_delta_log,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "cmpart")
    w = DeltaTableWriter(spark, d, column_mapping=True)
    for i, rk in enumerate(range(3)):
        w.commit(
            add_dfs=[n.filter(F.col("n_regionkey") == rk)],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )
    state = read_delta_log(d)
    assert state["partition_cols"] == ["n_regionkey"]
    # partitionValues keyed by the PHYSICAL col-uuid, not the logical name
    some_add = next(iter(state["files"].values()))
    (pk,) = some_add["partitionValues"].keys()
    assert pk.startswith("col-")
    back = scan_delta_table(spark, d)
    assert back.count() == 15
    assert {r["n_regionkey"] for r in back.collect()} == {0, 1, 2}
    pruned = scan_delta_table(spark, d, partition_filter={"n_regionkey": "1"})
    assert len(pruned.inputFiles()) == 1 and pruned.count() == 5
    # rename the partition column: metadata-only, pruning keeps working
    w.rename_column("n_regionkey", "region")
    back2 = scan_delta_table(spark, d)
    assert "region" in back2.columns and back2.count() == 15
    pruned2 = scan_delta_table(spark, d, partition_filter={"region": "2"})
    assert pruned2.count() == 5
    # CDF across a partition-file drop injects the renamed values
    files = read_delta_log(d)["files"]
    r0 = [rel for rel, a in files.items()
          if list(a["partitionValues"].values()) == ["0"]]
    w.commit(remove=r0)
    ch = delta_table_changes(spark, d, 3, 4)
    rows = ch.collect()
    assert {r["_change_type"] for r in rows} == {"delete"}
    assert all(r["region"] == 0 for r in rows) and len(rows) == 5
    # and MERGE composes with BOTH: partition-pruned probe on the mapped
    # partitioned table, addressed by the renamed logical names
    src = spark.createDataFrame(
        [(6, "UP_6", 1), (40, "NEW_40", 2)],
        "n_nationkey int, n_name string, region int",
    )
    pre_files = set(read_delta_log(d)["files"])
    w.merge_upsert(src, ["n_nationkey", "region"])
    post = read_delta_log(d)["files"]
    assert len(pre_files - set(post)) == 1  # only region 1's file rewrote
    back3 = scan_delta_table(spark, d)
    assert back3.count() == 11  # 10 survivors (region 0 dropped) + insert
    got = {r["n_nationkey"]: (r["n_name"], r["region"]) for r in back3.collect()}
    assert got[6] == ("UP_6", 1) and got[40] == ("NEW_40", 2)


def test_cm_id_mode_missing_footer_ids_fails_loudly(spark, delta_cm):
    """mode=id reads resolve STRICTLY by parquet field id (round 9): a
    table whose log claims mode=id but whose data files carry NO footer
    field ids must fail loudly at read — never silently fall back to
    physical-name resolution (Spark's field-id reader errors on missing
    ids; that loud failure is the contract)."""
    d, _w = delta_cm
    log = os.path.join(d, "_delta_log", f"{0:020d}.json")
    lines = open(log).read().splitlines()
    out = []
    for ln in lines:
        a = json.loads(ln)
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
        out.append(json.dumps(a))
    open(log, "w").write("\n".join(out))
    with pytest.raises(Exception, match="FAILED_READ_FILE|field"):
        scan_delta_table(spark, d).collect()


# --- vacuum -------------------------------------------------------------------


def test_vacuum_safety_invariants(spark, tmp_path):
    """Live files are never deleted (even at retention 0, even with an old
    tombstone superseded by a re-add); young tombstones survive; expired
    tombstones go; vacuum is idempotent; current results are unchanged."""
    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        vacuum_delta_table,
    )

    d = str(tmp_path / "vac")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    with open(os.path.join(d, "_delta_log", f"{0:020d}.json")) as f:
        v0 = sorted(
            json.loads(ln)["add"]["path"]
            for ln in f.read().splitlines()
            if '"add"' in ln
        )
    w.commit(add_dfs=[n.where("n_nationkey >= 12")])
    w.commit(remove=v0)
    # RE-ADD the same physical path: tombstone superseded, file is live
    readd = v0[0]
    now = int(__import__("time").time() * 1000)
    with open(os.path.join(d, "_delta_log", f"{3:020d}.json"), "w") as f:
        f.write(
            json.dumps(
                {
                    "add": {
                        "path": readd,
                        "partitionValues": {},
                        "size": os.path.getsize(os.path.join(d, readd)),
                        "modificationTime": now,
                        "dataChange": True,
                    }
                }
            )
            + "\n"
            + json.dumps({"commitInfo": {"timestamp": now, "operation": "WRITE"}})
        )
    before = scan_delta_table(spark, d).count()
    # young tombstones: nothing deleted
    assert vacuum_delta_table(d, retention_ms=10**12) == []
    # expired: only the still-tombstoned (non-re-added) files go
    gone = vacuum_delta_table(d, retention_ms=0)
    assert gone == [p for p in v0 if p != readd]
    assert os.path.exists(os.path.join(d, readd))  # re-added file survives
    assert vacuum_delta_table(d, retention_ms=0) == gone  # idempotent
    assert scan_delta_table(spark, d).count() == before


def test_vacuum_folds_tombstones_from_checkpoint(spark, tmp_path):
    """Tombstones must ride checkpoints: after checkpoint-enabled JSON
    truncation, VACUUM folds tombstones from the checkpoint (plus the
    JSON tail) — pre-fix the truncation made tombstoned files permanently
    unreclaimable (ADVICE r7 #5)."""
    import glob as _glob

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        vacuum_delta_table,
    )

    d = str(tmp_path / "vaccp")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    with open(os.path.join(d, "_delta_log", f"{0:020d}.json")) as f:
        v0 = sorted(
            json.loads(ln)["add"]["path"]
            for ln in f.read().splitlines()
            if '"add"' in ln
        )
    w.commit(add_dfs=[n.where("n_nationkey >= 12")])
    w.commit(remove=v0)  # tombstone v0's file
    w.checkpoint()
    for f in _glob.glob(os.path.join(d, "_delta_log", "0*.json")):
        os.unlink(f)  # truncate ALL JSON commits — checkpoint is the base
    # the tombstone survived the truncation inside the checkpoint
    state = read_delta_log(d)
    assert set(state["tombstones"]) == set(v0)
    before = scan_delta_table(spark, d).count()
    gone = vacuum_delta_table(d, retention_ms=0)
    assert gone == v0  # reclaimed across the truncation boundary
    assert not os.path.exists(os.path.join(d, v0[0]))
    assert scan_delta_table(spark, d).count() == before


# --- change data feed ---------------------------------------------------------


def test_cdf_classifies_inserts_deletes_and_dv_growth(spark, tmp_path):
    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
    )

    d = str(tmp_path / "cdf")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12").orderBy("n_nationkey")])
    rel0 = next(iter(read_delta_log(d)["files"]))
    w.commit(add_dfs=[n.where("n_nationkey >= 12")])
    w.delete_rows(rel0, [0, 1])
    w.delete_rows(rel0, [2], inline=True)  # DV grows again at v3
    got = {
        (r["n_nationkey"], r["_change_type"])
        for r in delta_table_changes(spark, d, 0, 3).collect()
    }
    want = {(k, "insert") for k in range(12, 25)} | {
        (k, "delete") for k in (0, 1, 2)
    }
    assert got == want
    # narrower window: only the second DV growth
    got2 = {
        (r["n_nationkey"], r["_change_type"])
        for r in delta_table_changes(spark, d, 2, 3).collect()
    }
    assert got2 == {(2, "delete")}
    # full-file remove classifies as deletes of the then-live rows
    w.commit(remove=[rel0])
    got3 = {
        (r["n_nationkey"], r["_change_type"])
        for r in delta_table_changes(spark, d, 3, 4).collect()
    }
    assert got3 == {(k, "delete") for k in range(3, 12)}  # DV'd rows excluded


def test_cdf_guards(spark, tmp_path, delta_dv):
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
    )

    d, _w, _rel = delta_dv
    with _pytest.raises(ValueError, match="greater than"):
        delta_table_changes(spark, d, 2, 2)
    # partitioned tables: the refusal is LIFTED (VERDICT r7 #5) — change
    # rows re-inject the log-only partition values as typed columns
    dpart = str(tmp_path / "cdfpart")
    wp = DeltaTableWriter(spark, dpart)
    wp.commit(
        add_dfs=[_nation(spark).where("n_regionkey = 0")],
        partition_cols=["n_regionkey"],
    )
    wp.commit(add_dfs=[_nation(spark).where("n_regionkey = 1")])
    ch = delta_table_changes(spark, dpart, 0, 1)
    rows = ch.collect()
    assert len(rows) == 5
    assert all(
        r["_change_type"] == "insert" and r["n_regionkey"] == 1 for r in rows
    )


# ------------------------------------------------------------- optimize


def test_optimize_compacts_materializes_dvs_and_guards_cdf(spark, tmp_path):
    """OPTIMIZE invariants: live files collapse to one, deletion vectors
    materialize away, the row set is provably unchanged, the commit is
    dataChange=false (CDF windows crossing it return exactly the
    NON-maintenance changes — stock Delta semantics; VERDICT r10 #2),
    vacuum then reclaims the tombstoned files, and pre-OPTIMIZE time
    travel works while they exist."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
        vacuum_delta_table,
    )

    d = str(tmp_path / "opt")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 8").orderBy("n_nationkey")])
    w.commit(add_dfs=[n.where("n_nationkey >= 8")])
    rel = sorted(read_delta_log(d)["files"])[0]
    w.delete_rows(rel, [3])  # DV: ordinal 3 == key 3
    assert _keys(spark, d) == [k for k in range(25) if k != 3]
    v_opt = w.optimize()
    state = read_delta_log(d)
    assert len(state["files"]) == 1  # bin-packed
    assert all(a.get("deletionVector") is None for a in state["files"].values())
    assert _keys(spark, d) == [k for k in range(25) if k != 3]
    # the OPTIMIZE commit's actions all carry dataChange=false
    with open(os.path.join(d, "_delta_log", f"{v_opt:020d}.json")) as f:
        acts = [json.loads(x) for x in f.read().splitlines() if x.strip()]
    bodies = [a.get("add") or a.get("remove") for a in acts]
    assert all(b["dataChange"] is False for b in bodies if b is not None)
    assert [a["commitInfo"]["operation"] for a in acts if "commitInfo" in a] == [
        "OPTIMIZE"
    ]
    # CDF across the OPTIMIZE: exactly the non-maintenance changes — the
    # window (0, v_opt] segments at v_opt and reports only the v1 insert
    # (17 rows, keys 8-24) and the v2 DV delete (key 3); none of the
    # OPTIMIZE-rewritten rows appear as churn
    ch = delta_table_changes(spark, d, 0, v_opt).collect()
    ins = sorted(r["n_nationkey"] for r in ch if r["_change_type"] == "insert")
    dels = sorted(r["n_nationkey"] for r in ch if r["_change_type"] == "delete")
    assert ins == list(range(8, 25)) and dels == [3]
    # a window holding ONLY the maintenance commit has no logical changes:
    # an EMPTY typed feed, not an error (matches stock table_changes and
    # the Iceberg changelog's r12 contract — CDC pollers cross it)
    empty = delta_table_changes(spark, d, v_opt - 1, v_opt)
    assert empty.count() == 0 and "_change_type" in empty.columns
    # a post-OPTIMIZE delete crossing the maintenance commit: the window
    # (v2, v4] reports exactly that delete, read from the COMPACTED layout
    v_del = w.delete_where_dv("n_nationkey = 20")
    ch2 = delta_table_changes(spark, d, v_opt - 1, v_del).collect()
    assert [(r["_change_type"], r["n_nationkey"]) for r in ch2] == [
        ("delete", 20)
    ]
    assert delta_table_changes(spark, d, 0, 1).count() == 17  # pre-window ok
    # pre-OPTIMIZE time travel while tombstones exist
    assert _keys(spark, d, version=1) == list(range(25))
    # vacuum reclaims the 2 tombstoned data files; current scan unchanged
    gone = vacuum_delta_table(d, retention_ms=0)
    # 2 tombstoned data files + the OPTIMIZE'd-away DV sidecar (round 9:
    # vacuum reclaims orphaned deletion-vector bins too)
    assert len([p for p in gone if p.endswith(".parquet")]) == 2
    assert len([p for p in gone if p.endswith(".bin")]) == 1


def test_cdf_refuses_log_cleaned_gap(spark, tmp_path):
    """ADVICE r11 #3 regression: a commit JSON missing INSIDE the CDF
    window (log-cleaned past a checkpoint) must refuse loudly — the
    maintenance-commit segmenter cannot see whether the cleaned commit
    carried dataChange=false actions, and silently diffing across it
    would misreport an unseen OPTIMIZE's rewrites as insert+delete
    churn. Windows fully inside the surviving log keep working."""
    import pytest as _pytest

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
    )

    d = str(tmp_path / "cleaned")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 8").orderBy("n_nationkey")])  # v0
    w.commit(add_dfs=[n.where("n_nationkey >= 8")])  # v1
    v_opt = w.optimize()  # v2: dataChange=false maintenance
    v3 = w.delete_where_dv("n_nationkey = 20")  # v3
    cp = w.checkpoint()
    assert cp == v3
    # log-clean every pre-checkpoint commit JSON (stock retention does
    # this); the checkpoint is now the only base
    for v in range(cp):
        os.unlink(os.path.join(d, "_delta_log", f"{v:020d}.json"))
    # the maintenance commit v2 is invisible inside (0, v3]: refuse
    with _pytest.raises(ValueError, match="log-cleaned"):
        delta_table_changes(spark, d, 0, v3)
    with _pytest.raises(ValueError, match="log-cleaned"):
        delta_table_changes(spark, d, v_opt - 1, v3)
    # a later window whose interior commits all survive still works
    v4 = w.delete_where_dv("n_nationkey = 21")
    ch = delta_table_changes(spark, d, v3, v4).collect()
    assert [(r["_change_type"], r["n_nationkey"]) for r in ch] == [
        ("delete", 21)
    ]
    assert _keys(spark, d) == [k for k in range(25) if k not in (20, 21)]


def test_optimize_partitioned_one_file_per_partition(spark, tmp_path):
    """Partitioned OPTIMIZE: one output file per live partition tuple,
    partitionValues preserved so log-level pruning still works."""
    d = str(tmp_path / "optp")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(
        add_dfs=[n.where("n_regionkey = 0 and n_nationkey < 12")],
        partition_cols=["n_regionkey"],
    )
    w.commit(add_dfs=[n.where("n_regionkey = 0 and n_nationkey >= 12")])
    for region in (1, 2):
        w.commit(add_dfs=[n.where(f"n_regionkey = {region}")])
    assert len(read_delta_log(d)["files"]) == 4
    w.optimize()
    state = read_delta_log(d)
    assert len(state["files"]) == 3  # one per live region
    pvals = sorted(
        a["partitionValues"]["n_regionkey"] for a in state["files"].values()
    )
    assert pvals == ["0", "1", "2"]
    assert scan_delta_table(spark, d).count() == 15
    assert (
        scan_delta_table(spark, d, partition_filter={"n_regionkey": "0"}).count()
        == 5
    )


# ----------------------------------------------------------- add column


def test_add_column_null_fills_old_files(spark, tmp_path):
    """Plain ADD COLUMNS: metadata-only commit; files written before it
    surface the new column as NULL because the scan reads with the LOG's
    schema; time travel before the commit keeps the old shape."""
    import pytest as _pytest

    d = str(tmp_path / "addcol")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    v_add = w.add_column("note", "string")
    from pyspark.sql import functions as F

    w.commit(add_dfs=[n.where("n_nationkey >= 12").withColumn("note", F.lit("new"))])
    df = scan_delta_table(spark, d)
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey", "note"]
    assert df.where("note IS NULL").count() == 12  # pre-add file null-fills
    assert df.where("note = 'new'").count() == 13
    assert scan_delta_table(spark, d, version=v_add - 1).columns == [
        "n_nationkey", "n_name", "n_regionkey",
    ]
    with _pytest.raises(ValueError, match="already exists"):
        w.add_column("note", "string")
    with _pytest.raises(Exception):
        w.add_column("bad", "not_a_type")


def test_add_column_under_column_mapping(spark, tmp_path):
    """Column-mapped ADD COLUMNS: the new field gets a fresh stable id +
    physical name and maxColumnId advances; pre-add files still null-fill
    through the physical-name read schema."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "addcm")
    w = DeltaTableWriter(spark, d, column_mapping=True)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    w.add_column("note", "string")
    meta = read_delta_log(d)["metadata"]
    assert meta["configuration"]["delta.columnMapping.maxColumnId"] == "4"
    new_f = json.loads(meta["schemaString"])["fields"][-1]
    assert new_f["metadata"]["delta.columnMapping.id"] == 4
    assert new_f["metadata"]["delta.columnMapping.physicalName"].startswith("col-")
    w.commit(add_dfs=[n.where("n_nationkey >= 12").withColumn("note", F.lit("x"))])
    df = scan_delta_table(spark, d)
    assert df.columns == ["n_nationkey", "n_name", "n_regionkey", "note"]
    assert df.where("note IS NULL").count() == 12
    assert df.where("note = 'x'").count() == 13


def test_add_column_partitioned(spark, tmp_path):
    """Partitioned ADD COLUMNS: the file-read schema is the log schema
    minus partition columns, so pre-add files null-fill and partition
    re-injection still works."""
    from pyspark.sql import functions as F

    d = str(tmp_path / "addp")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(
        add_dfs=[n.where("n_regionkey = 0")], partition_cols=["n_regionkey"]
    )
    w.add_column("note", "string")
    w.commit(add_dfs=[n.where("n_regionkey = 1").withColumn("note", F.lit("p"))])
    df = scan_delta_table(spark, d)
    assert set(df.columns) == {"n_nationkey", "n_name", "n_regionkey", "note"}
    assert df.count() == 10
    assert df.where("note IS NULL").count() == 5
    assert (
        scan_delta_table(spark, d, partition_filter={"n_regionkey": "1"})
        .where("note = 'p'")
        .count()
        == 5
    )


def test_generated_columns_compose_with_column_mapping(spark, tmp_path):
    """Generated columns + column mapping compose (VERDICT r8 #9 — the
    last Delta composition hole): generation expressions evaluate on
    LOGICAL names before the physical alias, the generated field gets a
    mapping id + physical name, partitionValues stay physical-keyed,
    hidden_filter prunes, and renaming a column a generation expression
    references is blocked (the expression text would dangle)."""
    from pyspark.sql import functions as F

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "gencm")
    w = DeltaTableWriter(spark, d, column_mapping=True)
    for i, rk in enumerate(range(5)):
        w.commit(
            add_dfs=[n.filter(F.col("n_regionkey") == rk)],
            partition_cols=["r2"] if i == 0 else None,
            generated={"r2": "n_regionkey * 2"} if i == 0 else None,
        )
    st = read_delta_log(d)
    pv = next(iter(st["files"].values()))["partitionValues"]
    assert all(k.startswith("col-") for k in pv)  # physical-keyed
    full = scan_delta_table(spark, d)
    assert full.columns == ["n_nationkey", "n_name", "n_regionkey", "r2"]
    assert full.count() == 25
    pruned = scan_delta_table(spark, d, hidden_filter={"n_regionkey": 2})
    assert pruned.count() == 5 and len(pruned.inputFiles()) == 1
    w.rename_column("n_name", "nation_name")  # unreferenced: fine
    assert "nation_name" in scan_delta_table(spark, d).columns
    with pytest.raises(ValueError, match="references it"):
        w.rename_column("n_regionkey", "rk")


def test_generated_partition_columns_write_scan_prune(spark, tmp_path):
    """Generated partition columns (protocol 'Generated Columns'): the
    generation expression lives in field metadata, the writer computes
    partitionValues, writer version is >= 4, and hidden_filter derives
    log-level pruning by evaluating the expression over the predicate
    literal with the exact row residual."""
    import json as _json

    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table as t

    from .conftest import SF_DIR

    e = t(spark, SF_DIR, "events").select("event_id", "user_id", "ts", "value")
    days = [
        r[0]
        for r in e.select(F.to_date("ts").alias("d"))
        .distinct()
        .orderBy("d")
        .limit(3)
        .collect()
    ]
    sub = e.filter(F.to_date("ts").isin(days))
    d = str(tmp_path / "genpart")
    w = DeltaTableWriter(spark, d)
    for i, day in enumerate(days):
        w.commit(
            add_dfs=[sub.filter(F.to_date("ts") == day)],
            partition_cols=["p_date"] if i == 0 else None,
            generated={"p_date": "CAST(ts AS DATE)"} if i == 0 else None,
        )
    state = read_delta_log(d)
    meta_fields = _json.loads(state["schema_json"])["fields"]
    gen = [f for f in meta_fields if f["name"] == "p_date"]
    assert gen and gen[0]["metadata"]["delta.generationExpression"] == (
        "CAST(ts AS DATE)"
    )
    assert state["protocol"]["minWriterVersion"] >= 4
    # full scan re-injects the generated partition column typed
    full = scan_delta_table(spark, d)
    assert full.count() == sub.count()
    assert dict(full.dtypes)["p_date"] == "date"
    import datetime

    probe = datetime.datetime.combine(days[1], datetime.time())
    h = scan_delta_table(spark, d, hidden_filter={"ts": probe})
    assert len(h.inputFiles()) == 1  # 1 of 3 — pruned from the log
    assert h.count() == sub.filter(F.col("ts") == probe).count()
    # a filter that feeds no generation expression refuses loudly
    import pytest as _pytest

    with _pytest.raises(ValueError, match="feed no generation expression"):
        scan_delta_table(spark, d, hidden_filter={"value": 1.0})
    # generated + column mapping COMPOSE as of round 9 — covered by
    # test_generated_columns_compose_with_column_mapping


def test_stats_skipping_and_checkpoint_carry(spark, tmp_path):
    """Data skipping: add.stats carries footer minValues/maxValues,
    stats_filter prunes files from the log with the exact residual, the
    empty-overlap case returns an exact empty DataFrame with the table
    schema, and stats survive checkpoint truncation."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table as t

    from .conftest import SF_DIR

    n = t(spark, SF_DIR, "nation")
    d = str(tmp_path / "skip")
    w = DeltaTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.commit(add_dfs=[n.filter(F.col("n_nationkey").between(lo, lo + 9))])
    one = scan_delta_table(spark, d, stats_filter={"n_nationkey": (12, 15)})
    assert len(one.inputFiles()) == 1
    assert sorted(r["n_nationkey"] for r in one.collect()) == [12, 13, 14, 15]
    # string stats skip too (lexicographic bounds; names are NATION_<k>)
    by_name = scan_delta_table(
        spark, d, stats_filter={"n_name": ("NATION_0", "NATION_19")}
    )
    assert 1 <= len(by_name.inputFiles()) <= 3
    assert all(
        "NATION_0" <= r["n_name"] <= "NATION_19" for r in by_name.collect()
    )
    none_match = scan_delta_table(spark, d, stats_filter={"n_name": ("ZZ", None)})
    assert none_match.count() == 0 and len(none_match.inputFiles()) == 0
    empty = scan_delta_table(spark, d, stats_filter={"n_nationkey": (99, None)})
    assert empty.count() == 0 and set(empty.columns) == set(n.columns)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown columns"):
        scan_delta_table(spark, d, stats_filter={"nope": (1, 2)})
    # checkpoint: stats ride the checkpoint rows, skipping still works
    w.checkpoint()
    for f in list((tmp_path / "skip" / "_delta_log").glob("0*.json")):
        f.unlink()  # truncate all JSON commits — checkpoint is the base
    again = scan_delta_table(spark, d, stats_filter={"n_nationkey": (12, 15)})
    assert len(again.inputFiles()) == 1
    assert again.count() == 4


def test_zorder_optimize_clusters_both_dims(spark, tmp_path):
    """OPTIMIZE ZORDER: dataChange=false maintenance commit, row set
    unchanged, stats skipping becomes effective on BOTH z dimensions,
    and partitioned tables refuse loudly."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table as t

    from .conftest import SF_DIR

    o = t(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    d = str(tmp_path / "z")
    w = DeltaTableWriter(spark, d)
    for m in range(4):
        w.commit(add_dfs=[o.filter(F.col("o_orderkey") % 4 == m)])
    before = scan_delta_table(spark, d)
    n_before = before.count()
    v = w.optimize(zorder_by=["o_custkey", "o_totalprice"], target_files=4)
    after = scan_delta_table(spark, d)
    assert after.count() == n_before
    n_files = len(after.inputFiles())
    for dim, hi in (("o_totalprice", 60000.0), ("o_custkey", 120.0)):
        pruned = scan_delta_table(spark, d, stats_filter={dim: (None, hi)})
        assert len(pruned.inputFiles()) < n_files, dim
        assert pruned.count() == before.filter(F.col(dim) <= hi).count()
    # the optimize commit is dataChange=false on every action
    import json as _json

    from lakefs_iceberg_catalog_spark.catalog.delta_format import _commit_path

    acts = [
        _json.loads(line)
        for line in open(_commit_path(d, v)).read().splitlines()
        if line.strip()
    ]
    bodies = [a.get("add") or a.get("remove") for a in acts]
    assert all(b["dataChange"] is False for b in bodies if b is not None)
    import pytest as _pytest

    # partitioned ZORDER: per-partition clustering (refusal lifted)
    dp = str(tmp_path / "zp")
    wp = DeltaTableWriter(spark, dp)
    op = o.withColumn("p", (F.col("o_orderkey") % 2).cast("string"))
    for i, pv in enumerate(("0", "1")):
        wp.commit(
            add_dfs=[op.filter(F.col("p") == pv)],
            partition_cols=["p"] if i == 0 else None,
        )
    n_part = scan_delta_table(spark, dp).count()
    wp.optimize(zorder_by=["o_custkey", "o_totalprice"], target_files=2)
    zp = scan_delta_table(spark, dp)
    assert zp.count() == n_part  # rows conserved per partition
    state = read_delta_log(dp)
    # every rewritten file is single-partition; both tuples present
    pvs = [a["partitionValues"]["p"] for a in state["files"].values()]
    assert set(pvs) == {"0", "1"}
    # clustering effective WITHIN a partition: a selective o_totalprice
    # range + partition filter opens fewer files than the partition holds
    part0_files = [p for p, v in zip(state["files"], pvs) if v == "0"]
    pruned_p = scan_delta_table(
        spark, dp,
        partition_filter={"p": "0"},
        stats_filter={"o_totalprice": (None, 60000.0)},
    )
    assert len(pruned_p.inputFiles()) < len(part0_files)
    # zorder by a partition column is meaningless — loud error
    with _pytest.raises(ValueError, match="partition columns"):
        wp.optimize(zorder_by=["p"])


def test_zorder_optimize_keeps_null_keyed_rows(spark, tmp_path):
    """A NULL in any ZORDER BY column nulls the Morton key, and the key-
    range filters exclude NULLs — those rows must be routed into a
    dedicated bucket, not silently dropped from a dataChange=false
    rewrite (ADVICE r7 #1). Also covers an all-NULL dimension."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table as t

    from .conftest import SF_DIR

    o = (
        t(spark, SF_DIR, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn(
            "o_custkey",
            F.when(F.col("o_orderkey") % 7 == 0, None).otherwise(
                F.col("o_custkey")
            ),
        )
    )
    d = str(tmp_path / "znull")
    w = DeltaTableWriter(spark, d)
    for m in range(3):
        w.commit(add_dfs=[o.filter(F.col("o_orderkey") % 3 == m)])
    before = scan_delta_table(spark, d)
    n_before, n_null = before.count(), before.filter(
        F.col("o_custkey").isNull()
    ).count()
    assert n_null > 0  # the fixture genuinely exercises NULL keys
    w.optimize(zorder_by=["o_custkey", "o_totalprice"], target_files=3)
    after = scan_delta_table(spark, d)
    assert after.count() == n_before
    assert after.filter(F.col("o_custkey").isNull()).count() == n_null
    # all-NULL dimension: inert axis, rows still conserved
    d2 = str(tmp_path / "zallnull")
    w2 = DeltaTableWriter(spark, d2)
    w2.commit(
        add_dfs=[
            o.limit(50).withColumn("dead", F.lit(None).cast("double"))
        ]
    )
    w2.optimize(zorder_by=["dead", "o_totalprice"], target_files=2)
    assert scan_delta_table(spark, d2).count() == 50


def test_merge_upsert_column_mapped(spark, tmp_path):
    """MERGE over a COLUMN-MAPPED table (refusal lifted): the probe rides
    the logical-name scan (physical col-uuids stay in the data files —
    commit maps the rewritten rows back), renames compose — a merge after
    a rename addresses the NEW logical name — and CDF shows the paired
    change rows."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        delta_changes_from_cdc,
        read_delta_log,
        scan_delta_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "cmmerge")
    w = DeltaTableWriter(spark, d, column_mapping=True)
    for lo in (0, 10, 20):
        w.commit(add_dfs=[n.filter(F.col("n_nationkey").between(lo, lo + 9))])
    w.rename_column("n_name", "nation_name")
    pre_files = set(read_delta_log(d)["files"])
    src = spark.createDataFrame(
        [(13, "UP_13"), (30, "NEW_30")], "n_nationkey int, nation_name string"
    )
    v = w.merge_upsert(src, ["n_nationkey"])
    post = read_delta_log(d)["files"]
    assert len(pre_files & set(post)) == 2  # only the 10-19 file rewrote
    back = scan_delta_table(spark, d)
    assert set(back.columns) == {"n_nationkey", "nation_name"}
    got = {r["n_nationkey"]: r["nation_name"] for r in back.collect()}
    assert len(got) == 26
    assert got[13] == "UP_13" and got[30] == "NEW_30"
    assert got[3] == "NATION_3"  # untouched rows keep serving
    # physical names in the REWRITTEN data file, logical in the log
    import pyarrow.parquet as pq

    new_rel = next(rel for rel in post if rel not in pre_files)
    cols = pq.read_schema(os.path.join(d, new_rel)).names
    assert all(c.startswith("col-") for c in cols)
    ch = delta_changes_from_cdc(spark, d, v - 1, v)
    by_type = {
        r["_change_type"]: (r["n_nationkey"], r["nation_name"])
        for r in ch.collect()
    }
    assert by_type == {
        "update_preimage": (13, "NATION_13"),
        "update_postimage": (13, "UP_13"),
        "insert": (30, "NEW_30"),
    }


def test_merge_upsert_partitioned_prunes_and_moves(spark, delta_partitioned):
    """MERGE over a partitioned table (VERDICT r7 #4): with the partition
    column in the merge key the probe is partition-pruned (only source
    partitions' files removed), cdc rows carry preimage+postimage+insert;
    with a partition-free key a matched row MOVES to its source tuple."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_changes_from_cdc,
        read_delta_log,
        scan_delta_table,
    )

    d, w = delta_partitioned
    pre_files = set(read_delta_log(d)["files"])
    src = spark.createDataFrame(
        [(13, "UP_13", 2), (30, "NEW_30", 4)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    # exact pruning: partition col in the key — nation 13 lives in region 2
    got_rk = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in scan_delta_table(spark, d)
        .filter("n_nationkey = 13")
        .collect()
    }
    src = spark.createDataFrame(
        [(13, "UP_13", got_rk[13]), (30, "NEW_30", 4)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    v = w.merge_upsert(src, ["n_nationkey", "n_regionkey"])
    post = read_delta_log(d)
    removed = pre_files - set(post["files"])
    assert len(removed) == 1  # only nation 13's partition file rewrote
    back = scan_delta_table(spark, d)
    assert back.count() == 26
    got = {r["n_nationkey"]: (r["n_name"], r["n_regionkey"]) for r in back.collect()}
    assert got[13] == ("UP_13", got_rk[13])
    assert got[30] == ("NEW_30", 4)
    # every add action still carries its partitionValues
    assert all(
        a["partitionValues"].keys() == {"n_regionkey"}
        for a in post["files"].values()
    )
    ch = delta_changes_from_cdc(spark, d, v - 1, v)
    by_type = {
        r["_change_type"]: (r["n_nationkey"], r["n_name"])
        for r in ch.collect()
    }
    assert by_type == {
        "update_preimage": (13, "NATION_13"),
        "update_postimage": (13, "UP_13"),
        "insert": (30, "NEW_30"),
    }
    # partition-free key: the matched row moves to its SOURCE tuple
    mv = spark.createDataFrame(
        [(13, "MOVED_13", 0)], "n_nationkey int, n_name string, n_regionkey int"
    )
    w.merge_upsert(mv, ["n_nationkey"])
    back2 = scan_delta_table(spark, d)
    assert back2.count() == 26
    row13 = back2.filter("n_nationkey = 13").collect()
    assert len(row13) == 1 and row13[0]["n_regionkey"] == 0
    assert row13[0]["n_name"] == "MOVED_13"
    # the source must carry the partition columns
    import pytest as _pytest

    with _pytest.raises(ValueError, match="partition columns"):
        w.merge_upsert(
            spark.createDataFrame([(1, "x")], "n_nationkey int, n_name string"),
            ["n_nationkey"],
        )


def test_txn_idempotence_and_checkpoint_carry(spark, tmp_path):
    """The protocol txn action: commits gated by the log's latest
    (appId, version); duplicate deliveries are complete no-ops; txn state
    folds from JSON commits AND survives checkpoint truncation."""
    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )

    n = _nation(spark)
    d = str(tmp_path / "txn")
    w = DeltaTableWriter(spark, d)
    v0 = w.commit(add_dfs=[n.where("n_nationkey < 12")], txn=("app", 0))
    v1 = w.commit(add_dfs=[n.where("n_nationkey >= 12")], txn=("app", 1))
    assert (v0, v1) == (0, 1)
    assert scan_delta_table(spark, d).count() == 25
    # duplicate delivery: no new version, no new rows
    assert w.commit(add_dfs=[n.where("n_nationkey >= 12")], txn=("app", 1)) == 1
    assert scan_delta_table(spark, d).count() == 25
    assert read_delta_log(d)["txns"] == {"app": 1}
    # a different appId is independent
    v2 = w.commit(add_dfs=[n.where("n_nationkey = 0")], txn=("other", 0))
    assert v2 == 2 and scan_delta_table(spark, d).count() == 26
    # checkpoint + truncate: txn state must survive in the checkpoint rows
    w.checkpoint()
    for f in (tmp_path / "txn" / "_delta_log").glob("0*.json"):
        f.unlink()
    assert read_delta_log(d)["txns"] == {"app": 1, "other": 0}
    assert (
        w.commit(add_dfs=[n.where("n_nationkey = 1")], txn=("app", 1)) == 2
    )  # still gated after truncation
    assert scan_delta_table(spark, d).count() == 26


def test_restore_to_version(spark, tmp_path):
    """RESTORE: one metadata-only commit flips the live file set back;
    history is preserved and the restore itself is undoable."""
    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )

    n = _nation(spark)
    d = str(tmp_path / "restore")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])       # v0: 12 rows
    w.commit(add_dfs=[n.where("n_nationkey >= 12")])      # v1: 25 rows
    v0_files = sorted(read_delta_log(d, 0)["files"])
    w.commit(remove=v0_files)                             # v2: 13 rows
    assert scan_delta_table(spark, d).count() == 13
    v3 = w.restore(1)
    assert v3 == 3
    assert scan_delta_table(spark, d).count() == 25
    # restored adds carry their ORIGINAL stats (skipping still works)
    pruned = scan_delta_table(spark, d, stats_filter={"n_nationkey": (0, 3)})
    assert len(pruned.inputFiles()) == 1 and pruned.count() == 4
    # history preserved: every prior version still readable
    assert scan_delta_table(spark, d, version=2).count() == 13
    # the restore is itself undoable
    w.restore(2)
    assert scan_delta_table(spark, d).count() == 13


def test_cdc_actions_preempt_derivation(spark, tmp_path):
    """Protocol cdc actions: the CDF reader returns change-file rows
    directly, skips dataChange=false commits, and refuses a data-changing
    commit that lacks cdc actions (no double-count path)."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        delta_changes_from_cdc,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "cdc")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])  # v0 base, no cdc
    w.commit_with_cdc(
        add_dfs=[n.where("n_nationkey >= 12")],
        cdc_df=n.where("n_nationkey >= 12").withColumn(
            "_change_type", F.lit("insert")
        ),
    )  # v1
    w.optimize()  # v2: no cdc, dataChange=false — silently skipped
    changes = delta_changes_from_cdc(spark, d, 0, 2)
    assert changes.count() == 13
    assert {r["_change_type"] for r in changes.collect()} == {"insert"}
    assert {r["_commit_version"] for r in changes.collect()} == {1}
    # a window covering v0 (data change, no cdc) refuses loudly
    with pytest.raises(ValueError, match="without cdc actions"):
        delta_changes_from_cdc(spark, d, -1, 2)
    with pytest.raises(ValueError, match="cdc_df with a _change_type"):
        w.commit_with_cdc(add_dfs=[n.limit(1)], cdc_df=n.limit(1))


def test_merge_upsert_touched_file_granularity(spark, tmp_path):
    """MERGE rewrites only files containing matched keys; untouched files
    stay referenced in place; CDF shows paired preimage/postimage plus
    insert."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        delta_changes_from_cdc,
        read_delta_log,
        scan_delta_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "merge")
    w = DeltaTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.commit(add_dfs=[n.filter(F.col("n_nationkey").between(lo, lo + 9))])
    pre_files = set(read_delta_log(d)["files"])
    src = spark.createDataFrame(
        [(13, "UP_13"), (30, "NEW_30")], "n_nationkey int, n_name string"
    )
    v = w.merge_upsert(src, ["n_nationkey"])
    post = read_delta_log(d)["files"]
    # exactly one file (the 10-19 range) rewrote; the other two survive
    assert len(pre_files & set(post)) == 2
    back = scan_delta_table(spark, d)
    assert back.count() == 26
    got = {r["n_nationkey"]: r["n_name"] for r in back.collect()}
    assert got[13] == "UP_13" and got[30] == "NEW_30" and got[3] == got[3]
    changes = delta_changes_from_cdc(spark, d, v - 1, v)
    by_type = {
        r["_change_type"]: (r["n_nationkey"], r["n_name"])
        for r in changes.collect()
    }
    # protocol-complete update events: preimage (old values) paired with
    # postimage (new values), plus the insert (ADVICE r7 #4)
    assert by_type == {
        "update_preimage": (13, "NATION_13"),
        "update_postimage": (13, "UP_13"),
        "insert": (30, "NEW_30"),
    }
    # insert-only merge touches nothing
    v2 = w.merge_upsert(
        spark.createDataFrame([(31, "NEW_31")], "n_nationkey int, n_name string"),
        ["n_nationkey"],
    )
    acts_removed = [
        rel for rel in read_delta_log(d, v2 - 1)["files"] if rel not in read_delta_log(d, v2)["files"]
    ]
    assert acts_removed == []
    assert scan_delta_table(spark, d).count() == 27


def test_vacuum_reclaims_orphaned_dv_sidecars(spark, tmp_path):
    """DV sidecar bins join the tombstone lifecycle (round 9): a bin
    orphaned by a DV merge (remove + re-add with the bigger vector) or a
    REORG purge is vacuum-reclaimable after retention; a bin referenced
    by a LIVE add is never deleted whatever a tombstone says; a RESTORE
    re-referencing an old bin rescues it from its tombstone."""
    import glob

    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        vacuum_delta_table,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "dvvac")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.orderBy("n_nationkey")])
    w.delete_where_dv("n_nationkey = 3")  # bin A
    bin_a = glob.glob(os.path.join(d, "deletion_vector_*.bin"))[0]
    w.delete_where_dv("n_nationkey = 8")  # merge: bin B, A orphaned
    tomb = read_delta_log(d)["tombstones"]
    assert os.path.relpath(bin_a, d) in tomb
    # young tombstone: retention protects it
    assert not any(
        p.endswith(".bin") for p in vacuum_delta_table(d, 10**12)
    )
    gone = vacuum_delta_table(d, retention_ms=0)
    assert [p for p in gone if p.endswith(".bin")] == [
        os.path.relpath(bin_a, d)
    ]
    assert len(glob.glob(os.path.join(d, "deletion_vector_*.bin"))) == 1
    assert scan_delta_table(spark, d).count() == 23  # live bin untouched
    # REORG PURGE orphans the remaining live bin; vacuum reclaims it,
    # zero sidecars remain, visible rows unchanged
    w.reorg_purge()
    gone2 = vacuum_delta_table(d, retention_ms=0)
    assert any(p.endswith(".bin") for p in gone2)
    assert glob.glob(os.path.join(d, "deletion_vector_*.bin")) == []
    assert scan_delta_table(spark, d).count() == 23


def test_restore_reinstates_target_deletion_vector_state(spark, tmp_path):
    """RESTORE must flip row VISIBILITY back, not just the path set: a DV
    grown since the target version re-adds with the target's (absent)
    vector — diffing by path alone would silently keep restored rows
    deleted. CDF across the restore reports exactly the resurrected
    ordinals as inserts (the shrink case, refusal lifted round 9)."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "restore_dv")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.orderBy("n_nationkey")])  # v0, ordinal == key
    rel = next(iter(read_delta_log(d)["files"]))
    w.delete_rows(rel, [3, 8])  # v1
    assert scan_delta_table(spark, d).count() == 23
    v2 = w.restore(0)
    assert scan_delta_table(spark, d).count() == 25  # rows are BACK
    assert (
        read_delta_log(d)["files"][rel].get("deletionVector") is None
    )
    ch = delta_table_changes(spark, d, 1, v2)
    assert sorted(
        (r["n_nationkey"], r["_change_type"]) for r in ch.collect()
    ) == [(3, "insert"), (8, "insert")]


def test_delete_and_update_where_dv(spark, tmp_path):
    """Predicate-level MoR DELETE/UPDATE via deletion vectors: matched
    ordinals fold into the touched files' DVs (zero rewrites), UPDATE
    appends the new values as ONE file, cdc rows are protocol-complete,
    repeated deletes MERGE into existing DVs, and no-match calls are
    no-ops that write no commit."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_changes_from_cdc,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "dvdml")
    w = DeltaTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.commit(
            add_dfs=[n.filter(F.col("n_nationkey").between(lo, lo + 9))]
        )
    pre = set(read_delta_log(d)["files"])
    v1 = w.delete_where_dv("n_nationkey in (5, 12)")
    assert set(read_delta_log(d)["files"]) == pre  # no rewrites
    ch = delta_changes_from_cdc(spark, d, v1 - 1, v1)
    assert {
        (r["_change_type"], r["n_nationkey"]) for r in ch.collect()
    } == {("delete", 5), ("delete", 12)}
    # second DV delete on the SAME file must merge, not resurrect 5
    v2 = w.delete_where_dv("n_nationkey = 6")
    keys = {r["n_nationkey"] for r in scan_delta_table(spark, d).collect()}
    assert keys == set(range(25)) - {5, 6, 12}
    # UPDATE: old ordinals DV'd, new values in exactly one new file
    v3 = w.update_where_dv(
        "n_nationkey in (7, 13)", {"n_name": "concat('UP_', n_nationkey)"}
    )
    post = read_delta_log(d)["files"]
    assert pre <= set(post) and len(post) == len(pre) + 1
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    assert got[7] == "UP_7" and got[13] == "UP_13" and len(got) == 22
    ch3 = delta_changes_from_cdc(spark, d, v3 - 1, v3)
    by_type: dict[str, set[int]] = {}
    for r in ch3.collect():
        by_type.setdefault(r["_change_type"], set()).add(r["n_nationkey"])
    assert by_type == {
        "update_preimage": {7, 13},
        "update_postimage": {7, 13},
    }
    # no-match calls: no commit written
    assert w.delete_where_dv("n_nationkey = 999") == v3
    assert w.update_where_dv("n_nationkey = 999", {"n_name": "'x'"}) == v3
    with pytest.raises(ValueError, match="unknown columns"):
        w.update_where_dv("n_nationkey = 1", {"nope": "'x'"})
    # PARTITIONED composition: the probe re-attaches log-only partition
    # values (predicates over them work), DV re-adds keep their
    # partitionValues, and an assignment changing the partition column
    # MOVES the row to its new tuple
    np = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    dp = str(tmp_path / "dvdml_part")
    wp = DeltaTableWriter(spark, dp)
    for i, rk in enumerate(range(5)):
        wp.commit(
            add_dfs=[np.filter(F.col("n_regionkey") == rk)],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )
    wp.delete_where_dv("n_nationkey = 5 and n_regionkey = 0")
    wp.update_where_dv("n_nationkey = 7", {"n_regionkey": "4"})
    got_p = {
        r["n_nationkey"]: r["n_regionkey"]
        for r in scan_delta_table(spark, dp).collect()
    }
    assert 5 not in got_p and got_p[7] == 4 and len(got_p) == 24
    moved = scan_delta_table(spark, dp, partition_filter={"n_regionkey": "4"})
    assert 7 in {r["n_nationkey"] for r in moved.collect()}


def test_merge_upsert_over_deletion_vectors(spark, tmp_path):
    """MERGE composes with DVs (VERDICT r8 #1 — stock merge-on-DV
    semantics per PROTOCOL.md): a DV-masked row is NEITHER matched NOR
    resurrected — its key arriving in the source classifies as an
    INSERT; rewriting a touched DV file materializes the vector away;
    untouched files keep their DVs serving reads."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_changes_from_cdc,
    )

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "merge_dv")
    w = DeltaTableWriter(spark, d)
    for lo in (0, 10, 20):
        w.commit(
            add_dfs=[
                n.filter(F.col("n_nationkey").between(lo, lo + 9)).orderBy(
                    "n_nationkey"
                )
            ]
        )
    # locate (file, ordinal) for keys 5 and 12 via the metadata columns
    state = read_delta_log(d)
    raw = spark.read.parquet(
        *[os.path.join(d, rel) for rel in state["files"]]
    ).withColumns(
        {
            "_file": F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/+", "/"
            ),
            "_pos": F.col("_metadata.row_index"),
        }
    )
    abs_to_rel = {os.path.join(d, rel): rel for rel in state["files"]}
    by_key = {
        r["n_nationkey"]: (abs_to_rel[r["_file"]], r["_pos"])
        for r in raw.filter(F.col("n_nationkey").isin(5, 12)).collect()
    }
    for rel, pos in by_key.values():
        w.delete_rows(rel, [pos])
    src = spark.createDataFrame(
        [(5, "NEW_5"), (13, "UP_13"), (25, "NEW_25")],
        "n_nationkey int, n_name string",
    )
    v = w.merge_upsert(src, ["n_nationkey"])
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    # 12 gone (DV'd, file rewritten — NOT resurrected), 5 re-inserted with
    # the SOURCE value (the masked old row never matched), 13 updated
    assert 12 not in got
    assert got[5] == "NEW_5" and got[13] == "UP_13" and got[25] == "NEW_25"
    assert len(got) == 25  # 25 rows - DV'd {5, 12} + inserts {NEW_5, NEW_25}
    # CDC classification: masked key 5 is an INSERT, not an update
    changes = delta_changes_from_cdc(spark, d, v - 1, v)
    by_type: dict[str, set[int]] = {}
    for r in changes.collect():
        by_type.setdefault(r["_change_type"], set()).add(r["n_nationkey"])
    assert by_type["insert"] == {5, 25}
    assert by_type["update_preimage"] == {13}
    assert by_type["update_postimage"] == {13}
    # the untouched file (key 5's) keeps its DV; the rewrite carries none
    post = read_delta_log(d)
    dv_rels = {
        rel for rel, a in post["files"].items() if a.get("deletionVector")
    }
    assert dv_rels == {by_key[5][0]}


def test_partitioned_merge_job_count_flat(spark, tmp_path):
    """The partitioned MERGE commit runs O(1) Spark jobs regardless of
    how many partition tuples it touches (VERDICT r8 #2): survivors +
    source write in ONE partitionBy job and cdc rows in ONE more — never
    a job per touched tuple. Pinned by comparing total job counts of a
    1-tuple and a 3-tuple merge: the 3-tuple run must not use MORE jobs.

    The merges run with AQE's empty-relation propagation switched off.
    With it on, a query stage that materializes empty prunes the plan
    above it, so whether a sibling's downstream stage is ever submitted
    depends on which concurrently running stage finishes first: the
    same merge counted 20, 21 or 22 jobs from run to run. Without it,
    the job set is a function of the plan alone (22 in twelve of twelve
    runs), and per-tuple growth shows as a larger 3-tuple count."""
    from pyspark.sql import functions as F

    rule = "spark.sql.adaptive.optimizer.excludedRules"
    before = spark.conf.get(rule, None)
    spark.conf.set(
        rule, "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    )

    def run_merge(tag: str, regions: list[int]) -> int:
        d = str(tmp_path / f"jobcount_{tag}")
        n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
        w = DeltaTableWriter(spark, d)
        for i, rk in enumerate(range(5)):
            w.commit(
                add_dfs=[n.filter(F.col("n_regionkey") == rk)],
                partition_cols=["n_regionkey"] if i == 0 else None,
            )
        src = spark.createDataFrame(
            [(rk, f"UP_{rk}", rk) for rk in regions],
            "n_nationkey int, n_name string, n_regionkey int",
        )
        sc = spark.sparkContext
        sc.setJobGroup(f"merge-jobs-{tag}", "pin")
        try:
            w.merge_upsert(src, ["n_nationkey", "n_regionkey"])
        finally:
            sc.setJobGroup("idle", "")
        return len(
            sc.statusTracker().getJobIdsForGroup(f"merge-jobs-{tag}")
        )

    try:
        one = run_merge("one", [0])
        three = run_merge("three", [0, 2, 4])
    finally:
        if before is None:
            spark.conf.unset(rule)
        else:
            spark.conf.set(rule, before)
    assert three <= one, (
        f"job count grew with touched tuples: {one} -> {three}"
    )


def test_merge_upsert_partitioned_over_deletion_vectors(spark, tmp_path):
    """The partitioned MERGE path applies DVs per candidate-tuple scan:
    a masked row inside a candidate partition neither matches nor
    resurrects."""
    from pyspark.sql import functions as F

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "merge_dv_part")
    w = DeltaTableWriter(spark, d)
    for i, rk in enumerate(range(5)):
        w.commit(
            add_dfs=[n.filter(F.col("n_regionkey") == rk)],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )
    state = read_delta_log(d)
    # nationkey 5 lives in region 0; mask it via a DV on its file
    region0 = [
        rel
        for rel, a in state["files"].items()
        if a["partitionValues"].get("n_regionkey") == "0"
    ]
    assert len(region0) == 1
    pos5 = (
        spark.read.parquet(os.path.join(d, region0[0]))
        .withColumn("_pos", F.col("_metadata.row_index"))
        .filter("n_nationkey = 5")
        .collect()[0]["_pos"]
    )
    w.delete_rows(region0[0], [pos5])
    src = spark.createDataFrame(
        [(5, "NEW_5", 0), (14, "UP_14", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    )
    w.merge_upsert(src, ["n_nationkey", "n_regionkey"])
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    assert got[5] == "NEW_5" and got[14] == "UP_14"
    assert len(got) == 25  # old 5 replaced, nothing resurrected or lost


def test_dv_delete_over_100k_matches_stays_off_driver(spark, tmp_path):
    """VERDICT r9 #1 gate: a predicate DELETE matching far more rows than
    the driver materialization ceiling (sf0.1 lineitem, l_quantity <= 25
    matches ~300k of 600k) must commit via deletion vectors WITHOUT
    driver-side ordinal collection — the delete metadata builds on the
    executors (groupBy(_file) + Arrow-batched roaring serialization), the
    driver sees only per-file descriptors. Before the fix this raised
    MaterializeCeilingError at bounded_rows(100k)."""
    import os as _os

    from lakefs_iceberg_catalog_spark.tables import table

    sf01 = "/root/testdata/sf0.1"
    if not _os.path.isdir(sf01):
        pytest.skip("sf0.1 testdata not present")
    li = table(spark, sf01, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    d = str(tmp_path / "bigdv")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[li])
    pre_files = set(read_delta_log(d)["files"])
    w.delete_where_dv("l_quantity <= 25")
    state = read_delta_log(d)
    assert set(state["files"]) == pre_files  # zero data rewritten
    dv = next(iter(state["files"].values()))["deletionVector"]
    assert dv["cardinality"] == 300027
    assert scan_delta_table(spark, d).count() == 600000 - 300027


def test_check_constraint_enforced_on_merge(spark, tmp_path):
    """CHECK constraints guard every add path that lands rows — MERGE
    included (it commits through the same enforcement): a violating
    source row refuses the whole merge, the table stays at its prior
    version, and a conforming merge then applies."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        scan_delta_table,
    )

    d = str(tmp_path / "cmerge")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    w.add_check_constraint("nonneg", "n_nationkey >= 0")
    v_before = w._version
    bad = n.where("n_nationkey = 3").withColumn(
        "n_nationkey", F.lit(-7).cast(n.schema["n_nationkey"].dataType)
    )
    with _pytest.raises(ValueError, match="CHECK constraint"):
        w.merge_upsert(bad, ["n_nationkey"])
    assert w._version == v_before
    ok = n.where("n_nationkey = 3").withColumn("n_name", F.lit("PATCHED"))
    w.merge_upsert(ok, ["n_nationkey"])
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    assert got[3] == "PATCHED" and len(got) == 12


def test_check_constraint_enforced_on_update_dv(spark, tmp_path):
    """ADVICE r12: update_where_dv lands its updated rows via
    _write_commit, not commit() — the CHECK gate must still run there,
    or an UPDATE assignment violating delta.constraints.* would put
    violating rows in the table (stock Delta validates UPDATE too).
    A violating update refuses with no new version; a conforming one
    then applies."""
    d = str(tmp_path / "cupd")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark).select("n_nationkey", "n_name")
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    w.add_check_constraint("nonneg", "n_nationkey >= 0")
    v_before = w._version
    with pytest.raises(ValueError, match="CHECK constraint"):
        w.update_where_dv("n_nationkey = 3", {"n_nationkey": "-1"})
    assert w._version == v_before
    got = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    assert 3 in got and len(got) == 12  # row 3 untouched, nothing lost
    w.update_where_dv("n_nationkey = 3", {"n_name": "'OK'"})
    got2 = {
        r["n_nationkey"]: r["n_name"]
        for r in scan_delta_table(spark, d).collect()
    }
    assert got2[3] == "OK" and len(got2) == 12


def test_append_only_gates_restore(spark, tmp_path):
    """ADVICE r12: RESTORE removes files (and can delete/resurrect
    rows), so delta.appendOnly must gate it like DELETE/UPDATE/MERGE."""
    d = str(tmp_path / "aorestore")
    w = DeltaTableWriter(spark, d)
    n = _nation(spark)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    w.commit(add_dfs=[n.where("n_nationkey >= 12")])
    w.set_table_property("delta.appendOnly", "true")
    with pytest.raises(ValueError, match="append-only"):
        w.restore(0)
    assert scan_delta_table(spark, d).count() == 25  # nothing rolled back


def test_drop_column_guards_and_time_travel(spark, tmp_path):
    """DROP COLUMN guard rails (stock's): requires column mapping;
    refuses partition columns, columns referenced by a generation
    expression or CHECK constraint, and the last column. Pre-drop
    versions keep the column via time travel; a same-named re-add gets
    a fresh physical name so old bytes never resurrect."""
    from pyspark.sql import functions as F

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    # no mapping → refuse
    w0 = DeltaTableWriter(spark, str(tmp_path / "nomap"))
    w0.commit(add_dfs=[n.where("n_nationkey < 3")])
    with pytest.raises(NotImplementedError, match="column mapping"):
        w0.drop_column("n_name")
    # mapped, partitioned, constrained, generated
    d = str(tmp_path / "dropg")
    w = DeltaTableWriter(spark, d, column_mapping=True)
    w.commit(
        add_dfs=[n.where("n_regionkey = 0")],
        partition_cols=["n_regionkey"],
        generated={"keyplus": "n_nationkey + 1"},
    )
    w.add_check_constraint("named", "n_name IS NOT NULL")
    with pytest.raises(ValueError, match="partition column"):
        w.drop_column("n_regionkey")
    with pytest.raises(ValueError, match="generated column"):
        w.drop_column("n_nationkey")
    with pytest.raises(ValueError, match="CHECK constraint"):
        w.drop_column("n_name")
    with pytest.raises(ValueError, match="no column"):
        w.drop_column("ghost")
    w.drop_check_constraint("named")
    v_drop = w.drop_column("n_name")
    assert "n_name" not in scan_delta_table(spark, d).columns
    # time travel: the pre-drop version still carries values
    pre = scan_delta_table(spark, d, version=v_drop - 1)
    assert pre.filter("n_name IS NULL").count() == 0
    # dropping the generated column itself is allowed and stops the
    # writer recomputing it on later adds
    w.drop_column("keyplus")
    w.commit(
        add_partitioned=n.where("n_regionkey = 1").select(
            "n_nationkey", "n_regionkey"
        ),
    )
    got = scan_delta_table(spark, d)
    assert set(got.columns) == {"n_nationkey", "n_regionkey"}
    assert got.count() == 10
    # last-column refusal
    d2 = str(tmp_path / "droplast")
    w2 = DeltaTableWriter(spark, d2, column_mapping=True)
    w2.commit(add_dfs=[n.select("n_nationkey").where("n_nationkey < 3")])
    with pytest.raises(ValueError, match="last column"):
        w2.drop_column("n_nationkey")


def test_cdf_fold_reconstructs_every_version(spark, tmp_path):
    """Delta twin of the Iceberg changelog fold property: over a mixed
    history (appends, DV DELETE/UPDATE, MERGE, an OPTIMIZE that must
    contribute nothing), folding the log-derived change feed
    (delta_table_changes — net changes, so the fold is order-free) for
    every adjacent version pair AND the full window onto the older
    version's scan reproduces the newer version's scan exactly, as
    multisets."""
    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        delta_table_changes,
        read_delta_log,
    )

    n = _nation(spark).select("n_nationkey", "n_name", "n_regionkey")
    d = str(tmp_path / "cdffold")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.filter("n_nationkey < 10")])
    w.commit(add_dfs=[n.filter("n_nationkey between 10 and 19")])
    w.delete_where_dv("n_nationkey in (3, 13)")
    w.update_where_dv("n_nationkey in (5, 15)",
                      {"n_name": "concat('U', n_nationkey)"})
    w.commit(add_dfs=[n.filter("n_nationkey >= 20")])
    w.merge_upsert(
        n.filter("n_nationkey = 8").withColumn("n_name", F.lit("MRG")),
        ["n_nationkey"],
    )
    w.optimize()  # dataChange=false: zero CDF rows across this version
    head = read_delta_log(d)["version"] if "version" in read_delta_log(d) else w._version

    def rows_at(v):
        return sorted(
            tuple(r)
            for r in scan_delta_table(spark, d, version=v)
            .select("n_nationkey", "n_name", "n_regionkey")
            .collect()
        )

    def fold(a, b):
        # delta_table_changes derives NET changes from the log diff, so
        # the fold is order-free: deletes are a sub-multiset of the base
        state = list(rows_at(a))
        ch = delta_table_changes(spark, d, a, b).collect()
        for r in ch:
            row = (r["n_nationkey"], r["n_name"], r["n_regionkey"])
            if r["_change_type"] in ("delete", "update_preimage"):
                state.remove(row)
        for r in ch:
            if r["_change_type"] in ("insert", "update_postimage"):
                state.append(
                    (r["n_nationkey"], r["n_name"], r["n_regionkey"])
                )
        return sorted(state)

    for a in range(0, head):
        assert fold(a, a + 1) == rows_at(a + 1), (a, a + 1)
    assert fold(0, head) == rows_at(head)


def test_shallow_clone_details(spark, tmp_path):
    """Shallow-clone edges beyond the registry key: a clone of a
    COLUMN-MAPPED + partitioned source keeps working (mapping mode and
    physical names carry over); cloning a CLONE still points at the
    ORIGINAL files (absolute paths pass through os.path.join); the clone
    commit must be the new table's FIRST commit; self-clone refuses."""
    import os

    from pyspark.sql import functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table

    from .conftest import SF_DIR

    n = table(spark, SF_DIR, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    src = str(tmp_path / "src")
    ws = DeltaTableWriter(spark, src, column_mapping=True)
    for i, rk in enumerate(range(5)):
        ws.commit(
            add_dfs=[n.filter(F.col("n_regionkey") == rk)],
            partition_cols=["n_regionkey"] if i == 0 else None,
        )

    c1 = str(tmp_path / "c1")
    w1 = DeltaTableWriter(spark, c1)
    w1.shallow_clone(src)
    got = sorted(r["n_nationkey"] for r in scan_delta_table(spark, c1).collect())
    assert got == list(range(25))
    st = read_delta_log(c1)
    assert (st["metadata"]["configuration"] or {}).get(
        "delta.columnMapping.mode"
    ) == "name"
    assert st["metadata"]["id"] != read_delta_log(src)["metadata"]["id"]
    # partition pruning via the clone's own log metadata
    pruned = scan_delta_table(spark, c1, partition_filter={"n_regionkey": "2"})
    assert pruned.count() == n.filter("n_regionkey = 2").count()

    # clone-of-clone: every add still points INTO the original source dir
    c2 = str(tmp_path / "c2")
    w2 = DeltaTableWriter(spark, c2)
    w2.shallow_clone(c1)
    src_abs = os.path.abspath(src)
    for rel in read_delta_log(c2)["files"]:
        assert os.path.abspath(rel).startswith(src_abs + os.sep), rel
    assert scan_delta_table(spark, c2).count() == 25

    # guards
    with pytest.raises(ValueError, match="first commit"):
        w1.shallow_clone(src)
    w3 = DeltaTableWriter(spark, str(tmp_path / "self"))
    with pytest.raises(ValueError, match="onto itself"):
        w3.shallow_clone(str(tmp_path / "self"))


def test_version_at_timestamp_monotonicity_adjustment(spark, tmp_path):
    """Stock DeltaHistoryManager adjusts non-monotonic commit timestamps
    (clock steps) to predecessor+1ms so version order and time order
    never disagree — a query between the true times of a backwards pair
    must resolve to the EARLIER version, and times before the first
    commit raise."""
    import json as _json
    import os

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        delta_version_at_timestamp,
    )
    from lakefs_iceberg_catalog_spark.tables import table

    from .conftest import SF_DIR

    n = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    d = str(tmp_path / "monots")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.filter("n_nationkey < 12")])
    w.commit(add_dfs=[n.filter("n_nationkey >= 12")])

    # doctor the commits: v0 at ts=100000, v1 at ts=50000 (clock step)
    def _set_ts(v, ts):
        p = os.path.join(d, "_delta_log", f"{v:020d}.json")
        lines = []
        with open(p) as fh:
            for line in fh.read().splitlines():
                a = _json.loads(line)
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = ts
                lines.append(_json.dumps(a, separators=(",", ":")))
        with open(p, "w") as fh:
            fh.write("\n".join(lines))

    _set_ts(0, 100_000)
    _set_ts(1, 50_000)
    # v1's effective timestamp becomes 100001: between the raw stamps
    # resolution pins v0, not the later-versioned v1
    assert delta_version_at_timestamp(d, 100_000) == 0
    assert delta_version_at_timestamp(d, 100_001) == 1
    with pytest.raises(ValueError, match="at or before"):
        delta_version_at_timestamp(d, 99_999)


def test_restore_to_timestamp(spark, tmp_path):
    """RESTORE TO TIMESTAMP AS OF: resolve the commit current at the
    asked time and flip the file set back to it; pre-table times raise
    without committing."""
    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.tables import table

    from .conftest import SF_DIR

    import json as _json
    import os

    n = table(spark, SF_DIR, "nation").select("n_nationkey", "n_name")
    d = str(tmp_path / "restts")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.filter("n_nationkey < 12")])
    w.commit(add_dfs=[n.filter("n_nationkey >= 12")])

    # pin commitInfo stamps for determinism at any commit speed
    for ver, ts in ((0, 100_000), (1, 200_000)):
        p = os.path.join(d, "_delta_log", f"{ver:020d}.json")
        out = []
        with open(p) as fh:
            for line in fh.read().splitlines():
                a = _json.loads(line)
                if "commitInfo" in a:
                    a["commitInfo"]["timestamp"] = ts
                out.append(_json.dumps(a, separators=(",", ":")))
        with open(p, "w") as fh:
            fh.write("\n".join(out))

    v = w.restore_to_timestamp(199_999)  # the state current between commits
    assert v == 2  # the restore is itself a new commit
    assert scan_delta_table(spark, d).count() == 12
    n_versions = read_delta_log(d)["version"]
    with pytest.raises(ValueError, match="at or before"):
        w.restore_to_timestamp(99_999)
    assert read_delta_log(d)["version"] == n_versions  # nothing committed


def test_identity_columns_edges(spark, tmp_path):
    """Round 15 identity-column edges: GENERATED ALWAYS (allowExplicitInsert
    =false) refuses explicit values; a negative step allocates downward and
    explicit values advance the mark in the step's direction; an empty add
    allocates nothing; replayed sequential appends never collide."""
    import json as _json

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    ddl = "k int"
    # GENERATED ALWAYS: explicit insert refused, nothing committed
    d1 = str(tmp_path / "always")
    w = DeltaTableWriter(spark, d1)
    w.commit(add_dfs=[local_df(spark, [(1,), (2,)], ddl)],
             identity={"rid": {"start": 1, "step": 1}})
    v = w._version
    with pytest.raises(ValueError, match="ALWAYS"):
        w.commit(add_dfs=[local_df(spark, [(3, 99)], "k int, rid long")])
    assert w._version == v
    w.commit(add_dfs=[local_df(spark, [], ddl)])  # empty add: no allocation
    w.commit(add_dfs=[local_df(spark, [(3,)], ddl)])
    got = {r["k"]: r["rid"] for r in scan_delta_table(spark, d1).collect()}
    assert sorted(got.values()) == [1, 2, 3]  # contiguous despite empty add

    # negative step: downward allocation, explicit value pushes the mark DOWN
    d2 = str(tmp_path / "downward")
    w2 = DeltaTableWriter(spark, d2)
    w2.commit(add_dfs=[local_df(spark, [(1,), (2,)], ddl)],
              identity={"rid": {"start": -1, "step": -2,
                                "allowExplicitInsert": True}})
    w2.commit(add_dfs=[local_df(spark, [(3, -50)], "k int, rid long")])
    w2.commit(add_dfs=[local_df(spark, [(4,)], ddl)])
    rows = scan_delta_table(spark, d2).collect()
    rids = {r["k"]: r["rid"] for r in rows}
    assert sorted(rids.values(), reverse=True) == [-1, -3, -50, -52]
    schema = _json.loads(read_delta_log(d2)["schema_json"])
    meta = next(f["metadata"] for f in schema["fields"] if f["name"] == "rid")
    assert meta["delta.identity.highWaterMark"] == -52
    assert len(set(rids.values())) == len(rids)  # no collisions

    # declaration guards
    with pytest.raises(ValueError, match="non-zero"):
        DeltaTableWriter(spark, str(tmp_path / "z")).commit(
            add_dfs=[local_df(spark, [(1,)], ddl)],
            identity={"rid": {"step": 0}},
        )
    with pytest.raises(ValueError, match="BIGINT"):
        DeltaTableWriter(spark, str(tmp_path / "ty")).commit(
            add_dfs=[local_df(spark, [(1, 2)], "k int, rid int")],
            identity={"rid": {}},
        )


def test_commit_many_matches_sequential_commits(spark, tmp_path, monkeypatch):
    """commit_many = N single-add commits, 1 staged write job (round 15
    optimization): pins log-level equivalence against a sequentially
    committed twin on the unpartitioned and int-partitioned layouts —
    same version count, same per-version add counts and partitionValues,
    same rows, same time travel per version — and on every table feature:
    column mapping (id and name), generated and identity columns,
    string/date/bool partitions, and a CHECK violation mid-batch."""
    import pyspark.sql.functions as F

    from lakefs_iceberg_catalog_spark.catalog.delta_format import (
        DeltaTableWriter,
        read_delta_log,
        scan_delta_table,
    )

    n = _nation(spark)
    slices = [n.filter(F.col("n_regionkey") == rk) for rk in range(5)]

    # unpartitioned
    d_many, d_seq = str(tmp_path / "m"), str(tmp_path / "s")
    wm, ws = DeltaTableWriter(spark, d_many), DeltaTableWriter(spark, d_seq)
    versions = wm.commit_many(slices)
    for s in slices:
        ws.commit(add_dfs=[s])
    assert versions == [0, 1, 2, 3, 4]
    assert read_delta_log(d_many)["version"] == read_delta_log(d_seq)["version"] == 4
    assert sorted(map(tuple, scan_delta_table(spark, d_many).collect())) == sorted(
        map(tuple, scan_delta_table(spark, d_seq).collect())
    )
    for v in range(5):  # per-version time travel identical
        assert sorted(
            map(tuple, scan_delta_table(spark, d_many, version=v).collect())
        ) == sorted(map(tuple, scan_delta_table(spark, d_seq, version=v).collect()))

    # int-partitioned: partitionValues read off the staged directory names
    d_p = str(tmp_path / "p")
    wp = DeltaTableWriter(spark, d_p)
    wp.commit(add_dfs=[slices[0]], partition_cols=["n_regionkey"])
    wp.commit_many([slices[1], slices[2], slices[3]])
    state = read_delta_log(d_p)
    assert state["version"] == 3
    back = scan_delta_table(spark, d_p)
    assert sorted(map(tuple, back.collect())) == sorted(
        map(tuple, slices[0].unionByName(slices[1]).unionByName(slices[2])
            .unionByName(slices[3]).collect())
    )

    def twins(tag, first_commit_kw=None, writer_kw=None):
        """(batch writer dir, sequential writer dir, batch call's job
        count): version 0 commits slices[0] with ``first_commit_kw`` on
        both, then slices[1:] go through ONE commit_many vs N commits."""
        dirs = []
        for mode in ("many", "seq"):
            d = str(tmp_path / f"{tag}-{mode}")
            w = DeltaTableWriter(spark, d, **(writer_kw or {}))
            w.commit(add_dfs=[slices[0]], **(first_commit_kw or {}))
            if mode == "many":
                vs, jobs = jobs_of(spark, lambda: w.commit_many(slices[1:]))
                assert vs == [1, 2, 3, 4]
            else:
                for s in slices[1:]:
                    w.commit(add_dfs=[s])
            dirs.append(d)
        for v in range(5):
            assert sorted(
                map(tuple, scan_delta_table(spark, dirs[0], version=v).collect())
            ) == sorted(
                map(tuple, scan_delta_table(spark, dirs[1], version=v).collect())
            )
        return dirs[0], dirs[1], jobs

    def version_actions(d, v):
        with open(os.path.join(d, "_delta_log", f"{v:020d}.json")) as f:
            return [json.loads(line) for line in f]

    # column mapping, both modes: ONE write job for the whole batch
    for mode in ("id", "name"):
        dm, ds, jobs = twins(f"cm-{mode}", writer_kw={"column_mapping": mode})
        assert jobs == 1, jobs
        assert read_delta_log(dm)["metadata"]["configuration"][
            "delta.columnMapping.mode"
        ] == mode

    # generated partition column
    dm, ds, _ = twins(
        "gen",
        {"generated": {"rk2": "n_regionkey * 2"}, "partition_cols": ["rk2"]},
    )
    assert sorted(
        a["partitionValues"]["rk2"] for a in read_delta_log(dm)["files"].values()
    ) == ["0", "2", "4", "6", "8"]

    # identity column: every version's metaData carries its own
    # high-water mark, identical to the sequential twin's
    dm, ds, _ = twins("ident", {"identity": {"rid": {}}})

    def hwm(d, v):
        meta = [a["metaData"] for a in version_actions(d, v) if "metaData" in a]
        (f,) = [
            f for f in json.loads(meta[0]["schemaString"])["fields"]
            if f["name"] == "rid"
        ]
        return f["metadata"]["delta.identity.highWaterMark"]

    marks = [hwm(dm, v) for v in range(5)]
    assert marks == [hwm(ds, v) for v in range(5)]
    assert marks == sorted(marks) and len(set(marks)) == 5

    # string, date and bool partitions: partitionValues keep the typed
    # value's str() bytes (Spark's directory names say "true"; they are
    # decoded back to typed values first)
    typed = [
        s.withColumn("region", F.concat(F.lit("R"), F.col("n_regionkey")))
        .withColumn("day", F.date_add(F.lit("1995-01-01").cast("date"),
                                      F.col("n_regionkey")))
        .withColumn("even", F.col("n_regionkey") % 2 == 0)
        for s in slices
    ]
    d_t = str(tmp_path / "typed")
    wt = DeltaTableWriter(spark, d_t)
    wt.commit(add_dfs=[typed[0]], partition_cols=["region", "day", "even"])
    wt.commit_many(typed[1:])
    pv = sorted(
        (a["partitionValues"] for a in read_delta_log(d_t)["files"].values()),
        key=lambda p: p["region"],
    )
    assert pv == [
        {"region": f"R{rk}", "day": f"1995-01-0{rk + 1}", "even": str(rk % 2 == 0)}
        for rk in range(5)
    ]
    assert sorted(map(tuple, scan_delta_table(spark, d_t)
                      .select(*typed[0].columns).collect())) == sorted(
        map(tuple, n.withColumn("region", F.concat(F.lit("R"), F.col("n_regionkey")))
            .withColumn("day", F.date_add(F.lit("1995-01-01").cast("date"),
                                          F.col("n_regionkey")))
            .withColumn("even", F.col("n_regionkey") % 2 == 0).collect())
    )

    # a CHECK constraint violated in slice 2: the versions of slices 0-1
    # stay committed (as the sequential commits would leave them), the
    # call raises, and neither the table dir nor the staging area keeps a
    # file of the refused slices
    import tempfile

    stage_root = tmp_path / "stage"
    stage_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(stage_root))
    d_c = str(tmp_path / "check")
    wc = DeltaTableWriter(spark, d_c)
    wc.commit(add_dfs=[slices[0]])
    wc.add_check_constraint("not_three", "n_regionkey <> 3")  # version 1
    with pytest.raises(ValueError, match="CHECK constraint 'not_three'"):
        wc.commit_many(slices[1:])
    state = read_delta_log(d_c)
    assert state["version"] == 3
    assert sorted(
        r["n_regionkey"] for r in scan_delta_table(spark, d_c)
        .select("n_regionkey").distinct().collect()
    ) == [0, 1, 2]
    data = [p for p in os.listdir(d_c) if p.endswith(".parquet")]
    assert sorted(data) == sorted(state["files"])  # no orphan file
    assert not os.listdir(stage_root)  # staged slices 3-4 discarded


def test_write_riding_probes_match_pre_write_semantics(spark, tmp_path):
    """Round 16: the CHECK-constraint and partitioned single-valuedness
    probes ride the data-file write job as observed metrics instead of
    paying their own Spark actions. The checked semantics must be
    unchanged: same errors, and a refused add leaves NO orphan part file
    in the table dir."""
    from pyspark.sql import functions as F

    n = _nation(spark)

    # (a) mixed-partition add refused ("several"), no orphan file
    d1 = str(tmp_path / "mixed")
    w1 = DeltaTableWriter(spark, d1)
    with pytest.raises(ValueError, match="got several"):
        w1.commit(add_dfs=[n], partition_cols=["n_regionkey"])
    assert not [p for p in os.listdir(d1) if p.endswith(".parquet")]

    # (b) mixed NULL/value partition column is also "several" (the old
    # limit(2)-distinct probe caught this; min==max alone would not)
    d2 = str(tmp_path / "nullmix")
    w2 = DeltaTableWriter(spark, d2)
    mixed = n.withColumn(
        "n_regionkey",
        F.when(F.col("n_nationkey") < 5, F.col("n_regionkey")).cast("int"),
    ).where("n_nationkey < 10")
    with pytest.raises(ValueError, match="got several"):
        w2.commit(add_dfs=[mixed], partition_cols=["n_regionkey"])

    # (c) all-NULL partition value commits with a NULL partitionValues
    # entry and scans back with the NULL re-injected
    d3 = str(tmp_path / "allnull")
    w3 = DeltaTableWriter(spark, d3)
    allnull = n.where("n_nationkey < 3").withColumn(
        "n_regionkey", F.lit(None).cast("int")
    )
    w3.commit(add_dfs=[allnull], partition_cols=["n_regionkey"])
    state = read_delta_log(d3)
    (add,) = state["files"].values()
    assert add["partitionValues"] == {"n_regionkey": None}
    back = scan_delta_table(spark, d3)
    assert back.count() == 3
    assert back.where("n_regionkey IS NULL").count() == 3

    # (d) empty partitioned add refused ("none"), no orphan file
    d4 = str(tmp_path / "empty")
    w4 = DeltaTableWriter(spark, d4)
    with pytest.raises(ValueError, match="got none"):
        w4.commit(add_dfs=[n.where("1=0")], partition_cols=["n_regionkey"])
    assert not [p for p in os.listdir(d4) if p.endswith(".parquet")]

    # (e) constraint violation refused on a later commit, file removed
    d5 = str(tmp_path / "constraint")
    w5 = DeltaTableWriter(spark, d5)
    w5.commit(add_dfs=[n.where("n_nationkey < 5")])
    w5.add_check_constraint("lowkeys", "n_nationkey < 10")
    files_before = sorted(
        p for p in os.listdir(d5) if p.endswith(".parquet")
    )
    with pytest.raises(ValueError, match="CHECK constraint 'lowkeys'"):
        w5.commit(add_dfs=[n.where("n_nationkey >= 10")])
    assert files_before == sorted(
        p for p in os.listdir(d5) if p.endswith(".parquet")
    )

    # (f) an all-NaN double partition slice is single-valued (one
    # score=NaN staged directory) and scans back
    d6 = str(tmp_path / "nan")
    w6 = DeltaTableWriter(spark, d6)
    nan = n.where("n_nationkey < 3").withColumn("score", F.lit(float("nan")))
    w6.commit(add_dfs=[nan], partition_cols=["score"])
    (add,) = read_delta_log(d6)["files"].values()
    assert add["partitionValues"] == {"score": "nan"}
    back = scan_delta_table(spark, d6)
    assert back.count() == 3
    assert back.where("isnan(score)").count() == 3

    # (g) a NaN + 1.0 slice is refused ("several"), no orphan file
    d7 = str(tmp_path / "nanmix")
    w7 = DeltaTableWriter(spark, d7)
    nanmix = n.where("n_nationkey < 4").withColumn(
        "score",
        F.when(F.col("n_nationkey") < 2, F.lit(float("nan"))).otherwise(1.0),
    )
    with pytest.raises(ValueError, match="got several"):
        w7.commit(add_dfs=[nanmix], partition_cols=["score"])
    assert not [p for p in os.listdir(d7) if p.endswith(".parquet")]


@pytest.mark.parametrize("ptype, pval", [("boolean", True), ("double", 1.0e10)])
def test_merge_twice_into_bool_and_double_partitions(spark, tmp_path, ptype, pval):
    """A second MERGE keyed on a boolean or double partition column
    updates the row the first MERGE inserted, and every add carries its
    partitionValues in one text ("True", "10000000000.0"), whichever
    write produced it."""
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    ddl = f"k int, p {ptype}, v string"
    d = str(tmp_path / f"twice_{ptype}")
    w = DeltaTableWriter(spark, d)
    w.commit(
        add_dfs=[local_df(spark, [(1, pval, "a"), (2, pval, "b")], ddl)],
        partition_cols=["p"],
    )
    w.merge_upsert(local_df(spark, [(3, pval, "c")], ddl), ["k", "p"])
    w.merge_upsert(local_df(spark, [(3, pval, "C2")], ddl), ["k", "p"])
    got = sorted(
        tuple(r) for r in scan_delta_table(spark, d).select("k", "p", "v").collect()
    )
    assert got == [(1, pval, "a"), (2, pval, "b"), (3, pval, "C2")]
    texts = {
        a["partitionValues"]["p"] for a in read_delta_log(d)["files"].values()
    }
    assert texts == {str(pval)}


def test_partitioned_shallow_clone_keeps_dv_deletes_through_merge(
    spark, tmp_path
):
    """A shallow clone's adds are keyed by ABSOLUTE paths. A DV delete on
    the clone must stay applied when a later MERGE rewrites that file:
    the MERGE scan finds each file's deletion vector through the log's
    own keys, so the deleted row is not carried into the rewrite."""
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    ddl = "k int, p int, v string"
    src = str(tmp_path / "src")
    ws = DeltaTableWriter(spark, src)
    ws.commit(
        add_dfs=[local_df(spark, [(1, 0, "a"), (2, 0, "b")], ddl)],
        partition_cols=["p"],
    )
    ws.commit_many([local_df(spark, [(3, 1, "c")], ddl)])
    dst = str(tmp_path / "clone")
    wc = DeltaTableWriter(spark, dst)
    wc.shallow_clone(src)
    assert all(os.path.isabs(rel) for rel in read_delta_log(dst)["files"])
    wc.delete_where_dv("k = 2")
    wc.merge_upsert(local_df(spark, [(1, 0, "A")], ddl), ["k"])
    got = sorted(
        tuple(r) for r in scan_delta_table(spark, dst).select("k", "p", "v").collect()
    )
    assert got == [(1, 0, "A"), (3, 1, "c")]
    assert scan_delta_table(spark, src).count() == 3  # the source never moved


def test_cdc_actions_publish_inside_their_commit(spark, tmp_path, monkeypatch):
    """commit_with_cdc, MERGE, DELETE and UPDATE write their cdc actions
    inside the ONE commit file: the file as published already lists them,
    so no reader can see the commit without its change rows. A MERGE
    refused by a CHECK constraint leaves no commit and no file behind —
    its change rows are staged only once the adds pass their checks."""
    published: list[set[str]] = []
    write_commit = DeltaTableWriter._write_commit

    def spy(self, actions):
        v = write_commit(self, actions)
        log = os.path.join(self.table_dir, "_delta_log", f"{v:020d}.json")
        with open(log) as f:
            published.append(
                {k for line in f.read().splitlines() if line for k in json.loads(line)}
            )
        return v

    monkeypatch.setattr(DeltaTableWriter, "_write_commit", spy)
    from pyspark.sql import functions as F

    n = _nation(spark).select("n_nationkey", "n_name")
    d = str(tmp_path / "cdc_one_file")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[n.where("n_nationkey < 12")])
    w.commit_with_cdc(
        add_dfs=[n.where("n_nationkey >= 12")],
        cdc_df=n.where("n_nationkey >= 12").withColumn(
            "_change_type", F.lit("insert")
        ),
    )
    up = spark.createDataFrame([(3, "UP_3")], "n_nationkey int, n_name string")
    w.merge_upsert(up, ["n_nationkey"])
    w.delete_where_dv("n_nationkey = 20")
    w.update_where_dv("n_nationkey = 21", {"n_name": "'U21'"})
    assert len(published) == 5
    assert all("cdc" in kinds for kinds in published[1:]), published

    w.add_check_constraint("nonneg", "n_nationkey >= 0")
    v, before = w._version, sorted(
        os.path.relpath(os.path.join(r, f), d)
        for r, _, fs in os.walk(d)
        for f in fs
    )
    bad = up.withColumn("n_nationkey", F.lit(-7))
    with pytest.raises(ValueError, match="CHECK constraint"):
        w.merge_upsert(bad, ["n_nationkey"])
    assert w._version == v
    assert before == sorted(
        os.path.relpath(os.path.join(r, f), d)
        for r, _, fs in os.walk(d)
        for f in fs
    )


def test_shallow_clone_key_leaves_no_temp_dirs(spark):
    """sink_delta_shallow_clone removes BOTH tables it builds: the source
    as well as the clone (each call used to leave a delta-clone-src-*
    directory behind)."""
    import glob
    import tempfile

    import __spark_entry__

    def clone_dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "delta-clone-*")))

    before = clone_dirs()
    query = __spark_entry__.queries()["sink_delta_shallow_clone"]
    assert len(query(spark, SF_DIR).toPandas()) == 24
    assert clone_dirs() <= before


@pytest.mark.parametrize(
    "ptype, pval, text", [("boolean", True, "true"), ("double", 1.0e10, "1.0E10")]
)
def test_merge_probe_compares_partition_values_typed(
    spark, tmp_path, ptype, pval, text
):
    """The pruned MERGE probe compares partition tuples by their typed
    values, not by their log text: on a table whose adds carry Spark's
    directory text ("true", "1.0E10", as other writers log it) the
    matching files are still probed, so the MERGE updates the row
    instead of adding a second one."""
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    ddl = f"k int, p {ptype}, v string"
    d = str(tmp_path / f"text_{ptype}")
    w = DeltaTableWriter(spark, d)
    w.commit(
        add_dfs=[local_df(spark, [(1, pval, "a"), (3, pval, "c")], ddl)],
        partition_cols=["p"],
    )
    log = os.path.join(d, "_delta_log", f"{0:020d}.json")
    with open(log) as f:
        body = f.read()
    ours, theirs = (
        json.dumps({"p": t}, separators=(",", ":")) for t in (str(pval), text)
    )
    assert ours in body
    with open(log, "w") as f:
        f.write(body.replace(ours, theirs))
    w.merge_upsert(local_df(spark, [(3, pval, "C2")], ddl), ["k", "p"])
    got = sorted(
        tuple(r) for r in scan_delta_table(spark, d).select("k", "p", "v").collect()
    )
    assert got == [(1, pval, "a"), (3, pval, "C2")]


def test_identity_table_rewrites_keep_their_values(spark, tmp_path):
    """Rewrites of a GENERATED ALWAYS identity table carry the values the
    writer allocated: UPDATE, REORG and OPTIMIZE are not refused as
    explicit inserts, and each row keeps its identity value. MERGE
    carries source rows, so it is refused as the explicit insert it is:
    an upsert bringing its own ``rid`` for a new key, and a clause INSERT
    leaving ``rid`` out (its image would carry NULL). An UPDATE assigning
    ``rid`` and ``commit(add_partitioned=...)`` with ``rid`` are refused
    too. A refused write leaves no commit and no file."""
    from lakefs_iceberg_catalog_spark.catalog.merge_clauses import MergeClause
    from lakefs_iceberg_catalog_spark.operators.util import local_df

    d = str(tmp_path / "ident_rewrites")
    w = DeltaTableWriter(spark, d)
    w.commit(add_dfs=[local_df(spark, [(1,), (2,), (4,)], "k int")],
             identity={"rid": {}})
    rid = {r["k"]: r["rid"] for r in scan_delta_table(spark, d).collect()}
    w.update_where_dv("k = 1", {"k": "10"})
    w.delete_where_dv("k = 4")
    w.reorg_purge()
    w.optimize()
    got = {r["k"]: r["rid"] for r in scan_delta_table(spark, d).collect()}
    assert got == {10: rid[1], 2: rid[2]}

    def files():
        return sorted(
            os.path.relpath(os.path.join(r, f), d)
            for r, _, fs in os.walk(d)
            for f in fs
        )

    v, before = w._version, files()
    ddl = "k int, rid long"
    with pytest.raises(ValueError, match="ALWAYS"):
        w.merge_upsert(local_df(spark, [(5, rid[2])], ddl), ["k"])
    with pytest.raises(ValueError, match="ALWAYS"):
        w.merge_clauses(
            local_df(spark, [(6,)], "k int"),
            ["k"],
            [MergeClause("not_matched", "insert", assignments={"k": "s.k"})],
        )
    with pytest.raises(ValueError, match="ALWAYS"):
        w.update_where_dv("k = 2", {"rid": "rid + 100"})
    with pytest.raises(ValueError, match="ALWAYS"):
        w.commit(add_partitioned=local_df(spark, [(7, 1)], ddl))
    assert (w._version, files()) == (v, before)
    assert {r["k"]: r["rid"] for r in scan_delta_table(spark, d).collect()} == got
    w.commit(add_dfs=[local_df(spark, [(3,)], "k int")])
    got = {r["k"]: r["rid"] for r in scan_delta_table(spark, d).collect()}
    assert got[3] not in (rid[1], rid[2], rid[4])  # allocation never collides
