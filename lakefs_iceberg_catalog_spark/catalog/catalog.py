"""VersionedCatalog — branch-versioned tables over Parquet, Spark-native.

The Ring B layer (SURVEY.md §2 / §7 Phase 2): the reference's own semantics
re-expressed as a small driver-side Python library around DataFrame
reads/writes, exactly as the reference is driver-side JVM code around Iceberg
reads/writes.

Layout (branch = path prefix, mirroring ``lakefs://repo/ref/db/table``):

    {root}/{repo}/{branch}/{db}[/{db2}...]/{table}/
        metadata/v{N}.manifest.json   # version chain + hint (manifest.py)
        data/*.parquet                # data files of snapshots written HERE

Identifiers are ``repo.branch.db[...].table`` — ≥2 namespace levels
(repository + branch) required, exactly like LakeFSCatalog
(LakeFSCatalog.java:256-259, 166-168).

Zero-copy branching: manifests record **repo-relative** data paths, so a
branch's manifest may reference parquet files that physically live under the
branch it was forked from; only the small metadata JSON is copied at branch
create (lakeFS shares object versions the same way).

Scale note (100 TB): every operation here is O(metadata) on the driver —
listing/copying manifest JSON — while data stays put; scans hand Spark a
pruned file list, appends write only new part files, deletes rewrite only via
a distributed job. Nothing ever funnels row data through the driver.
"""

from __future__ import annotations

import datetime as _dt
import functools
import json
import numbers
import os
import re
import shutil
import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import (
    MergeConflictError,
    NamespaceAlreadyExistsError,
    NamespaceNotEmptyError,
    NoSuchNamespaceError,
    NoSuchTableError,
    PathSandboxError,
    SchemaMismatchError,
    TableAlreadyExistsError,
    UnsupportedOperationError,
)
from .manifest import (
    METADATA_DIR,
    CommitConflictError,
    CommitStateError,
    TableManifest,
    TableOperations,
    _read_manifest_file,
    _VERSION_RE,
    new_manifest,
    struct_mapping_of,
)
from ..operators.util import gated_broadcast, local_df

NS_METADATA = "ns_metadata.json"   # namespace marker (LakeFSCatalog.java:50)
# Reserved table property holding the declared sort order ({"kind":
# "cluster"|"zorder", "cols": [...]}) — the Iceberg SortOrder analog.
SORT_ORDER_PROP = "sort.order"
BRANCHES_FILE = ".branches.json"   # per-repo branch bases + commit log


def _split(identifier: str | list[str]) -> list[str]:
    """Split an identifier into levels, rejecting components that could
    escape the repo sandbox when joined into a filesystem path ('..', '.',
    empty, or separator-bearing parts).  List-form identifiers and
    backtick-quoted SQL parts go through here too, so the check guards every
    entry point (LakeFSFileIO.verifyPath applies the same rule per path)."""
    levels = identifier if isinstance(identifier, list) else identifier.split(".")
    for part in levels:
        if (
            not part
            or part in (".", "..")
            or "/" in part
            or "\\" in part
            or "\x00" in part
        ):
            raise PathSandboxError(
                f"illegal identifier component {part!r} in {identifier!r}"
            )
    return levels


def _align_to_schema(
    df: DataFrame, schema: T.StructType, *, strict: bool = False
) -> DataFrame:
    """Align an incoming DataFrame to the table schema.

    By-name whenever the column-name sets match (order-insensitive — a
    reordered batch casts into the RIGHT fields, never positionally into the
    wrong ones).  When names differ: ``strict=True`` raises
    SchemaMismatchError (the streaming-sink contract — a misnamed batch must
    never be silently committed), ``strict=False`` falls back to positional
    coercion (createDataFrame(rows, schema) semantics for batch appends) but
    only when the column COUNT matches — zip truncation on extra/missing
    columns is always an error."""
    names = {f.name for f in schema.fields}
    if set(df.columns) == names:
        return df.select([F.col(f.name).cast(f.dataType) for f in schema.fields])
    if strict or len(df.columns) != len(schema.fields):
        raise SchemaMismatchError(
            f"cannot align columns {df.columns} to table schema "
            f"{[f.name for f in schema.fields]}"
        )
    return df.select(
        [F.col(c).cast(f.dataType).alias(f.name) for c, f in zip(df.columns, schema.fields)]
    )


def _parquet_num_rows(path: str) -> int:
    try:
        import pyarrow.parquet as pq

        return pq.ParquetFile(path).metadata.num_rows
    except Exception:
        return -1  # unknown → keep the file


def _footer_stats(path: str) -> dict:
    """Per-column [min, max] from the parquet footer: the JSON-safe
    (int/float/str) view of ``parquet_io.parquet_column_bounds``. A column
    lacking min/max in any row group, a non-JSON bound type and an
    unreadable footer are simply absent — scans then never skip on them."""
    from .parquet_io import parquet_column_bounds

    try:
        bounds = parquet_column_bounds(path)
    except Exception:
        return {}
    return {
        c: [lo, hi]
        for c, (lo, hi) in bounds.items()
        if isinstance(lo, (int, float, str)) and isinstance(hi, (int, float, str))
    }


_SIMPLE_PRED_RE = re.compile(
    r"^\s*(\w+)\s*(=|<=|>=|<|>)\s*('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$"
)
_BETWEEN_PRED_RE = re.compile(
    r"^\s*(\w+)\s+BETWEEN\s+('(?:[^']*)'|-?\d+(?:\.\d+)?)"
    r"\s+AND\s+('(?:[^']*)'|-?\d+(?:\.\d+)?)\s*$",
    re.IGNORECASE,
)


def _pred_literal(lit: str):
    if lit.startswith("'"):
        return lit[1:-1]
    return float(lit) if "." in lit else int(lit)


def _parse_simple_predicate(predicate: str) -> tuple[str, str, object] | None:
    """(col, op, value) for a single-comparison predicate (`col op literal`
    or `col BETWEEN a AND b`), else None. Deliberately conservative: any
    predicate this can't prove simple gets no file scoping (correctness
    never depends on the parse — only how many files carry the entry)."""
    m = _SIMPLE_PRED_RE.match(predicate)
    if m:
        col, op, lit = m.groups()
        return col, op, _pred_literal(lit)
    m = _BETWEEN_PRED_RE.match(predicate)
    if m:
        col, lo, hi = m.groups()
        return col, "between", (_pred_literal(lo), _pred_literal(hi))
    return None


def _spark_order(v):
    """A number's sort key under Spark's order, where NaN is larger than
    every other value and equal to itself; other values as they are (a
    number never compares with them, so such a file is kept)."""
    if isinstance(v, numbers.Number):
        return (1, 0) if v != v else (0, v)
    return v


def _file_survives(stats: dict | None, col: str, op: str, value) -> bool:
    """Conservative file-skip test: keep the file unless its [min,max] range
    for `col` provably excludes every row matching `col op value` — in
    Spark's order, so NaN bounds and probes compare as Spark's do."""
    if not stats or col not in stats:
        return True
    mn, mx = map(_spark_order, stats[col])
    value = (
        tuple(map(_spark_order, value)) if op == "between" else _spark_order(value)
    )
    try:
        if op == "=":
            return mn <= value <= mx
        if op in ("<",):
            return mn < value
        if op == "<=":
            return mn <= value
        if op == ">":
            return mx > value
        if op == ">=":
            return mx >= value
        if op == "between":
            lo, hi = value
            return not (hi < mn or lo > mx)
    except TypeError:
        return True
    return True


def _bucket_of(value, n: int) -> int:
    """Bucket number for a key value: top byte of md5(str(value)) mod n —
    replayable bit-for-bit in Spark SQL (_bucket_col) and DuckDB (the
    2-nibble instr pattern), so layout, pruning, and oracles all agree.
    Keys are compared through str(): restrict bucket columns to int/string
    (fractional formatting differs across engines)."""
    import hashlib

    h = hashlib.md5(str(value).encode("utf-8")).hexdigest()
    return int(h[:2], 16) % n


def _bucket_col(col: str, n: int) -> F.Column:
    """The Spark expression computing _bucket_of for a column — pure
    scan-stage codegen (md5 + instr nibble arithmetic, the
    sample_stratified_hash pattern), no UDF."""
    h = f"md5(encode(cast(`{col}` as string), 'UTF-8'))"
    return F.expr(
        f"CAST((((instr('0123456789abcdef', substring({h}, 1, 1)) - 1) * 16"
        f" + (instr('0123456789abcdef', substring({h}, 2, 1)) - 1)) % {n}) AS INT)"
    )


def _effective_stats(m: TableManifest, f: str) -> dict:
    """A file's column ranges for planning: footer min/max merged with its
    identity partition values as degenerate [v, v] ranges — one code path
    then prunes on stats and partition boundaries alike."""
    stats = m.file_stats.get(f) or {}
    pv = m.file_partitions.get(f) or {}
    if pv:
        stats = {**stats, **{c: [v, v] for c, v in pv.items() if v is not None}}
    return stats


_INT_TYPE_NAMES = {"byte", "short", "integer", "long"}


def _bucket_target(m: TableManifest, col: str, op: str, value) -> int | None:
    """The single bucket an equality probe on the bucketed column can live
    in, or None when bucket pruning must not apply. The probe value is
    normalized to the COLUMN's write-side string rendering before hashing:
    an int column probed with 42.0 hashes '42' (what the writer hashed),
    and any probe whose rendering is ambiguous (non-integral float on an
    int column, non-string on a string column, boolean) disables pruning —
    conservative, the residual filter stays exact."""
    if op != "=" or not m.bucket_spec or m.bucket_spec.get("col") != col:
        return None
    ftype = next(
        (
            fld["type"]
            for fld in json.loads(m.schema_json).get("fields", [])
            if fld["name"] == col
        ),
        None,
    )
    if ftype in _INT_TYPE_NAMES:
        if isinstance(value, bool) or not isinstance(value, (int, float)):
            return None
        if isinstance(value, float):
            if not value.is_integer():
                return None
            value = int(value)
    elif ftype == "string":
        if not isinstance(value, str):
            return None
    else:
        return None  # unexpected bucket column type — never prune
    return _bucket_of(value, int(m.bucket_spec["n"]))


def _bucket_excludes(m: TableManifest, f: str, target: int | None) -> bool:
    """True iff file `f` provably cannot hold the probed bucket value."""
    if target is None:
        return False
    fb = (m.file_partitions.get(f) or {}).get("_bucket")
    return fb is not None and int(fb) != target


def _layout_col(spec: dict) -> F.Column:
    """The Spark expression deriving the synthetic layout key (`_bucket`)
    from the source column, per transform — all pure scan-stage codegen:

    - ``bucket``     : md5-nibble hash mod n (_bucket_col)
    - ``days``       : whole days since 1970-01-01 (Iceberg days(ts))
    - ``truncate``   : width-W floor for ints, W-char prefix for strings
      (Iceberg truncate[W]); the int form uses the sign-safe
      ``v - (((v % W) + W) % W)`` so negatives floor like Python/Iceberg.
    """
    col, transform = spec["col"], spec.get("transform", "bucket")
    if transform == "bucket":
        return _bucket_col(col, int(spec["n"]))
    if transform == "days":
        return F.datediff(F.col(col).cast("date"), F.lit("1970-01-01").cast("date"))
    if transform == "truncate":
        w = int(spec["param"])
        if spec.get("ctype") == "string":
            return F.substring(F.col(col), 1, w)
        return F.expr(f"CAST(`{col}` - (((`{col}` % {w}) + {w}) % {w}) AS BIGINT)")
    raise UnsupportedOperationError(f"unknown partition transform {transform!r}")


_EPOCH_DATE = _dt.date(1970, 1, 1)


def _day_number(value) -> int | None:
    """Iceberg's days(ts) transform of a probe value: whole days since
    1970-01-01 (the same floor the write side applies). Accepts date,
    datetime, or an ISO string; anything else disables pruning."""
    if isinstance(value, _dt.datetime):
        return (value.date() - _EPOCH_DATE).days
    if isinstance(value, _dt.date):
        return (value - _EPOCH_DATE).days
    if isinstance(value, str):
        try:
            return (_dt.date.fromisoformat(value[:10]) - _EPOCH_DATE).days
        except ValueError:
            return None
    return None


def _layout_interval(m: TableManifest, col: str, op: str, value):
    """Bounds (lo, hi), inclusive, None-open, on the synthetic layout key
    (`_bucket` dir value) that rows matching ``col op value`` can occupy —
    or None when layout pruning must not apply. This is Iceberg's
    hidden-partitioning predicate projection: `days` and `truncate` are
    MONOTONE transforms, so range predicates on the SOURCE column project
    to ranges on the partition value; `bucket` is a hash, so only equality
    projects (a single bucket)."""
    spec = m.bucket_spec
    if not spec or spec.get("col") != col:
        return None
    transform = spec.get("transform", "bucket")
    if transform == "bucket":
        b = _bucket_target(m, col, op, value)
        return None if b is None else (b, b)
    if op == "between":
        lo, hi = value
        a = _layout_interval(m, col, ">=", lo)
        b = _layout_interval(m, col, "<=", hi)
        if a is None or b is None:
            return None
        return (a[0], b[1])
    if transform == "days":
        k = _day_number(value)
    elif transform == "truncate":
        w = int(spec.get("param", 0))
        if w <= 0:
            return None
        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            k = (value // w) * w
        elif isinstance(value, str):
            k = value[:w]
        else:
            return None
    else:
        return None  # unknown transform — never prune
    if k is None:
        return None
    if op == "=":
        return (k, k)
    if op in ("<", "<="):
        return (None, k)
    if op in (">", ">="):
        return (k, None)
    return None


def _layout_excludes(m: TableManifest, f: str, interval) -> bool:
    """True iff file `f`'s layout key provably falls outside ``interval``."""
    return _pvals_exclude(m.file_partitions.get(f) or {}, interval)


def _types_ns(**kw):
    """Duck-typed manifest stand-in for the layout helpers (they only read
    bucket_spec/schema_json) — lets shard pruning run off the LIST object
    before any part is loaded."""
    from types import SimpleNamespace

    return SimpleNamespace(**kw)


def _pvals_exclude(pvals: dict, interval) -> bool:
    """True iff a partition-value dict's layout key (`_bucket`) provably
    falls outside ``interval`` — shared by per-file pruning and SHARD-level
    pruning (a manifest shard groups files of one partition value, so the
    same proof skips the whole part object unread). The stored dir value is
    a string; integer transforms (bucket/days/truncate-int) compare
    numerically, truncate-string lexicographically — the same order the
    transform preserves."""
    if interval is None:
        return False
    fb = pvals.get("_bucket")
    if fb is None:
        return False
    lo, hi = interval
    if isinstance(lo, int) or isinstance(hi, int):
        try:
            fb = int(fb)
        except ValueError:
            return False
    if lo is not None and fb < lo:
        return True
    if hi is not None and fb > hi:
        return True
    return False


_INT_WIDTH = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}


def _is_safe_widening(src: T.DataType, dst: T.DataType) -> bool:
    """True iff src→dst is a lossless type promotion (Iceberg's safe set):
    integer widening, float→double, decimal precision growth at the same
    scale. Same-type is NOT a widening (the call would be a no-op commit)."""
    if type(src) in _INT_WIDTH and type(dst) in _INT_WIDTH:
        return _INT_WIDTH[type(dst)] > _INT_WIDTH[type(src)]
    if isinstance(src, T.FloatType) and isinstance(dst, T.DoubleType):
        return True
    if isinstance(src, T.DecimalType) and isinstance(dst, T.DecimalType):
        return dst.scale == src.scale and dst.precision > src.precision
    return False


def _compile_assignments(
    schema: T.StructType, assignments: dict[str, str]
) -> dict[str, "F.Column"]:
    """UPDATE ... SET assignment compiler: {target: sql_expr} → one Column
    per affected TOP-LEVEL field. Targets may be plain columns (``age``) or
    struct members (``meta.w`` — Iceberg's nested UPDATE surface, composing
    with the nested field-id model): member assignments rebuild only the
    named members via withField, so unassigned members pass through and a
    whole-NULL struct stays NULL (withField on NULL yields NULL). Unknown
    columns/members, non-struct dotting, and assigning both a struct and
    its member in one statement are refused up front."""
    top: dict[str, dict[str, str] | str] = {}
    for target, expr in assignments.items():
        if "." in target:
            col, member = target.split(".", 1)
            if col not in schema.fieldNames():
                raise SchemaMismatchError(f"UPDATE target column {col!r} does not exist")
            dt = schema[col].dataType
            if not isinstance(dt, T.StructType):
                raise UnsupportedOperationError(
                    f"UPDATE target {target!r}: {col!r} is not a struct"
                )
            if "." in member or member not in dt.fieldNames():
                raise SchemaMismatchError(
                    f"UPDATE target {target!r}: no such struct member"
                )
            slot = top.setdefault(col, {})
            if isinstance(slot, str):
                raise UnsupportedOperationError(
                    f"cannot assign both {col!r} and {target!r} in one UPDATE"
                )
            slot[member] = expr
        else:
            if target not in schema.fieldNames():
                raise SchemaMismatchError(
                    f"UPDATE target column {target!r} does not exist"
                )
            if isinstance(top.get(target), dict):
                raise UnsupportedOperationError(
                    f"cannot assign both {target!r} and its members in one UPDATE"
                )
            top[target] = expr
    out: dict[str, F.Column] = {}
    for col, spec in top.items():
        dt = schema[col].dataType
        if isinstance(spec, str):
            out[col] = F.expr(spec).cast(dt)
        else:
            c = F.col(col)
            for member, expr in spec.items():
                c = c.withField(
                    member, F.expr(expr).cast(dt[member].dataType)
                )
            out[col] = c
    return out


class VersionedCatalog:
    def __init__(
        self, spark: SparkSession, root: str, suppress_permission_errors: bool = False
    ):
        """``suppress_permission_errors`` mirrors the reference's optional
        treat-AccessDenied-as-skip behavior on listings
        (LakeFSCatalog.java:53,71,79-86): when set, children a caller cannot
        stat are silently omitted from list results instead of raising."""
        self.spark = spark
        self.root = os.path.abspath(root)
        self.suppress_permission_errors = suppress_permission_errors
        os.makedirs(self.root, exist_ok=True)

    def _maybe_suppress(self, e: PermissionError) -> None:
        if not self.suppress_permission_errors:
            raise e

    # ---------------------------------------------------------------- paths

    def _repo_dir(self, repo: str) -> str:
        return os.path.join(self.root, repo)

    def _verify_path(self, repo: str, path: str) -> str:
        """Sandbox: any resolved path must stay under the repo root
        (LakeFSFileIO.verifyPath — escape attempts rejected)."""
        repo_dir = os.path.realpath(self._repo_dir(repo))
        resolved = os.path.realpath(path)
        if not (resolved == repo_dir or resolved.startswith(repo_dir + os.sep)):
            raise PathSandboxError(f"path {path!r} escapes repo {repo!r}")
        return resolved

    def _ns_dir(self, levels: list[str]) -> str:
        if len(levels) < 2:
            raise NoSuchNamespaceError(
                "Namespace must contain at least repository and branch levels"
            )
        return self._verify_path(levels[0], os.path.join(self.root, *levels))

    def _rel(self, repo: str, path: str) -> str:
        return os.path.relpath(path, self._repo_dir(repo))

    # ----------------------------------------------------------- namespaces

    def create_namespace(self, identifier: str | list[str], properties: dict | None = None) -> None:
        """mkdir-by-writing the ns marker JSON; fail if it already exists
        (LakeFSCatalog.java:222-248)."""
        levels = _split(identifier)
        d = self._ns_dir(levels)
        marker = os.path.join(d, NS_METADATA)
        if os.path.exists(marker):
            raise NamespaceAlreadyExistsError(".".join(levels))
        os.makedirs(d, exist_ok=True)
        with open(marker, "w") as f:
            json.dump(properties or {}, f)

    def load_namespace_metadata(self, identifier: str | list[str]) -> dict:
        """Read marker JSON + inject synthesized ``location``
        (LakeFSCatalog.java:333-357)."""
        levels = _split(identifier)
        d = self._ns_dir(levels)
        marker = os.path.join(d, NS_METADATA)
        if not os.path.isdir(d):
            raise NoSuchNamespaceError(".".join(levels))
        props: dict = {}
        if os.path.exists(marker):
            with open(marker) as f:
                props = json.load(f)
        props["location"] = d
        return props

    def list_namespaces(self, identifier: str | list[str] | None = None) -> list[list[str]]:
        """Children of a ≥2-level namespace that are namespaces (not tables).
        Top-level listing is unsupported (LakeFSCatalog.java:250-253)."""
        if identifier is None:
            raise UnsupportedOperationError(
                "top-level namespace listing requires repository and branch"
            )
        levels = _split(identifier)
        d = self._ns_dir(levels)
        if not os.path.isdir(d):
            raise NoSuchNamespaceError(".".join(levels))
        out = []
        for name in sorted(os.listdir(d)):
            child = os.path.join(d, name)
            try:
                if os.path.isdir(child) and not TableOperations(child).is_table_dir():
                    out.append(levels + [name])
            except PermissionError as e:
                self._maybe_suppress(e)
        return out

    def drop_namespace(self, identifier: str | list[str]) -> None:
        """Refuse when non-empty — only the marker file may remain
        (LakeFSCatalog.java:296-319)."""
        levels = _split(identifier)
        d = self._ns_dir(levels)
        if not os.path.isdir(d):
            raise NoSuchNamespaceError(".".join(levels))
        leftovers = [n for n in os.listdir(d) if n != NS_METADATA]
        if leftovers:
            raise NamespaceNotEmptyError(f"{'.'.join(levels)} still contains {leftovers[:5]}")
        shutil.rmtree(d)

    def set_namespace_properties(self, identifier, properties) -> None:
        raise UnsupportedOperationError("namespace property mutation is unsupported")

    def remove_namespace_properties(self, identifier, keys) -> None:
        raise UnsupportedOperationError("namespace property mutation is unsupported")

    # --------------------------------------------------------------- tables

    def _ops(self, identifier: str | list[str]) -> tuple[TableOperations, list[str]]:
        levels = _split(identifier)
        if len(levels) < 4:
            raise NoSuchTableError(
                f"table identifier needs repo.branch.db.table, got {'.'.join(levels)}"
            )
        # Same sandbox as _ns_dir/_read_files: the resolved table dir must
        # stay under the repo root before any read/write/rmtree touches it.
        table_dir = self._verify_path(levels[0], os.path.join(self.root, *levels))
        return TableOperations(table_dir), levels

    def list_tables(self, identifier: str | list[str]) -> list[str]:
        levels = _split(identifier)
        d = self._ns_dir(levels)
        if not os.path.isdir(d):
            raise NoSuchNamespaceError(".".join(levels))
        out = []
        for name in sorted(os.listdir(d)):
            child = os.path.join(d, name)
            try:
                if os.path.isdir(child) and TableOperations(child).is_table_dir():
                    out.append(name)
            except PermissionError as e:
                self._maybe_suppress(e)
        return out

    def table_exists(self, identifier: str | list[str]) -> bool:
        ops, _ = self._ops(identifier)
        return ops.is_table_dir()

    def create_table(
        self,
        identifier: str | list[str],
        schema: T.StructType | str,
        properties: dict | None = None,
        location: str | None = None,
        partition_by: list[str] | None = None,
    ) -> None:
        """Create an empty table; the location is always derived from the
        identifier — a custom location is rejected (LakeFSCatalog.java:400-409).

        ``partition_by`` declares an identity partition spec (Iceberg's
        PartitionSpec; the reference exercises the unpartitioned case at
        TestLakeFSTableOperations.java:59-61), fixed for the table's
        lifetime: every write routes rows into hive-layout partition dirs
        and every maintenance op (compact, MoR delete scoping) can work
        per-partition."""
        if location is not None:
            raise UnsupportedOperationError("custom table location is not supported")
        ops, levels = self._ops(identifier)
        if ops.is_table_dir():
            raise TableAlreadyExistsError(".".join(levels))
        st = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
        for c in partition_by or []:
            if c not in st.fieldNames():
                raise SchemaMismatchError(f"partition column {c!r} not in schema")
        ops.commit(
            None, new_manifest(st.json(), [], properties, partition_spec=partition_by)
        )

    def create_table_as(
        self,
        identifier: str | list[str],
        df: DataFrame,
        properties: dict | None = None,
        cluster_by: list[str] | None = None,
        partition_by: list[str] | None = None,
        bucket_by: tuple[str, int] | None = None,
        zorder_by: list[str] | None = None,
        transform_by: tuple | None = None,
    ) -> None:
        """CTAS (reference: df.write.saveAsTable — conftest.py:50).

        ``cluster_by`` co-locates rows by the given columns before writing
        (repartition + sortWithinPartitions — Iceberg's write-distribution /
        sort-order spec): each data file then covers a narrow range of the
        cluster key, so the footer min/max stats make ``scan_pruned`` skip
        most files for selective predicates on it. At 100 TB this is the
        difference between 'read the table' and 'read three files'.

        ``partition_by`` declares an identity partition spec instead: files
        land under hive-layout partition dirs, one partition per file.

        ``bucket_by=(col, n)`` declares Iceberg's bucket[N] transform: rows
        hash-route into n bucket dirs by a cross-engine digest of the key
        (int/string columns), so an equality lookup on the key reads 1/n of
        the files while the key column itself stays in the pages.

        ``transform_by`` declares Iceberg's other HIDDEN partition
        transforms — ``("days", ts_col)`` or ``("truncate", col, width)``:
        files route into dirs keyed by the DERIVED value, queries keep
        filtering on the source column, and because these transforms are
        monotone, range predicates on the column prune partitions
        (predicate projection) — the hidden-partitioning contract that
        saves users from the classic Hive bug of forgetting the
        partition-column predicate."""
        ops, levels = self._ops(identifier)
        if ops.is_table_dir():
            raise TableAlreadyExistsError(".".join(levels))
        if sum(bool(x) for x in (cluster_by, partition_by, bucket_by, zorder_by, transform_by)) > 1:
            raise UnsupportedOperationError(
                "cluster_by, partition_by, bucket_by, zorder_by, and "
                "transform_by are mutually exclusive"
            )
        for c in partition_by or []:
            if c not in df.columns:
                raise SchemaMismatchError(f"partition column {c!r} not in schema")
        bspec = {"col": bucket_by[0], "n": int(bucket_by[1])} if bucket_by else None
        if bspec:
            if bspec["col"] not in df.columns:
                raise SchemaMismatchError(
                    f"bucket column {bspec['col']!r} not in schema"
                )
            btype = df.schema[bspec["col"]].dataType.typeName()
            if btype not in _INT_TYPE_NAMES and btype != "string":
                # str(value) renderings diverge across engines for other
                # types, which would silently break bucket pruning
                raise UnsupportedOperationError(
                    f"bucket column must be an integer or string type, got {btype}"
                )
        if transform_by:
            transform, tcol = transform_by[0], transform_by[1]
            if tcol not in df.columns:
                raise SchemaMismatchError(f"transform column {tcol!r} not in schema")
            ttype = df.schema[tcol].dataType.typeName()
            if transform == "days":
                if ttype not in ("timestamp", "timestamp_ntz", "date"):
                    raise UnsupportedOperationError(
                        f"days transform needs a timestamp/date column, got {ttype}"
                    )
                bspec = {"col": tcol, "transform": "days"}
            elif transform == "truncate":
                w = int(transform_by[2])
                if w <= 0:
                    raise UnsupportedOperationError("truncate width must be positive")
                if ttype in _INT_TYPE_NAMES:
                    ctype = "int"
                elif ttype == "string":
                    ctype = "string"
                else:
                    raise UnsupportedOperationError(
                        f"truncate transform needs an integer or string column, got {ttype}"
                    )
                bspec = {"col": tcol, "transform": "truncate", "param": w, "ctype": ctype}
            else:
                raise UnsupportedOperationError(
                    f"unknown partition transform {transform!r}"
                )
        files, stats, fparts = self._write_data(
            levels, df, cluster_by=cluster_by, partition_by=partition_by,
            bucket_spec=bspec, zorder_by=zorder_by,
        )
        # A clustered/z-ordered CTAS declares a PERSISTED sort order (the
        # Iceberg SortOrder analog — the reference's tables each carry one,
        # TestLakeFSTableOperations.java:59-61): compact() re-applies it so
        # the clustering (and the file skipping it feeds) survives
        # maintenance instead of silently degrading to arrival order.
        props = dict(properties or {})
        if cluster_by:
            props[SORT_ORDER_PROP] = {"kind": "cluster", "cols": list(cluster_by)}
        elif zorder_by:
            props[SORT_ORDER_PROP] = {"kind": "zorder", "cols": list(zorder_by)}
        ops.commit(
            None,
            new_manifest(
                df.schema.json(),
                files,
                props,
                file_stats=stats,
                partition_spec=partition_by,
                file_partitions=fparts,
                bucket_spec=bspec,
            ),
        )

    def clone_table(self, src: str | list[str], dst: str | list[str]) -> None:
        """Shallow clone (Delta CLONE / Iceberg snapshot-ref pattern): the
        destination gets a NEW table identity (fresh uuid, version 1) whose
        manifest references the SOURCE's current data files by repo-relative
        path — zero data movement, one metadata write, any table size. The
        clone then diverges independently: its rewrites produce its own
        files, and the shared originals stay safe because deletion is only
        ever decided by repo-wide reachability (garbage_collect), the same
        invariant zero-copy branching relies on. Clones must stay within
        the source's repository (the reachability walk is per-repo)."""
        ops_src, src_levels = self._ops(src)
        m = ops_src.current()
        if m is None:
            raise NoSuchTableError(".".join(src_levels))
        ops_dst, dst_levels = self._ops(dst)
        if src_levels[0] != dst_levels[0]:
            raise UnsupportedOperationError(
                "shallow clone must stay within one repository "
                "(cross-repo file sharing would break GC reachability)"
            )
        if ops_dst.is_table_dir():
            raise TableAlreadyExistsError(".".join(dst_levels))
        os.makedirs(os.path.join(self.root, *dst_levels, "data"), exist_ok=True)
        clone = new_manifest(
            m.schema_json,
            list(m.files),
            properties=dict(m.properties),
            file_stats={f: m.file_stats[f] for f in m.files if f in m.file_stats},
            partition_spec=list(m.partition_spec),
            file_partitions={
                f: m.file_partitions[f] for f in m.files if f in m.file_partitions
            },
            bucket_spec=dict(m.bucket_spec),
        )
        # the clone inherits the source's field-id history for its files
        # (they were written under the source's mappings), and any pending
        # MoR delete predicates — a clone must read exactly what the source
        # reads at clone time
        clone.columns = [dict(c) for c in m.columns]
        clone.file_columns = {f: dict(v) for f, v in m.file_columns.items() if f in set(m.files)}
        clone.file_types = {f: dict(v) for f, v in m.file_types.items() if f in set(m.files)}
        clone.delete_preds = {f: list(v) for f, v in m.delete_preds.items() if f in set(m.files)}
        clone.position_deletes = {
            f: list(v) for f, v in m.position_deletes.items() if f in set(m.files)
        }
        clone.equality_deletes = {
            f: [[d, list(k)] for d, k in v]
            for f, v in m.equality_deletes.items()
            if f in set(m.files)
        }
        # nested (struct-member) write layouts follow their files too —
        # without them, a clone of a member-evolved table would misread
        # pre-evolution files under the current member names
        clone.file_struct_columns = {
            f: {k: dict(v) for k, v in sm.items()}
            for f, sm in m.file_struct_columns.items()
            if f in set(m.files)
        }
        ops_dst.commit(None, clone)

    def rename_table(self, src, dst) -> None:
        raise UnsupportedOperationError("rename is not supported (identity = path)")

    def drop_table(self, identifier: str | list[str], purge: bool = False) -> None:
        """Remove the table: drop its manifests (its references disappear),
        then delete only data files under its directory that no OTHER live
        manifest still reaches — zero-copy sharing means another branch's
        table or a shallow clone may reference files physically homed here
        (LakeFSCatalog.java:185-215 leaves shared objects alone the same
        way). If shared files remain, the data directory stays until
        repo-wide GC reclaims it."""
        ops, levels = self._ops(identifier)
        if not ops.is_table_dir():
            raise NoSuchTableError(".".join(levels))
        shutil.rmtree(ops.meta_dir)
        still_needed = self.referenced_files(levels[0])
        shared = False
        for dirpath, _, filenames in os.walk(ops.table_dir):
            for name in filenames:
                if not name.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, name)
                if self._rel(levels[0], p) in still_needed:
                    shared = True
                else:
                    os.remove(p)
        if not shared:
            shutil.rmtree(ops.table_dir, ignore_errors=True)

    # --------------------------------------------------------------- data IO

    def _write_data(
        self,
        levels: list[str],
        dfs: DataFrame | list[DataFrame],
        cluster_by: list[str] | None = None,
        cluster_files: int = 8,
        partition_by: list[str] | None = None,
        bucket_spec: dict | None = None,
        zorder_by: list[str] | None = None,
    ):
        """Write every frame of ``dfs`` as parquet files under the table's
        data/ dir on THIS branch, in ONE ``parquet_io.staged_slices`` job;
        return ``(repo-relative paths, per-file column min/max stats,
        per-file partition values)`` per frame — one triple when ``dfs`` is
        a single frame. Only the file moves and footer reads are driver-side
        metadata work, the same division of labor as Iceberg's manifest
        writer. Without partition columns every non-empty task writes one
        file; with several frames a ``_v`` staging column keeps them apart.

        - ``partition_by`` (identity spec) and ``bucket_spec`` (Iceberg's
          bucket[N] / days / truncate[W], keyed by a derived ``_bucket``
          column that never reaches the pages) stage on their partition
          columns, all frames through ONE exchange (``per_tuple``): each
          file holds one tuple of one frame under hive ``data/col=value/``
          dirs. The values live in the manifest, not the pages, typed and
          zone-free — timestamps as epoch microseconds, "" apart from NULL,
          dates, decimals and booleans as their text — and scans re-inject
          them as per-file constants.
        - ``cluster_by`` and ``zorder_by`` go through ``zorder.clustered``
          with ``cluster_files`` files per frame: rows RANGE-partitioned
          into an EXPLICIT task count (explicit so AQE can't coalesce the
          small write into one file and erase the file-level stat
          locality) and sorted within each. Range distribution — Iceberg's
          ``write.distribution-mode=range`` — gives every file a
          contiguous, non-overlapping key range, so footer min/max stats
          prune equality AND range predicates; hash distribution would
          scatter the key range across every file. ``zorder_by`` ranges
          on the Morton key (Iceberg's rewrite_data_files zorder / Delta
          OPTIMIZE ZORDER BY): every file covers a compact
          hyper-rectangle, so selective predicates on ANY of the
          dimensions skip files.
        - Otherwise a frame is written as it comes (a compaction's
          ``coalesce(N)`` included)."""
        from .parquet_io import per_tuple, staged_slices
        from .zorder import clustered

        frames = dfs if isinstance(dfs, list) else [dfs]
        schema = frames[0].schema
        parts, derived = list(partition_by or []), {}
        # the staged values are the manifest's: timestamps as zone-free
        # micros, other non-numeric types as their (JSON-safe) text
        for p in parts:
            dt = schema[p].dataType
            if isinstance(dt, T.TimestampType):
                derived[p] = F.unix_micros(F.col(p))
            elif not isinstance(
                dt, (T.IntegralType, T.FloatType, T.DoubleType, T.StringType)
            ):
                derived[p] = F.col(p).cast("string")
        if bucket_spec:
            parts, derived = ["_bucket"], {"_bucket": _layout_col(bucket_spec)}
        many = len(frames) > 1
        keys = (["_v"] if many else []) + parts
        if many:
            frames = [d.withColumn("_v", F.lit(i)) for i, d in enumerate(frames)]
        u = functools.reduce(DataFrame.unionByName, frames)
        if derived:
            u = u.withColumns(derived)
        if parts:
            u = per_tuple(u, keys)
        elif cluster_by or zorder_by:
            u = clustered(
                u, keys, cluster_by or zorder_by, cluster_files, bool(zorder_by)
            )[0]
        repo = levels[0]
        data_dir = os.path.join(self.root, *levels, "data")
        os.makedirs(data_dir, exist_ok=True)
        out = [([], {}, {}) for _ in frames]
        stamps = [_uuid.uuid4().hex[:12] for _ in frames]
        with staged_slices([], keys, spanning=u) as (slices, _):
            for st in slices:
                i = st.values[0] if many else 0
                files, stats, fparts = out[i]
                # the staged file's last len(parts) dirs are its hive dirs
                dst_dir = os.path.join(
                    data_dir, *st.path.split(os.sep)[-1 - len(parts):-1]
                )
                os.makedirs(dst_dir, exist_ok=True)
                dst = os.path.join(dst_dir, f"{stamps[i]}-{len(files):05d}.parquet")
                shutil.move(st.path, dst)
                rel = self._rel(repo, dst)
                files.append(rel)
                fs = _footer_stats(dst)
                if fs:
                    stats[rel] = fs
                if parts:
                    fparts[rel] = dict(zip(parts, st.values[-len(parts):]))
        return out if isinstance(dfs, list) else out[0]

    def _read_files(
        self, repo: str, manifest: TableManifest, with_positions: bool = False
    ) -> DataFrame:
        """Scan the manifest's files, projecting each file's WRITTEN column
        names onto the CURRENT schema via stable field ids (Iceberg's
        read-time projection): renamed columns read by their old on-file
        name, dropped columns are simply not selected, added columns
        backfill NULL for pre-add files. Files are grouped by their write
        mapping, one Spark scan per distinct mapping (metadata-only driver
        work; the common no-evolution case stays a single scan)."""
        schema = T.StructType.fromJson(json.loads(manifest.schema_json))
        if not manifest.files:
            return local_df(self.spark, [], schema)
        cols = manifest.columns or [
            {"id": i, "name": f.name} for i, f in enumerate(schema.fields)
        ]
        current = {str(c["id"]): c["name"] for c in cols}
        dtypes = {c["name"]: schema[c["name"]].dataType for c in cols}
        current_types = {
            str(c["id"]): schema[c["name"]].dataType.jsonValue() for c in cols
        }
        schema_names = {c["name"] for c in cols}
        # current struct-member layout: {top id: {member id: name}}
        cur_struct = struct_mapping_of(cols)
        struct_fields = {str(c["id"]): c.get("fields") or [] for c in cols}
        groups: dict[tuple, list[str]] = {}
        for f in manifest.files:
            fm = manifest.file_columns.get(f, current)
            name_sig = tuple(fm.get(str(c["id"])) for c in cols)
            # written physical types (column widening): absent entries mean
            # "written with the current schema types" — the no-widening case
            ft = manifest.file_types.get(f, current_types)
            type_sig = tuple(
                json.dumps(ft.get(str(c["id"]), current_types[str(c["id"])]))
                for c in cols
            )
            # identity partition values are per-file constants living in
            # metadata, not pages (Iceberg reads them the same way) — they
            # join the group signature and are injected as literals below.
            # Synthetic layout keys (the bucket transform's _bucket) are NOT
            # schema columns: they never affect the projection, so they stay
            # OUT of the signature — a bucketed table scans as one group,
            # not one scan per bucket.
            pv = manifest.file_partitions.get(f, {})
            part_sig = tuple(
                sorted((k, json.dumps(v)) for k, v in pv.items() if k in schema_names)
            )
            # merge-on-read deletes ride the group signature too: files
            # sharing the same pending predicates scan together, and the
            # common cases (no deletes / one table-wide delete) stay a
            # single scan + one codegen'd filter
            pred_sig = tuple(manifest.delete_preds.get(f, ()))
            # ... as do pending POSITION delete files: files covered by the
            # same delete set scan together and share one anti-join
            pos_sig = tuple(sorted(manifest.position_deletes.get(f, ())))
            # ... and pending EQUALITY delete files (delete-by-key-values):
            # files covered by the same (delete file, key cols) set share
            # one null-safe anti-join per entry
            eq_sig = tuple(
                sorted(
                    (d, tuple(k))
                    for d, k in manifest.equality_deletes.get(f, ())
                )
            )
            # ... and the struct-member write layout (nested field-id
            # evolution): files sharing member names/ids project together.
            # Absent entries mean "written with the current member layout"
            # (legacy manifests predating nested ids).
            struct_sig = json.dumps(
                manifest.file_struct_columns.get(f) or cur_struct, sort_keys=True
            )
            groups.setdefault(
                (name_sig, type_sig, part_sig, pred_sig, pos_sig, eq_sig, struct_sig), []
            ).append(f)
        parts = []
        # repo-relative data-file path of each row, derived from the parquet
        # reader's _metadata: the join key position deletes are scoped by.
        # realpath, because _verify_path realpaths the paths the scan reads —
        # a symlinked catalog root (macOS /var tmp) would otherwise misalign
        # the substring offset and yield garbage _file values.
        uri_prefix = "file:" + os.path.realpath(self._repo_dir(repo)) + "/"
        for (name_sig, type_sig, part_sig, pred_sig, pos_sig, eq_sig, struct_sig), files in groups.items():
            paths = [
                self._verify_path(repo, os.path.join(self._repo_dir(repo), f))
                for f in files
            ]
            pvals = {k: json.loads(v) for k, v in part_sig}
            fsmap = json.loads(struct_sig)
            # read each file group with its WRITTEN types, then cast up to
            # the current schema in the projection (Iceberg's safe-promotion
            # read path: the file keeps int32 pages, the scan yields long);
            # partition columns are NOT read from pages at all
            read_fields = [
                {"name": written, "type": json.loads(tj), "nullable": True, "metadata": {}}
                for written, tj, c in zip(name_sig, type_sig, cols)
                if written is not None and written not in pvals
            ]
            read_schema = T.StructType.fromJson(
                {"type": "struct", "fields": read_fields}
            )
            df = self.spark.read.schema(read_schema).parquet(*paths)

            def _project(written: str | None, c: dict) -> F.Column:
                name = c["name"]
                cur_type = dtypes[name]
                if written is None:
                    return F.lit(None).cast(cur_type).alias(name)
                if written in pvals:
                    v = pvals[written]
                    if isinstance(cur_type, T.TimestampType) and isinstance(v, int):
                        # epoch micros; legacy text goes through the cast
                        return F.timestamp_micros(F.lit(v)).alias(name)
                    return F.lit(v).cast(cur_type).alias(name)
                members = struct_fields[str(c["id"])]
                if members and isinstance(cur_type, T.StructType):
                    wmap = fsmap.get(str(c["id"]), {})
                    cur_map = cur_struct.get(str(c["id"]), {})
                    written_type = read_schema[written].dataType
                    if wmap != cur_map or written_type != cur_type:
                        # nested evolution: rebuild the struct MEMBER-WISE
                        # through stable member ids — renamed members read
                        # by their on-file name, added members backfill
                        # NULL, widened members cast up. A whole-NULL
                        # struct value stays NULL (the when-guard), never
                        # a struct of NULLs.
                        wtypes = {
                            mf.name: mf.dataType for mf in written_type.fields
                        } if isinstance(written_type, T.StructType) else {}
                        exprs = []
                        for m in members:
                            mname, mid = m["name"], str(m["id"])
                            mtype = cur_type[mname].dataType
                            w = wmap.get(mid)
                            if w is not None and w in wtypes:
                                e = F.col(written).getField(w)
                                if wtypes[w] != mtype:
                                    e = e.cast(mtype)
                                exprs.append(e.alias(mname))
                            else:
                                exprs.append(F.lit(None).cast(mtype).alias(mname))
                        return (
                            F.when(
                                F.col(written).isNull(), F.lit(None).cast(cur_type)
                            )
                            .otherwise(F.struct(*exprs))
                            .alias(name)
                        )
                if read_schema[written].dataType == cur_type:
                    return F.col(written).alias(name)
                return F.col(written).cast(cur_type).alias(name)

            sel = [_project(written, c) for written, c in zip(name_sig, cols)]
            if pos_sig or with_positions:
                sel += [
                    F.expr(
                        f"substring(_metadata.file_path, {len(uri_prefix) + 1})"
                    ).alias("_file"),
                    F.col("_metadata.row_index").alias("_pos"),
                ]
            df = df.select(sel)
            for pred in pred_sig:
                # DELETE keeps NULL-predicate rows, so the anti-filter is
                # NOT coalesce(pred, false) — same semantics as the CoW path
                df = df.filter(~F.coalesce(F.expr(f"({pred})"), F.lit(False)))
            if pos_sig:
                # apply pending position deletes: one anti-join on
                # (data file, row ordinal) against the group's delete files
                # — deleted-row-proportional work, usually a broadcast
                dels = (
                    self.spark.read.schema("file_path string, pos long")
                    .parquet(
                        *[
                            self._verify_path(
                                repo, os.path.join(self._repo_dir(repo), d)
                            )
                            for d in pos_sig
                        ]
                    )
                    .select(
                        F.col("file_path").alias("_dfile"),
                        F.col("pos").alias("_dpos"),
                    )
                )
                df = df.join(
                    dels,
                    (F.col("_file") == F.col("_dfile"))
                    & (F.col("_pos") == F.col("_dpos")),
                    "left_anti",
                )
                if not with_positions:
                    df = df.drop("_file", "_pos")
            for del_file, key_cols in eq_sig:
                # equality deletes: one null-safe anti-join per delete file
                # on its key columns — value-based, so it stays valid
                # across any rewrite of the covered file (the property
                # position deletes lack). Delete files are small (the
                # deleted keys), so the planner broadcasts them.
                keys = self.spark.read.parquet(
                    self._verify_path(
                        repo, os.path.join(self._repo_dir(repo), del_file)
                    )
                ).select(
                    *[F.col(k).alias(f"_ek_{k}") for k in key_cols]
                ).dropDuplicates()
                cond = None
                for k in key_cols:
                    c = F.col(k).eqNullSafe(F.col(f"_ek_{k}"))
                    cond = c if cond is None else (cond & c)
                df = df.join(keys, cond, "left_anti")
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def version_as_of(self, identifier: str | list[str], ts: float) -> int:
        """Newest version committed at or before epoch ``ts`` (Iceberg's
        ``TIMESTAMP AS OF`` resolution over snapshot timestamps) — a
        metadata-only walk of the manifest chain."""
        ops, levels = self._ops(identifier)
        cur = ops.current()
        if cur is None:
            raise NoSuchTableError(".".join(levels))
        best = None
        for v in range(1, cur.version + 1):
            d = ops.peek_version(v)
            if d is None:
                continue  # expired snapshot
            # .get with 0.0 default: legacy manifests may predate the
            # committed_at field — parity with TableManifest.from_dict
            if d.get("committed_at", 0.0) <= ts:
                best = v
        if best is None:
            raise NoSuchTableError(
                f"{'.'.join(levels)} has no snapshot at or before ts={ts}"
            )
        return best

    def scan(
        self,
        identifier: str | list[str],
        version: int | None = None,
        as_of: float | None = None,
    ) -> DataFrame:
        """Read the table at its current — or a historic — snapshot on the
        given branch: ``version`` pins an exact manifest version (Iceberg's
        ``VERSION AS OF``), ``as_of`` (epoch seconds) resolves the newest
        snapshot committed at or before that instant (``TIMESTAMP AS OF``).

        Re-resolves the manifest on every call — no stale caches, the policy
        the reference pins with ``cache-enabled=false`` (conftest.py:65)."""
        ops, levels = self._ops(identifier)
        if as_of is not None:
            if version is not None:
                raise UnsupportedOperationError("pass version OR as_of, not both")
            version = self.version_as_of(identifier, as_of)
        if version is None:
            m = ops.current()
        else:
            # codec-probing, shard-materializing read: the historic
            # version may be plain, legacy .gz, or a sharded list object
            m = ops.load_version(version)
            if m is None:
                raise NoSuchTableError(f"{'.'.join(levels)} has no version {version}")
        if m is None:
            raise NoSuchTableError(".".join(levels))
        return self._read_files(levels[0], m)

    def append(self, identifier: str | list[str], df: DataFrame) -> None:
        """Append snapshot: new data files + manifest listing old∪new
        (reference: df.writeTo(...).append(), TestLakeFSCatalogSpark.java:76)
        — the one-frame ``append_many``."""
        self.append_many(identifier, [df])

    @staticmethod
    def _commit_rebasing(ops, base, build, same_layout: bool) -> None:
        """Commit ``build(base)``, rebasing a lost race instead of failing
        it: on CommitConflictError/CommitStateError the base refreshes and
        ``build`` re-runs on it, for up to 10 rounds. Files the caller
        already wrote are independent of the concurrent commit, so only
        this metadata step loops. The rebase is refused (the conflict
        re-raised) when the concurrent commit replaced the table or
        changed its schema, or — with ``same_layout``, for callers whose
        written files follow the table layout — its partition or bucket
        spec. ``build`` returning None means there is nothing to commit
        against that base."""
        err = None
        for _ in range(10):
            new = build(base)
            if new is None:
                return
            try:
                ops.commit(base, new)
                return
            except (CommitConflictError, CommitStateError) as e:
                fresh = ops.current()
                if (
                    fresh is None
                    or fresh.table_uuid != base.table_uuid
                    or fresh.schema_json != base.schema_json
                    or same_layout
                    and (
                        fresh.partition_spec != base.partition_spec
                        or fresh.bucket_spec != base.bucket_spec
                    )
                ):
                    raise
                base = fresh
                err = e
        raise err

    def append_many(
        self, identifier: str | list[str], dfs: list[DataFrame]
    ) -> None:
        """N consecutive append snapshots whose data files are staged by
        ONE distributed write job (``_write_data``), then committed in
        order as N metadata-only commits — the table state of N one-frame
        appends (same files per version, per-file stats and partition
        values; file names are uuid-stamped either way). A frame without
        rows commits a version without files.

        Concurrency: a lost commit race is REBASED, not failed — the new
        data files are independent of any concurrent commit, so the commit
        refreshes its base and re-commits the files on top (Iceberg's
        fast-append retry). The distributed write runs exactly once; only
        the metadata commit loops. Rebase is refused (raising the original
        conflict) if the concurrent commit changed the schema or partition
        spec — the written files may no longer conform — or after a bounded
        number of rounds."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        if not dfs:
            return
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        written = self._write_data(
            levels,
            [d if d.schema == schema else _align_to_schema(d, schema) for d in dfs],
            partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None,
        )
        for files, stats, fparts in written:
            self._commit_rebasing(
                ops,
                base,
                lambda b: b.next(
                    b.files + files,
                    file_stats={**b.file_stats, **stats},
                    file_partitions=fparts,
                ),
                same_layout=True,
            )
            base = ops.current()

    def add_files(self, identifier: str | list[str], source_dir: str) -> int:
        """Bulk file import (Iceberg's ``add_files`` procedure): register
        EXISTING parquet files into the table snapshot WITHOUT a rewrite —
        the migration path that turns a directory of legacy parquet into
        table data at metadata cost. No Spark job touches the rows: the
        import is file copies + footer reads + ONE metadata commit, so
        importing 100 TB costs object-store copies (or nothing, where the
        store supports server-side copy/rename), never a cluster rewrite.

        The files are copied under the table's ``data/`` dir because the
        path sandbox (PathSandboxError contract) requires every referenced
        file to live inside the repo/ref scope — the analog of Iceberg
        add_files' requirement that imported paths be reachable by the
        table's FileIO. Footer min/max stats are harvested per file, so
        imported files prune exactly like written ones.

        Schema gate: the files' parquet schema must match the table schema
        by name and type (Iceberg add_files demands the same) — imported
        files carry no field-id provenance, so a later column rename must
        not silently orphan their columns; the commit stamps the CURRENT
        mapping as their provenance, same as any fresh write.

        Unpartitioned tables only (the identity/hidden-partition layouts
        derive partition values from the write path, which an import
        bypasses). Returns the number of files imported."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        if base.partition_spec or base.bucket_spec:
            raise UnsupportedOperationError(
                "add_files imports into unpartitioned tables only"
            )
        src = os.path.abspath(source_dir)
        names = sorted(
            n for n in os.listdir(src)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        )
        if not names:
            raise NoSuchTableError(f"no parquet files under {source_dir}")
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        incoming = self.spark.read.parquet(
            *(os.path.join(src, n) for n in names)
        ).schema
        if {f.name: f.dataType.simpleString() for f in incoming} != {
            f.name: f.dataType.simpleString() for f in schema
        }:
            raise SchemaMismatchError(
                f"imported files' schema {incoming.simpleString()} does not "
                f"match table schema {schema.simpleString()}"
            )
        repo = levels[0]
        data_dir = os.path.join(self.root, *levels, "data")
        os.makedirs(data_dir, exist_ok=True)
        new_files, new_stats = [], {}
        for i, name in enumerate(names):
            dst = os.path.join(
                data_dir, f"import-{_uuid.uuid4().hex[:12]}-{i:05d}.parquet"
            )
            shutil.copy2(os.path.join(src, name), dst)
            rel = self._rel(repo, dst)
            new_files.append(rel)
            new_stats[rel] = _footer_stats(dst)
        ops.commit(
            base,
            base.next(
                base.files + new_files,
                file_stats={**base.file_stats, **new_stats},
            ),
        )
        return len(new_files)

    def overwrite(self, identifier: str | list[str], df: DataFrame) -> None:
        """Full-table overwrite (Spark's INSERT OVERWRITE / Iceberg
        replace): write the new rows, commit a manifest listing ONLY them —
        the old snapshot's files drop out of the current version but stay
        readable via time travel until expiry+GC. One distributed write +
        one metadata swap; pending MoR delete predicates die with the files
        they applied to."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        aligned = df if df.schema == schema else _align_to_schema(df, schema)
        files, stats, fparts = self._write_data(
            levels, aligned, partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None,
        )
        ops.commit(
            base, base.next(files, file_stats=stats, file_partitions=fparts)
        )

    def append_stream_batch(
        self, identifier: str | list[str], df: DataFrame, batch_id: int
    ) -> bool:
        """Idempotent micro-batch append for streaming foreachBatch sinks:
        the batch's data files AND the `stream.last_batch_id` stamp land in
        the SAME atomic manifest commit, so a replayed batch (id <= stamp —
        Structured Streaming re-runs the last epoch after a crash) is a
        no-op and the table never double-counts. This is the exactly-once
        recipe Iceberg's streaming writes use (commit the epoch id with the
        snapshot); returns True iff the batch was committed.

        Zombie-writer safe: if a concurrent driver lands a commit between
        our stamp read and our publish, the lost race surfaces as a
        conflict — we refresh and re-check the stamp. If the other writer
        committed THIS epoch we refuse (False); if it was an unrelated
        commit we retry against the new base. Exactly one commit per epoch
        survives no matter how many drivers race it."""
        ops, levels = self._ops(identifier)
        while True:
            base = ops.current()
            if base is None:
                raise NoSuchTableError(".".join(levels))
            if batch_id <= int(base.properties.get("stream.last_batch_id", -1)):
                return False
            schema = T.StructType.fromJson(json.loads(base.schema_json))
            # strict by-name: a reordered or misnamed streaming batch must
            # raise, never cast positionally into the wrong fields
            aligned = _align_to_schema(df, schema, strict=True)
            files, stats, fparts = self._write_data(
                levels, aligned, partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None
            )
            try:
                ops.commit(
                    base,
                    base.next(
                        base.files + files,
                        properties={**base.properties, "stream.last_batch_id": str(batch_id)},
                        file_stats={**base.file_stats, **stats},
                        file_partitions=fparts,
                    ),
                )
                return True
            except (CommitConflictError, CommitStateError):
                continue  # refresh; the stamp check decides refuse vs retry

    def apply_cdc_batch(
        self,
        identifier: str | list[str],
        changes: DataFrame,
        key_cols: list[str],
        batch_id: int,
        op_col: str = "op",
        mode: str = "copy-on-write",
    ) -> bool:
        """Exactly-once CDC apply for streaming foreachBatch sinks: one
        micro-batch of change rows (an ``op`` column holding I/U/D plus the
        full payload) folds into the table as ONE atomic commit — every
        touched key's old row is dropped, non-delete payloads are inserted,
        and the epoch stamp rides the same manifest swap, so a replayed
        epoch (Structured Streaming re-runs the last epoch after a crash)
        is refused exactly like append_stream_batch. Returns True iff the
        batch was applied.

        Two modes, the delete_where trade at streaming cadence:

        - ``copy-on-write`` (default): both sides hash-shuffle once on the
          key (zero times if the table is bucketed on it) and the rewritten
          state's files land — scan-clean, write-heavy.
        - ``merge-on-read``: writes ONLY the upsert rows and stamps ONE
          EQUALITY-DELETE FILE of the touched key tuples onto the
          pre-existing files (stats-scoped like any equality delete;
          scans apply a null-safe anti-join) — a 10-row CDC epoch on a
          100 TB table is a 10-row upsert file + a key file + one
          manifest swap; ``compact()`` folds the entries later. The key
          set is written DISTRIBUTED (never collected driver-side), so
          there is no per-epoch key cap and no key-type restriction —
          the value-based form that replaced round 11's capped IN-literal
          predicate (VERDICT r11 #7); multi-column keys stamp one file
          carrying the whole tuple."""
        ops, levels = self._ops(identifier)
        if mode not in ("copy-on-write", "merge-on-read", "mor"):
            raise UnsupportedOperationError(f"unknown CDC apply mode {mode!r}")
        mor = mode in ("merge-on-read", "mor")
        if mor:
            base = ops.current()
            if base is None:
                raise NoSuchTableError(".".join(levels))
            if batch_id <= int(base.properties.get("stream.last_batch_id", -1)):
                return False
            schema = T.StructType.fromJson(json.loads(base.schema_json))
            missing = [k for k in key_cols if k not in schema.fieldNames()]
            if not key_cols or missing:
                raise UnsupportedOperationError(
                    "merge-on-read CDC apply needs key columns from the "
                    f"table schema; missing: {missing or key_cols}"
                )
            del_rel, key_range = self._write_eq_delete_file(
                levels, changes.select(*key_cols), key_cols
            )
            upserts = _align_to_schema(
                changes.filter(F.col(op_col) != "D").drop(op_col), schema
            )
            # the upsert files are independent of the base (like an append):
            # write ONCE, then only the metadata commit loops on conflict
            files, stats, fparts = self._write_data(
                levels, upserts, partition_by=base.partition_spec or None,
                bucket_spec=base.bucket_spec or None,
            )
            while True:
                # stamp onto the BASE's files only — the epoch's own
                # upsert files carry no entry, so the new versions survive
                eq_map = (
                    self._eq_delete_map(base, del_rel, key_cols, key_range)[0]
                    if del_rel is not None
                    else None  # empty key set: keep existing entries as-is
                )
                try:
                    ops.commit(
                        base,
                        base.next(
                            base.files + files,
                            properties={
                                **base.properties,
                                "stream.last_batch_id": str(batch_id),
                            },
                            file_stats={**base.file_stats, **stats},
                            equality_deletes=eq_map,
                            file_partitions=fparts,
                        ),
                    )
                    return True
                except (CommitConflictError, CommitStateError):
                    fresh = ops.current()
                    if (
                        fresh is None
                        or fresh.table_uuid != base.table_uuid
                        or fresh.schema_json != base.schema_json
                        or fresh.partition_spec != base.partition_spec
                        or fresh.bucket_spec != base.bucket_spec
                    ):
                        raise
                    if batch_id <= int(
                        fresh.properties.get("stream.last_batch_id", -1)
                    ):
                        return False  # another driver landed this epoch
                    base = fresh
        while True:
            base = ops.current()
            if base is None:
                raise NoSuchTableError(".".join(levels))
            if batch_id <= int(base.properties.get("stream.last_batch_id", -1)):
                return False
            schema = T.StructType.fromJson(json.loads(base.schema_json))
            upserts = _align_to_schema(
                changes.filter(F.col(op_col) != "D").drop(op_col), schema
            )
            touched = changes.select(*key_cols).distinct()
            target = self._read_files(levels[0], base)
            new_state = target.join(touched, on=key_cols, how="left_anti").unionByName(
                upserts
            )
            files, stats, fparts = self._write_data(
                levels, new_state, partition_by=base.partition_spec or None,
                bucket_spec=base.bucket_spec or None,
            )
            try:
                ops.commit(
                    base,
                    base.next(
                        files,
                        properties={
                            **base.properties,
                            "stream.last_batch_id": str(batch_id),
                        },
                        file_stats=stats,
                        delete_preds={},
                        file_partitions=fparts,
                    ),
                )
                return True
            except (CommitConflictError, CommitStateError):
                continue  # refresh; the stamp check decides refuse vs retry

    def insert_values(self, identifier: str | list[str], rows: list[tuple]) -> None:
        """INSERT INTO ... VALUES (test_iceberg.py:48,50) — row coercion to the
        declared schema matches createDataFrame semantics (conftest.py:27-40)."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        self.append(identifier, local_df(self.spark, rows, schema))

    def _scope_mor_predicate(
        self, base: TableManifest, predicate: str
    ) -> dict[str, list[str]]:
        """Merge-on-read predicate scoping (Iceberg scopes delete files by
        partition/sequence number; the manifest-stats analog): stamp the
        predicate ONLY onto files whose footer min/max ranges can contain a
        matching row — a file whose range provably excludes the predicate
        has nothing to delete, so recording the entry there would only grow
        the manifest O(files × pending-deletes) and drag the filter through
        every scan group. Non-simple predicates (multi-column, functions)
        conservatively stamp every file; existing entries on out-of-range
        files are preserved untouched. At 100 TB a one-row MoR delete on a
        clustered table then touches a handful of manifest entries, not
        millions."""
        parsed = _parse_simple_predicate(predicate)
        target = (
            _bucket_target(base, parsed[0], parsed[1], parsed[2]) if parsed else None
        )
        matching = [
            f
            for f in base.files
            if parsed is None
            or (
                _file_survives(_effective_stats(base, f), parsed[0], parsed[1], parsed[2])
                and not _bucket_excludes(base, f, target)
            )
        ]
        dp = {f: list(base.delete_preds.get(f, [])) for f in base.files}
        for f in matching:
            dp[f] = dp[f] + [predicate]
        return {f: preds for f, preds in dp.items() if preds}

    def delete_where(
        self, identifier: str | list[str], predicate: str, mode: str | None = None
    ) -> None:
        """Row-level DELETE. Two modes, mirroring Iceberg format-version 2
        (TestLakeFSCatalogSpark.java:67 'format-version'=2):

        - ``copy-on-write`` (default): keep rows where the predicate is not
          TRUE (SQL DELETE keeps NULL-predicate rows), write survivors as a
          fresh snapshot (SURVEY.md §3.3).
        - ``merge-on-read``: metadata-only commit — the predicate is
          recorded against the CURRENT data files and applied at scan time;
          no data file is rewritten (a one-row delete on a 100 TB table is
          one manifest swap). Later appends are unaffected (new files carry
          no entry). ``compact()`` folds pending deletes into fresh files.

        Mode comes from the argument, else the table property
        ``write.delete.mode``, else copy-on-write."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        eff = mode or base.properties.get("write.delete.mode", "copy-on-write")
        if eff in ("merge-on-read", "mor"):
            # validate the predicate against the current schema BEFORE
            # committing it into metadata (a typo'd column must fail now,
            # not on every future scan)
            self._read_files(levels[0], base).filter(F.expr(f"({predicate})"))
            # metadata-only commit → a lost race rebases for free: re-scope
            # the predicate onto the fresh base's files and retry (same
            # schema guard as append's fast-append retry — a concurrent
            # schema change could alter the predicate's meaning)
            self._commit_rebasing(
                ops,
                base,
                lambda b: b.next(
                    b.files, delete_preds=self._scope_mor_predicate(b, predicate)
                ),
                same_layout=False,
            )
            return
        if eff in ("position", "position-deletes"):
            # Iceberg v2 POSITION deletes: materialize the matching rows'
            # (data file, row ordinal) pairs into a small parquet delete
            # file and commit it against the covered data files — work
            # proportional to the DELETED rows (scans anti-join, never
            # re-evaluate the predicate), where the predicate form above
            # re-evaluates its predicate on every scan of every covered
            # file. The natural choice when the matching row set is small
            # or the predicate is expensive.
            if not base.files:
                return
            matches = (
                self._read_files(levels[0], base, with_positions=True)
                .filter(F.coalesce(F.expr(f"({predicate})"), F.lit(False)))
                .select(
                    F.col("_file").alias("file_path"), F.col("_pos").alias("pos")
                )
            )
            table_dir = os.path.join(self.root, *levels)
            ddir = os.path.join(table_dir, "data", "deletes")
            os.makedirs(ddir, exist_ok=True)
            staging = os.path.join(table_dir, f".staging-del-{_uuid.uuid4().hex}")
            # covered data files ride the delete-file WRITE job as an
            # observed collect_set — O(files) values, no re-read action
            # over the just-written staging dir (§1.2)
            from pyspark.sql import Observation

            cov_obs = Observation()
            matches.observe(
                cov_obs, F.collect_set("file_path").alias("covered")
            ).write.mode("overwrite").parquet(staging)
            stamp = _uuid.uuid4().hex[:12]
            new_rel, i = [], 0
            for dirpath, _, filenames in sorted(os.walk(staging)):
                for name in sorted(filenames):
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(dirpath, name)
                    if _parquet_num_rows(src) == 0:
                        continue
                    dst = os.path.join(ddir, f"del-{stamp}-{i:05d}.parquet")
                    os.replace(src, dst)
                    new_rel.append(self._rel(levels[0], dst))
                    i += 1
            shutil.rmtree(staging)
            if not new_rel:
                return  # predicate matched nothing — no commit needed
            covered = sorted(cov_obs.get["covered"])

            def with_positions(b):
                pos_map = {f: list(v) for f, v in b.position_deletes.items()}
                stale = [f for f in covered if f not in b.files]
                if stale:
                    # a concurrent rewrite replaced a covered file; our
                    # ordinals no longer address its rows — abort rather
                    # than silently dropping part of the delete
                    raise CommitConflictError(
                        f"position delete lost its base files: {stale[:3]}"
                    )
                for f in covered:
                    pos_map[f] = pos_map.get(f, []) + new_rel
                return b.next(b.files, position_deletes=pos_map)

            self._commit_rebasing(ops, base, with_positions, same_layout=False)
            return
        if eff != "copy-on-write":
            raise UnsupportedOperationError(f"unknown delete mode {eff!r}")
        survivors = self._read_files(levels[0], base).filter(
            ~F.coalesce(F.expr(f"({predicate})"), F.lit(False))
        )
        files, stats, fparts = self._write_data(
            levels, survivors, partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None
        )
        ops.commit(
            base,
            base.next(
                files, file_stats=stats, delete_preds={}, file_partitions=fparts
            ),
        )

    def _write_eq_delete_file(
        self, levels: list[str], keys: DataFrame, key_cols: list[str]
    ) -> tuple[str | None, tuple | None]:
        """Materialize the DISTINCT key tuples as ONE equality-delete
        parquet under ``data/deletes`` (written distributed, never
        collected — deleted-key-proportional IO at any batch size).
        Returns ``(rel_path, key_range)``; rel_path None = empty key set.
        ``key_range`` is the single-key [min, max] used for stats
        scoping, DISABLED when any key is NULL — min/max ranges never
        witness NULLs, so a file excluded by range could still hold the
        NULL-keyed rows the delete must remove."""
        from .parquet_io import write_single_parquet

        ddir = os.path.join(self.root, *levels, "data", "deletes")
        os.makedirs(ddir, exist_ok=True)
        dst = os.path.join(ddir, f"eqdel-{_uuid.uuid4().hex[:12]}.parquet")
        if not write_single_parquet(keys.dropDuplicates(), dst):
            os.remove(dst)
            return None, None
        key_range = None
        if len(key_cols) == 1:
            try:
                import pyarrow.parquet as _pq

                md = _pq.ParquetFile(dst).metadata
                nulls = sum(
                    md.row_group(rg).column(0).statistics.null_count or 0
                    for rg in range(md.num_row_groups)
                )
            except Exception:
                nulls = 1  # unknown → assume NULLs, keep scoping off
            if nulls == 0:
                fs = _footer_stats(dst)
                if fs and key_cols[0] in fs:
                    key_range = fs[key_cols[0]]
        return self._rel(levels[0], dst), key_range

    def _eq_delete_map(
        self,
        base: TableManifest,
        del_rel: str,
        key_cols: list[str],
        key_range: tuple | None,
    ) -> tuple[dict, list[str]]:
        """Stamp ``del_rel`` onto the base's covered files (stats-pruned
        for a single key column — files whose [min, max] provably
        exclude every key are skipped, same manifest-stats machinery as
        predicate deletes). Returns ``(equality_deletes map, covered)``;
        existing entries are preserved."""
        covered = []
        for f in base.files:
            if key_range is not None:
                st = base.file_stats.get(f, {}).get(key_cols[0])
                if st is not None and (
                    st[0] > key_range[1] or st[1] < key_range[0]
                ):
                    continue  # provably key-free
            covered.append(f)
        eq_map = {
            f: [list(e) for e in base.equality_deletes.get(f, [])]
            for f in base.files
            if base.equality_deletes.get(f)
        }
        for f in covered:
            eq_map.setdefault(f, [])
            eq_map[f] = eq_map[f] + [[del_rel, key_cols]]
        return eq_map, covered

    def delete_keys(self, identifier: str | list[str], keys: DataFrame) -> None:
        """EQUALITY deletes (Iceberg format-version 2's third delete flavor,
        completing the v2 triad next to the predicate and position forms):
        delete every row whose key-column tuple appears in ``keys`` — the
        keys DataFrame's columns ARE the key columns. The keys materialize
        into a small parquet delete file and ONE metadata commit stamps it
        against the covered data files; scans apply a null-safe anti-join
        on the key columns. Cost is proportional to the DELETED keys: a
        10-key delete on a 100 TB table writes a 10-row file + a manifest
        swap. Value-based matching means the entries stay semantically
        valid across rewrites (no ordinal staleness — the failure mode
        position deletes must guard against); compact() folds them into
        rewritten files and drops the linkage.

        Covered-file scoping: stats-pruned for a single key column (files
        whose [min,max] provably exclude every key are not stamped — the
        same manifest-stats machinery predicate deletes use), all current
        files otherwise. Files appended AFTER this commit carry no entry
        and are unaffected — Iceberg's sequence-number scoping, expressed
        through the per-file stamp."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        key_cols = list(keys.columns)
        missing = [k for k in key_cols if k not in schema.fieldNames()]
        if not key_cols or missing:
            raise SchemaMismatchError(
                f"equality-delete key columns missing from schema: {missing or key_cols}"
            )
        if not base.files:
            return
        del_rel, key_range = self._write_eq_delete_file(levels, keys, key_cols)
        if del_rel is None:
            return  # empty key set — nothing to delete, no commit
        def with_eq_deletes(b):
            # value-based deletes re-scope cleanly onto a rebased base:
            # files that survived keep their stamp-eligibility, files
            # rewritten concurrently get stamped fresh (the values still
            # name the same rows), appended files get stamped too — which
            # matches the predicate-delete rebase semantics
            eq_map, covered = self._eq_delete_map(b, del_rel, key_cols, key_range)
            if not covered:
                return None  # every file provably key-free — no commit
            return b.next(b.files, equality_deletes=eq_map)

        self._commit_rebasing(ops, base, with_eq_deletes, same_layout=False)

    def update_where(
        self,
        identifier: str | list[str],
        predicate: str,
        assignments: dict[str, str],
        mode: str | None = None,
    ) -> None:
        """Row-level UPDATE ... SET ... WHERE (the Iceberg-extension UPDATE
        surface, same rewrite family as delete_where). Two modes:

        - ``copy-on-write`` (default): full rewrite — matching rows get each
          assignment expression, others pass through unchanged.
        - ``merge-on-read``: ONE atomic commit that (a) writes only the
          UPDATED rows as new files and (b) records the predicate as a
          scan-time delete against the pre-existing files — the MoR
          delete+reinsert decomposition Iceberg's v2 UPDATE performs. A
          10-row update on a 100 TB table writes a 10-row file plus one
          manifest swap instead of rewriting partitions.

        Mode comes from the argument, else the ``write.update.mode`` table
        property, else copy-on-write.

        Assignment targets may be struct members (``{"meta.w": "meta.w*2"}``)
        — compiled by _compile_assignments into a withField rebuild of only
        the named members."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        df = self._read_files(levels[0], base)
        pred = F.coalesce(F.expr(f"({predicate})"), F.lit(False))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        assigned = _compile_assignments(schema, assignments)
        eff = mode or base.properties.get("write.update.mode", "copy-on-write")
        if eff in ("merge-on-read", "mor"):
            updated = df.filter(pred).select(
                [
                    assigned[f.name].alias(f.name)
                    if f.name in assigned
                    else F.col(f.name)
                    for f in schema.fields
                ]
            )
            files, stats, fparts = self._write_data(
                levels, updated, partition_by=base.partition_spec or None,
                bucket_spec=base.bucket_spec or None,
            )
            # same rebase-on-race contract as append and MoR delete: the
            # updated-row files are already written; a lost race re-scopes
            # the delete predicate onto the fresh base and retries, refusing
            # if the schema or layout changed underneath
            self._commit_rebasing(
                ops,
                base,
                lambda b: b.next(
                    b.files + files,
                    file_stats={**b.file_stats, **stats},
                    delete_preds=self._scope_mor_predicate(b, predicate),
                    file_partitions=fparts,
                ),
                same_layout=True,
            )
            return
        if eff != "copy-on-write":
            raise UnsupportedOperationError(f"unknown update mode {eff!r}")
        cols = []
        for f in schema.fields:
            if f.name in assigned:
                cols.append(
                    F.when(pred, assigned[f.name])
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                )
            else:
                cols.append(F.col(f.name))
        files, stats, fparts = self._write_data(
            levels, df.select(cols), partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None
        )
        ops.commit(
            base,
            base.next(
                files, file_stats=stats, delete_preds={}, file_partitions=fparts
            ),
        )

    def merge_upsert(
        self,
        identifier: str | list[str],
        source: DataFrame,
        key_cols: list[str],
        evolve_schema: bool = False,
    ) -> None:
        """MERGE INTO (upsert) emulation without the Iceberg runtime jar:
        target rows whose key appears in the source are replaced by the
        source row, unmatched source rows are inserted — target-anti-join ∪
        source, committed as one copy-on-write snapshot. At 100 TB both
        sides hash-shuffle once on the key (or zero times if the table is
        bucketed on it).

        ``evolve_schema=True`` is Iceberg/Delta's merge-with-schema-
        evolution (``spark.databricks.delta.schema.autoMerge`` /
        mergeSchema): source columns absent from the target are auto-added
        as nullable fields WITH fresh never-reused field ids, in the SAME
        commit as the row merge — existing rows read NULL for them. Without
        the flag, extra source columns raise (the strict ANSI behavior)."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        bad_keys = [
            k
            for k in key_cols
            if k not in schema.fieldNames() or k not in source.columns
        ]
        if not key_cols or bad_keys:
            # same up-front contract as merge_sync: a typo'd ON column gets
            # a clear schema error, not a deep AnalysisException
            raise SchemaMismatchError(
                f"MERGE key columns {bad_keys or key_cols} missing from "
                "the target schema and/or the source"
            )
        columns = None
        extra = [f for f in source.schema.fields if f.name not in schema.fieldNames()]
        if extra and evolve_schema:
            next_id = max((int(c["id"]) for c in base.columns), default=-1) + 1
            columns = list(base.columns) + [
                {"id": next_id + i, "name": f.name} for i, f in enumerate(extra)
            ]
            schema = T.StructType(
                list(schema.fields)
                + [T.StructField(f.name, f.dataType, True) for f in extra]
            )
        elif extra:
            raise SchemaMismatchError(
                f"source has columns {[f.name for f in extra]} not in the "
                "target schema; pass evolve_schema=True to auto-add them"
            )
        aligned_src = _align_to_schema(source, schema)
        target = self._read_files(levels[0], base)
        for f in extra:
            target = target.withColumn(f.name, F.lit(None).cast(f.dataType))
        kept = target.join(aligned_src.select(*key_cols), on=key_cols, how="left_anti")
        files, stats, fparts = self._write_data(
            levels,
            kept.unionByName(aligned_src),
            partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None,
        )
        ops.commit(
            base,
            base.next(
                files,
                file_stats=stats,
                file_partitions=fparts,
                schema_json=schema.json() if extra else None,
                columns=columns,
            ),
        )

    def merge_sync(
        self,
        identifier: str | list[str],
        source: DataFrame,
        key_cols: list[str],
        insert_unmatched: bool = True,
    ) -> None:
        """MERGE with ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` (the
        Delta/Iceberg full-sync form): matched target rows are replaced,
        target-only rows are DELETED, and unmatched source rows insert when
        ``insert_unmatched``.

        The clause algebra collapses nicely — and the engine exploits it:

        - with INSERT, the post-state is exactly the SOURCE, so the commit
          is one distributed write of the source with NO target scan at all
          (a statically-planned optimization of the three-way merge; the
          table keeps its history and layout spec, unlike an overwrite-by-
          drop). A 100 TB target costs nothing to "merge" into beyond
          writing the source.
        - without INSERT, the post-state is the source rows whose key
          exists in the target: one semi-join of the SOURCE against the
          target's keys — the target contributes only its key column to
          the shuffle."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        # key columns must exist on BOTH sides up front — the INSERT branch
        # below never touches them (post-state == source), so a typo'd ON
        # column would otherwise silently replace the whole table
        bad_keys = [
            k
            for k in key_cols
            if k not in schema.fieldNames() or k not in source.columns
        ]
        if bad_keys:
            raise SchemaMismatchError(
                f"MERGE key columns {bad_keys} missing from "
                "the target schema and/or the source"
            )
        extra = [f for f in source.schema.fields if f.name not in schema.fieldNames()]
        if extra:
            raise SchemaMismatchError(
                f"source has columns {[f.name for f in extra]} not in the target schema"
            )
        aligned_src = _align_to_schema(source, schema)
        if insert_unmatched:
            result = aligned_src
        else:
            target_keys = self._read_files(levels[0], base).select(*key_cols)
            result = aligned_src.join(target_keys, on=key_cols, how="left_semi")
        files, stats, fparts = self._write_data(
            levels,
            result,
            partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None,
        )
        ops.commit(
            base,
            base.next(files, file_stats=stats, delete_preds={}, file_partitions=fparts),
        )

    def merge_clauses(
        self,
        identifier: str | list[str],
        source: DataFrame,
        key_cols: list[str],
        clauses: list,
    ) -> None:
        """General-clause MERGE (the full grammar the reference inherits
        through the pinned Iceberg SQL extensions — see
        merge_clauses.py): conditional ``WHEN MATCHED [AND cond] THEN
        DELETE`` / column-level ``UPDATE SET c = expr``, multiple MATCHED
        clauses first-match-wins, conditional NOT-MATCHED inserts, and
        BY SOURCE update/delete. Conditions and assignments are SQL over
        the aliases ``t`` (target) and ``s`` (source); the source may
        carry EXTRA columns (CDC op flags) — they feed conditions but
        never land in the table. The whole-row upsert shape dispatches to
        the specialized ``merge_upsert`` fast path.

        Scale: resolution is the shared three-join decomposition (inner
        on the key for MATCHED, two antis; the target-only anti is built
        only when a BY SOURCE clause exists), committed as one
        copy-on-write snapshot through the same distributed write path as
        merge_upsert — no driver-side row handling."""
        from . import merge_clauses as mc

        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        names = schema.fieldNames()
        mc.validate_clauses(clauses, names)
        if mc.whole_row_shape(clauses):
            return self.merge_upsert(identifier, source, key_cols)
        bad_keys = [
            k
            for k in key_cols
            if k not in names or k not in source.columns
        ]
        if not key_cols or bad_keys:
            raise SchemaMismatchError(
                f"MERGE key columns {bad_keys or key_cols} missing from "
                "the target schema and/or the source"
            )
        whole_row = [c for c in clauses if c.assignments is None and c.action != "delete"]
        if whole_row:
            missing = [n for n in names if n not in source.columns]
            if missing:
                raise SchemaMismatchError(
                    f"whole-row SET */INSERT * needs every target column "
                    f"in the source; missing: {missing}"
                )
        fields = [
            (f.name, f.dataType.simpleString()) for f in schema.fields
        ]
        target = self._read_files(levels[0], base)
        has_matched = any(c.when == "matched" for c in clauses)
        has_by_source = any(
            c.when == "not_matched_by_source" for c in clauses
        )
        if has_matched:
            # stock's MERGE_CARDINALITY_VIOLATION: bounded probe — dup
            # keys are an aggregate, the check is take(1)
            dup = (
                source.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .select(*key_cols)
            )
            if target.join(
                gated_broadcast(dup), key_cols, "left_semi"
            ).take(1):
                raise ValueError(
                    "MERGE cardinality violation: a target row matches "
                    "more than one source row"
                )
        t, s = target.alias("t"), source.alias("s")
        matched = t.join(s, mc.key_equal(key_cols), "inner").withColumn(
            "__action", mc.action_column(clauses, "matched")
        )
        parts = [
            matched.filter(F.col("__action") == "carry").select(
                *mc.select_as("t", fields)
            ),
        ]
        if any(c.when == "matched" and c.action == "update" for c in clauses):
            parts.append(
                mc.projected_images(matched, clauses, fields, "update", "matched")
            )
        skeys = source.select(*key_cols).distinct()
        t_only = target.join(
            gated_broadcast(skeys), key_cols, "left_anti"
        ).alias("t")
        if has_by_source:
            t_only = t_only.withColumn(
                "__action", mc.action_column(clauses, "not_matched_by_source")
            )
            parts.append(
                t_only.filter(F.col("__action") == "carry").select(
                    *mc.select_as("t", fields)
                )
            )
            if any(
                c.when == "not_matched_by_source" and c.action == "update"
                for c in clauses
            ):
                parts.append(
                    mc.projected_images(
                        t_only, clauses, fields, "update",
                        "not_matched_by_source",
                    )
                )
        else:
            parts.append(t_only.select(*mc.select_as("t", fields)))
        if any(c.when == "not_matched" for c in clauses):
            s_only = (
                source.join(target.select(*key_cols), key_cols, "left_anti")
                .alias("s")
                .withColumn(
                    "__action", mc.action_column(clauses, "not_matched")
                )
            )
            parts.append(
                mc.projected_images(s_only, clauses, fields, "insert", "not_matched")
            )
        result = functools.reduce(lambda a, b: a.unionByName(b), parts)
        files, stats, fparts = self._write_data(
            levels,
            result,
            partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None,
        )
        ops.commit(
            base,
            base.next(files, file_stats=stats, file_partitions=fparts),
        )

    def table_history(self, identifier: str | list[str]) -> list[int]:
        """All committed versions, oldest first (metadata-only listing)."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        return list(range(1, m.version + 1))

    @staticmethod
    def _classify_commit(prev: TableManifest | None, m: TableManifest) -> str:
        """Iceberg snapshot-summary ``operation`` label, DERIVED by diffing
        consecutive manifests (zero writer bookkeeping, works for all
        historical versions): create → append/overwrite/delete by the file
        delta → row-delete (MoR stamp growth) → schema-evolution →
        set-properties → commit (no observable change)."""
        if prev is None:
            return "create"
        pf, cf = set(prev.files), set(m.files)
        added, removed = cf - pf, pf - cf
        if added and removed:
            return "overwrite"
        if added:
            return "append"
        if removed:
            return "delete"

        def _stamps(x: TableManifest) -> tuple:
            return (
                {f: tuple(v) for f, v in x.delete_preds.items()},
                {f: tuple(v) for f, v in x.position_deletes.items()},
                {
                    f: tuple((d, tuple(k)) for d, k in v)
                    for f, v in x.equality_deletes.items()
                },
            )

        if _stamps(prev) != _stamps(m):
            return "row-delete"
        if prev.schema_json != m.schema_json or prev.columns != m.columns:
            return "schema-evolution"
        if prev.properties != m.properties:
            return "set-properties"
        return "commit"

    def snapshots(self, identifier: str | list[str]) -> DataFrame:
        """Snapshot metadata table (Iceberg's ``<table>.snapshots`` /
        ``history``): one row per live manifest version with its commit
        instant, the DERIVED operation label (Iceberg's snapshot-summary
        ``operation``), file count and delta counts, count of DISTINCT
        pending MoR delete predicates, and schema field count — all from
        manifest JSON, no data IO. Expired versions are simply absent.
        (Distinct predicates, not per-file stamp entries: stamp fanout
        varies with how many files the writer's parallelism produced.)"""
        ops, levels = self._ops(identifier)
        cur = ops.current()
        if cur is None:
            raise NoSuchTableError(".".join(levels))
        rows = []
        prev: TableManifest | None = None
        for v in range(1, cur.version + 1):
            m = ops.load_version(v)
            if m is None:
                continue
            n_fields = len(json.loads(m.schema_json).get("fields", []))
            pf = set(prev.files) if prev is not None else set()
            cf = set(m.files)
            rows.append(
                (
                    v,
                    float(m.committed_at),
                    self._classify_commit(prev, m),
                    len(m.files),
                    len(cf - pf),
                    len(pf - cf),
                    len({p for preds in m.delete_preds.values() for p in preds}),
                    n_fields,
                )
            )
            prev = m
        return local_df(self.spark, 
            rows,
            "version int, committed_at double, operation string, n_files int, "
            "added_files int, removed_files int, "
            "n_pending_deletes int, n_fields int",
        )

    def history(self, identifier: str | list[str]) -> DataFrame:
        """History metadata table (Iceberg's ``<table>.history``): one row
        per metadata version with its commit instant, parent version, and
        ``is_current_ancestor`` — on this catalog's LINEAR history every
        live version is an ancestor of the head (a rollback commits a NEW
        version rather than moving the pointer back, so the chain never
        forks). Zero data IO: rows come from the manifest chain only."""
        ops, levels = self._ops(identifier)
        cur = ops.current()
        if cur is None:
            raise NoSuchTableError(".".join(levels))
        rows = []
        prev_v: int | None = None
        for v in range(1, cur.version + 1):
            m = ops.load_version(v)
            if m is None:
                continue
            rows.append((float(m.committed_at), v, prev_v, True))
            prev_v = v
        return local_df(self.spark,
            rows,
            "made_current_at double, version int, parent_version int, "
            "is_current_ancestor boolean",
        )

    def files(self, identifier: str | list[str]) -> DataFrame:
        """Files metadata table (Iceberg's ``<table>.files``): one row per
        live data file with its row count, partition tuple, and per-column
        min/max stats — all from manifest JSON + parquet footers, no page
        IO. At 100 TB this is the planner's input: a query over this table
        answers "which files can match" without touching data."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        repo_dir = self._repo_dir(levels[0])
        rows = []
        for f in m.files:
            stats = _effective_stats(m, f)
            rows.append(
                (
                    f,
                    int(_parquet_num_rows(os.path.join(repo_dir, f))),
                    json.dumps(m.file_partitions.get(f, {}), sort_keys=True),
                    json.dumps(stats, sort_keys=True, default=str),
                    len(m.delete_preds.get(f, [])),
                )
            )
        return local_df(self.spark, 
            rows,
            "file string, row_count long, partition string, "
            "column_stats string, n_delete_preds int",
        )

    def partitions(self, identifier: str | list[str]) -> DataFrame:
        """Partitions metadata table (Iceberg's ``<table>.partitions``): one
        row per live partition tuple with file and row counts — a rollup of
        the files metadata, no page IO beyond footer row counts. For an
        unpartitioned table this is one row with an empty partition."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        repo_dir = self._repo_dir(levels[0])
        agg: dict[str, list[int]] = {}
        for f in m.files:
            key = json.dumps(m.file_partitions.get(f, {}), sort_keys=True)
            n = int(_parquet_num_rows(os.path.join(repo_dir, f)))
            cur = agg.setdefault(key, [0, 0])
            cur[0] += 1
            cur[1] += n
        rows = [(k, v[0], v[1]) for k, v in sorted(agg.items())]
        return local_df(self.spark, 
            rows, "partition string, n_files int, row_count long"
        )

    def rollback_to_version(self, identifier: str | list[str], version: int) -> int:
        """Roll the table back to a historic snapshot (Iceberg's
        ``rollback_to_snapshot``): commits a NEW manifest whose state —
        files, schema, stats, pending deletes, partition values — is the
        target version's, on top of the current chain. History stays
        linear and time travel still reaches the undone versions; nothing
        is deleted, so the rollback itself is one metadata commit
        regardless of table size. Returns the new version number."""
        ops, levels = self._ops(identifier)
        cur = ops.current()
        if cur is None:
            raise NoSuchTableError(".".join(levels))
        tgt = ops.load_version(version)
        if tgt is None:
            raise NoSuchTableError(
                f"{'.'.join(levels)} has no version {version} (expired?)"
            )
        restored = TableManifest.from_json(tgt.to_json())  # deep copy
        restored.version = cur.version + 1
        ops.commit(cur, restored)
        return restored.version

    def table_changes(
        self, identifier: str | list[str], from_version: int, to_version: int
    ) -> DataFrame:
        """Incremental scan (Iceberg's incremental append scan): the rows
        ADDED between two snapshots, read from exactly the data files that
        joined the manifest in that range — a CDC-read over an append-only
        window costs IO proportional to the delta, never the table. Raises
        if the range removed files (a rewrite/delete snapshot — the range
        is not append-only, so "changes" is not expressible as added rows;
        Iceberg's incremental scan refuses such ranges the same way)."""
        ops, levels = self._ops(identifier)
        name = ".".join(levels)
        manifests = [ops.load_version(v) for v in (from_version, to_version)]
        if any(m is None for m in manifests):
            raise NoSuchTableError(f"{name}: version range has expired snapshots")
        m_from, m_to = manifests
        removed = set(m_from.files) - set(m_to.files)
        if removed:
            raise UnsupportedOperationError(
                f"{name}: v{from_version}..v{to_version} is not append-only "
                f"({len(removed)} file(s) removed) — incremental read "
                "undefined; scan both versions and diff instead"
            )
        added = [f for f in m_to.files if f not in set(m_from.files)]
        delta = TableManifest.from_json(m_to.to_json())
        delta.files = added
        return self._read_files(levels[0], delta)

    def _current_shard_pruned(
        self, ops, levels: list[str], col: str, op: str, value
    ) -> tuple[TableManifest, int]:
        """(current manifest restricted to shards that MAY match
        ``col op value``, total file count). On a sharded table this is the
        lazy planning path: the shard index in the list object carries each
        shard's partition values, so parts whose identity-partition value or
        hidden-transform `_bucket` key provably fails the predicate are
        NEVER READ from the store — at 100 TB that turns "load O(files)
        manifest metadata" into "load the matching partitions' parts".
        Exclusions are proofs; anything ambiguous keeps the shard and the
        per-file stats + residual filter stay exact on top."""
        v = ops.current_version()
        if v == 0:
            raise NoSuchTableError(".".join(levels))
        d = ops.peek_version(v)
        if d is None:
            raise NoSuchTableError(".".join(levels))
        if "shards" not in d:
            m = TableManifest.from_dict(d)
            return m, len(m.files)
        total = sum(int(i.get("n_files", 0)) for i in d["shards"].values())
        shim = _types_ns(
            bucket_spec=d.get("bucket_spec", {}) or {}, schema_json=d["schema_json"]
        )
        interval = _layout_interval(shim, col, op, value)
        identity = col in (d.get("partition_spec") or [])

        def keep_shard(pvals: dict) -> bool:
            # the stored partition value is typed: the shard's [v, v]
            # range takes the per-file stats test (NULL and incomparable
            # probes keep the shard; the residual filter stays exact)
            if _pvals_exclude(pvals, interval):
                return False
            if identity and pvals.get(col) is not None:
                return _file_survives({col: [pvals[col]] * 2}, col, op, value)
            return True

        m = ops.load_version(v, keep_shard=keep_shard)
        return m, total

    def select_files(
        self, identifier: str | list[str], col: str, op: str, value
    ) -> tuple[list[str], int]:
        """File-skipping planner: (files surviving `col op value` by their
        manifest min/max stats, total file count). The Iceberg manifest-stats
        equivalent — at 100 TB this is what turns a selective scan from
        'read the table' into 'read three files'. Sharded manifests prune at
        the SHARD level first (parts never loaded), then per-file stats."""
        ops, levels = self._ops(identifier)
        m, total = self._current_shard_pruned(ops, levels, col, op, value)
        interval = _layout_interval(m, col, op, value)
        keep = [
            f
            for f in m.files
            if _file_survives(_effective_stats(m, f), col, op, value)
            and not _layout_excludes(m, f, interval)
        ]
        return keep, total

    def scan_pruned(
        self, identifier: str | list[str], col: str, op: str, value
    ) -> DataFrame:
        """Scan with manifest-level file skipping + the residual filter
        applied on top (so results are exact regardless of stats quality)."""
        ops, levels = self._ops(identifier)
        m, _total = self._current_shard_pruned(ops, levels, col, op, value)
        interval = _layout_interval(m, col, op, value)
        keep = [
            f
            for f in m.files
            if _file_survives(_effective_stats(m, f), col, op, value)
            and not _layout_excludes(m, f, interval)
        ]
        pruned = TableManifest(
            table_uuid=m.table_uuid,
            version=m.version,
            schema_json=m.schema_json,
            files=keep,
            properties=m.properties,
            file_stats=m.file_stats,
            columns=m.columns,
            file_columns=m.file_columns,
            file_types=m.file_types,
            partition_spec=m.partition_spec,
            file_partitions=m.file_partitions,
            bucket_spec=m.bucket_spec,
            delete_preds=m.delete_preds,
            position_deletes=m.position_deletes,
            # every row-filtering/projection side table must ride along, or
            # a pruned scan would resurrect deleted rows / misproject
            # evolved structs (regression-tested)
            equality_deletes=m.equality_deletes,
            file_struct_columns=m.file_struct_columns,
        )
        df = self._read_files(levels[0], pruned)
        # Residual predicate from Column/lit objects — never string-assembled
        # SQL, so quote-bearing values can't break (or inject into) the
        # expression, and the residual always agrees with the stats-based
        # file pruning applied to the same value above.
        c = F.col(col)
        if op == "between":
            lo, hi = value
            return df.filter(c.between(F.lit(lo), F.lit(hi)))
        preds = {
            "=": c == F.lit(value),
            "<": c < F.lit(value),
            "<=": c <= F.lit(value),
            ">": c > F.lit(value),
            ">=": c >= F.lit(value),
        }
        return df.filter(preds[op]) if op in preds else df

    def add_column(
        self, identifier: str | list[str], name: str, ddl_type: str
    ) -> None:
        """Schema evolution: append a nullable column — a metadata-only
        commit (no data rewrite); existing files read back with NULLs for
        the new column, exactly Iceberg's add-column semantics. The new
        field gets a fresh never-reused id (max+1), so a later rename/drop
        can never confuse it with a historic column."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        if name in schema.fieldNames():
            raise TableAlreadyExistsError(f"column {name!r} already exists")
        new_field = T.StructType.fromDDL(f"`{name}` {ddl_type}").fields[0]
        schema = T.StructType(list(schema.fields) + [new_field])
        next_id = max((int(c["id"]) for c in base.columns), default=-1) + 1
        columns = list(base.columns) + [{"id": next_id, "name": name}]
        ops.commit(
            base, base.next(base.files, schema_json=schema.json(), columns=columns)
        )

    def rename_column(self, identifier: str | list[str], old: str, new: str) -> None:
        """Schema evolution: rename a column — metadata-only (Iceberg
        ALTER TABLE ... RENAME COLUMN; the reference inherits it via the
        pinned extensions, tests/conftest.py:67 + pom.xml:77-88). The field
        keeps its id; existing data files keep the old on-file name and the
        scan projects them through the id mapping, so no data is rewritten
        and historic snapshots still read under their own names."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        if base.delete_preds:
            # pending MoR predicates are SQL strings in delete-time column
            # names; renaming underneath them would corrupt their meaning
            raise UnsupportedOperationError(
                "compact() pending merge-on-read deletes before renaming columns"
            )
        if any(
            old in k
            for entries in base.equality_deletes.values()
            for _d, k in entries
        ):
            # equality-delete linkage stores key COLUMN NAMES; renaming a
            # keyed column would silently detach the pending deletes
            raise UnsupportedOperationError(
                f"column {old!r} keys pending equality deletes; compact() first"
            )
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        if old not in schema.fieldNames():
            raise NoSuchTableError(f"column {old!r} does not exist")
        if old in base.partition_spec or any(
            old in pv for pv in base.file_partitions.values()
        ):
            # the partition spec and the hive dir layout are name-keyed —
            # and after spec EVOLUTION, files written under an old spec
            # still carry their values under the old column name; renaming
            # underneath either would orphan every partition value
            raise UnsupportedOperationError(
                f"column {old!r} carries partition metadata and cannot be renamed"
            )
        if base.bucket_spec.get("col") == old:
            raise UnsupportedOperationError(
                f"column {old!r} is the bucket column and cannot be renamed"
            )
        if new in schema.fieldNames():
            raise TableAlreadyExistsError(f"column {new!r} already exists")
        fields = [
            T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
            for f in schema.fields
        ]
        columns = [
            {**c, "name": new} if c["name"] == old else c for c in base.columns
        ]
        ops.commit(
            base,
            base.next(
                base.files, schema_json=T.StructType(fields).json(), columns=columns
            ),
        )

    def alter_column_type(
        self, identifier: str | list[str], name: str, ddl_type: str
    ) -> None:
        """Schema evolution: widen a column's type — metadata-only (Iceberg's
        safe type promotion, inherited by the reference via the pinned
        extensions, tests/conftest.py:67 + pom.xml:77-88). Only promotions
        that can never lose information are allowed: integer widening
        (tinyint→smallint→int→bigint), float→double, and decimal precision
        growth at the same scale. Data files keep their written physical
        type (recorded in the manifest's per-file type map); scans read each
        file with the type it holds and cast up to the current schema, so no
        data is rewritten and historic snapshots still read under their own
        types. Anything lossy (narrowing, scale change, cross-family) is
        rejected up front."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        if name not in schema.fieldNames():
            raise NoSuchTableError(f"column {name!r} does not exist")
        new_type = T.StructType.fromDDL(f"`{name}` {ddl_type}").fields[0].dataType
        old_type = schema[name].dataType
        if not _is_safe_widening(old_type, new_type):
            raise UnsupportedOperationError(
                f"cannot alter column {name!r} from {old_type.simpleString()} to "
                f"{new_type.simpleString()}: only widening promotions are allowed "
                "(tinyint→smallint→int→bigint, float→double, decimal precision growth)"
            )
        fields = [
            T.StructField(f.name, new_type if f.name == name else f.dataType, f.nullable)
            for f in schema.fields
        ]
        ops.commit(
            base, base.next(base.files, schema_json=T.StructType(fields).json())
        )

    def _struct_member_base(self, identifier: str | list[str], column: str):
        """Shared preamble of the nested (struct-member) evolution ops:
        resolve the table, require ``column`` to be a struct, ensure its
        members carry stable ids (synthesizing position-ordered ids for
        tables created before nested tracking — safe, because no nested
        evolution can predate the ids), and stamp every existing file's
        written member layout so the upcoming evolution cannot re-label
        history. Returns (ops, levels, base, schema, columns, entry)."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        if column not in schema.fieldNames():
            raise NoSuchTableError(f"column {column!r} does not exist")
        if not isinstance(schema[column].dataType, T.StructType):
            raise UnsupportedOperationError(
                f"column {column!r} is not a struct; nested evolution only "
                "applies to struct columns"
            )
        if base.delete_preds:
            # pending MoR predicates may reference `col.member` by name
            raise UnsupportedOperationError(
                "compact() pending merge-on-read deletes before evolving "
                "struct members"
            )
        columns = [dict(c) for c in base.columns]
        entry = next(c for c in columns if c["name"] == column)
        if not entry.get("fields"):
            entry["fields"] = [
                {"id": j, "name": mf.name}
                for j, mf in enumerate(schema[column].dataType.fields)
            ]
        # provenance backfill: files without a recorded member layout were
        # written with the PRE-evolution layout (ids just synthesized)
        pre_struct = struct_mapping_of(columns)
        for f in base.files:
            base.file_struct_columns.setdefault(f, pre_struct)
        return ops, levels, base, schema, columns, entry

    def add_struct_field(
        self, identifier: str | list[str], column: str, member: str, ddl_type: str
    ) -> None:
        """Nested schema evolution: append a nullable MEMBER to a struct
        column — metadata-only, like top-level add_column (Iceberg assigns
        field ids at every nesting level; the reference inherits this via
        its pinned Iceberg, tests/conftest.py:67 + pom.xml:77-88). Existing
        files read the new member as NULL through the member-id projection;
        no data rewrite. The member id is fresh within the struct and never
        reused."""
        ops, levels, base, schema, columns, entry = self._struct_member_base(
            identifier, column
        )
        st: T.StructType = schema[column].dataType
        if member in st.fieldNames():
            raise TableAlreadyExistsError(
                f"member {member!r} already exists in {column!r}"
            )
        new_field = T.StructType.fromDDL(f"`{member}` {ddl_type}").fields[0]
        next_id = max((int(m["id"]) for m in entry["fields"]), default=-1) + 1
        entry["fields"] = list(entry["fields"]) + [{"id": next_id, "name": member}]
        new_st = T.StructType(list(st.fields) + [new_field])
        fields = [
            T.StructField(f.name, new_st if f.name == column else f.dataType, f.nullable)
            for f in schema.fields
        ]
        ops.commit(
            base,
            base.next(
                base.files, schema_json=T.StructType(fields).json(), columns=columns
            ),
        )

    def rename_struct_field(
        self, identifier: str | list[str], column: str, old: str, new: str
    ) -> None:
        """Nested schema evolution: rename a struct MEMBER — metadata-only.
        The member keeps its id; files written under the old name are
        projected member-wise through the id mapping at scan time, so no
        data is rewritten and historic snapshots read under their own
        member names."""
        ops, levels, base, schema, columns, entry = self._struct_member_base(
            identifier, column
        )
        st: T.StructType = schema[column].dataType
        if old not in st.fieldNames():
            raise NoSuchTableError(f"member {old!r} does not exist in {column!r}")
        if new in st.fieldNames():
            raise TableAlreadyExistsError(
                f"member {new!r} already exists in {column!r}"
            )
        entry["fields"] = [
            {**m, "name": new} if m["name"] == old else m for m in entry["fields"]
        ]
        new_st = T.StructType(
            [
                T.StructField(new if mf.name == old else mf.name, mf.dataType, mf.nullable)
                for mf in st.fields
            ]
        )
        fields = [
            T.StructField(f.name, new_st if f.name == column else f.dataType, f.nullable)
            for f in schema.fields
        ]
        ops.commit(
            base,
            base.next(
                base.files, schema_json=T.StructType(fields).json(), columns=columns
            ),
        )

    def alter_struct_field_type(
        self, identifier: str | list[str], column: str, member: str, ddl_type: str
    ) -> None:
        """Nested schema evolution: widen a struct MEMBER's type — the same
        safe-promotion set as top-level alter_column_type (int widening,
        float→double, decimal precision growth). Files keep their written
        member pages (recorded per file via file_types); the member-wise
        projection casts up at scan time."""
        ops, levels, base, schema, columns, entry = self._struct_member_base(
            identifier, column
        )
        st: T.StructType = schema[column].dataType
        if member not in st.fieldNames():
            raise NoSuchTableError(f"member {member!r} does not exist in {column!r}")
        new_type = T.StructType.fromDDL(f"`{member}` {ddl_type}").fields[0].dataType
        old_type = st[member].dataType
        if not _is_safe_widening(old_type, new_type):
            raise UnsupportedOperationError(
                f"cannot alter member {column}.{member} from "
                f"{old_type.simpleString()} to {new_type.simpleString()}: only "
                "widening promotions are allowed"
            )
        new_st = T.StructType(
            [
                T.StructField(
                    mf.name, new_type if mf.name == member else mf.dataType, mf.nullable
                )
                for mf in st.fields
            ]
        )
        fields = [
            T.StructField(f.name, new_st if f.name == column else f.dataType, f.nullable)
            for f in schema.fields
        ]
        ops.commit(
            base,
            base.next(
                base.files, schema_json=T.StructType(fields).json(), columns=columns
            ),
        )

    def drop_struct_field(
        self, identifier: str | list[str], column: str, member: str
    ) -> None:
        """Nested schema evolution: drop a struct MEMBER — metadata-only;
        files keep the member in their pages, the projection just stops
        selecting it, and the member id is never reused."""
        ops, levels, base, schema, columns, entry = self._struct_member_base(
            identifier, column
        )
        st: T.StructType = schema[column].dataType
        if member not in st.fieldNames():
            raise NoSuchTableError(f"member {member!r} does not exist in {column!r}")
        if len(st.fields) == 1:
            raise UnsupportedOperationError(
                f"cannot drop the only member of struct {column!r}"
            )
        entry["fields"] = [m for m in entry["fields"] if m["name"] != member]
        new_st = T.StructType([mf for mf in st.fields if mf.name != member])
        fields = [
            T.StructField(f.name, new_st if f.name == column else f.dataType, f.nullable)
            for f in schema.fields
        ]
        ops.commit(
            base,
            base.next(
                base.files, schema_json=T.StructType(fields).json(), columns=columns
            ),
        )

    def drop_column(self, identifier: str | list[str], name: str) -> None:
        """Schema evolution: drop a column — metadata-only; data files are
        untouched (the scan just stops selecting the field), historic
        snapshots still expose it, and the id is never reused."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        if base.delete_preds:
            raise UnsupportedOperationError(
                "compact() pending merge-on-read deletes before dropping columns"
            )
        if any(
            name in k
            for entries in base.equality_deletes.values()
            for _d, k in entries
        ):
            raise UnsupportedOperationError(
                f"column {name!r} keys pending equality deletes; compact() first"
            )
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        if name not in schema.fieldNames():
            raise NoSuchTableError(f"column {name!r} does not exist")
        if name in base.partition_spec or any(
            name in pv for pv in base.file_partitions.values()
        ):
            # same evolution-aware guard as rename: files written under an
            # older spec read this column from partition METADATA, not pages
            raise UnsupportedOperationError(
                f"column {name!r} carries partition metadata and cannot be dropped"
            )
        if base.bucket_spec.get("col") == name:
            raise UnsupportedOperationError(
                f"column {name!r} is the bucket column and cannot be dropped"
            )
        if len(schema.fields) == 1:
            raise UnsupportedOperationError("cannot drop the only column")
        fields = [f for f in schema.fields if f.name != name]
        columns = [c for c in base.columns if c["name"] != name]
        ops.commit(
            base,
            base.next(
                base.files, schema_json=T.StructType(fields).json(), columns=columns
            ),
        )

    def set_partition_spec(
        self, identifier: str | list[str], partition_by: list[str] | None
    ) -> None:
        """Partition spec EVOLUTION (Iceberg ALTER TABLE ... partition field
        surface): change the identity partition spec for FUTURE writes in a
        metadata-only commit. Existing data files are untouched — they keep
        their recorded partition values (or none, if written unpartitioned)
        and planning keeps pruning them by whatever metadata they have:
        per-file partition values act as [v, v] stats, pre-evolution files
        fall back to footer min/max. This is Iceberg's core spec-evolution
        property: old files under the old layout, new files under the new,
        one table, no rewrite.

        ``partition_by=None``/[] drops partitioning for future writes.
        Refused on tables with a transform layout (bucket/days/truncate) —
        their synthetic dir keys are not identity values, so evolving over
        them would silently disable their pruning."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        if base.bucket_spec:
            raise UnsupportedOperationError(
                "cannot evolve the partition spec of a transform-partitioned "
                "table (bucket/days/truncate)"
            )
        schema = T.StructType.fromJson(json.loads(base.schema_json))
        for c in partition_by or []:
            if c not in schema.fieldNames():
                raise SchemaMismatchError(f"partition column {c!r} not in schema")
        ops.commit(
            base,
            base.next(base.files, partition_spec=list(partition_by or [])),
        )

    def partition_spec(self, identifier: str | list[str]) -> list[str]:
        """Current identity partition spec (metadata-only read)."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        return list(m.partition_spec)

    def describe_table(
        self, identifier: str | list[str], extended: bool = False
    ) -> list[tuple[str, str, str]]:
        """DESCRIBE [EXTENDED] rows: (col_name, data_type, comment) per
        schema field; EXTENDED appends the layout + versioning metadata
        section Spark's own DESCRIBE EXTENDED renders — all from the
        manifest, no data IO."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        schema = T.StructType.fromJson(json.loads(m.schema_json))
        rows = [(f.name, f.dataType.simpleString(), "") for f in schema.fields]
        if extended:
            rows.append(("", "", ""))
            rows.append(("# Detailed Table Information", "", ""))
            rows.append(("Name", ".".join(levels), ""))
            rows.append(("Table UUID", m.table_uuid, ""))
            rows.append(("Version", str(m.version), ""))
            rows.append(("Data Files", str(len(m.files)), ""))
            if m.partition_spec:
                rows.append(("Partition Spec", ", ".join(m.partition_spec), ""))
            if m.bucket_spec:
                t = m.bucket_spec.get("transform", "bucket")
                arg = m.bucket_spec.get("n") or m.bucket_spec.get("param")
                detail = f"{t}({arg}, {m.bucket_spec['col']})" if arg else f"{t}({m.bucket_spec['col']})"
                rows.append(("Partition Transform", detail, ""))
            so = m.properties.get(SORT_ORDER_PROP)
            if isinstance(so, dict) and so.get("cols"):
                rows.append(
                    ("Sort Order", f"{so['kind']}({', '.join(so['cols'])})", "")
                )
            for k in sorted(m.properties):
                rows.append((f"Property: {k}", str(m.properties[k]), ""))
        return rows

    def table_properties(self, identifier: str | list[str]) -> dict:
        """Current table properties (metadata-only read)."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        return dict(m.properties)

    def set_table_properties(
        self, identifier: str | list[str], props: dict, remove: list[str] | None = None
    ) -> None:
        """Set/unset table properties in one metadata-only commit (Iceberg
        ALTER TABLE SET/UNSET TBLPROPERTIES semantics); files untouched."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        merged = {**base.properties, **{str(k): str(v) for k, v in props.items()}}
        for k in remove or []:
            merged.pop(k, None)
        ops.commit(base, base.next(base.files, properties=merged))

    def analyze_table(self, identifier: str | list[str]) -> dict:
        """ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS: ONE
        distributed aggregate pass computes the table row count plus
        per-column distinct and null counts, and stamps them into table
        properties in a metadata-only commit — the stats-in-metadata
        pattern Spark/Iceberg use to feed the optimizer's cardinality
        estimates (join reordering, broadcast decisions) without touching
        data at plan time.

        Exact countDistinct here (fixture scale); the 100 TB swap-in is
        approx_count_distinct — a mergeable HLL sketch with the same
        single-pass partial-agg shape, which is why the property names
        don't encode exactness. All counts fold map-side before one
        exchange carrying a single row."""
        ops, levels = self._ops(identifier)
        df = self.scan(levels)
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for f in df.schema.fields:
            aggs.append(F.countDistinct(f.name).alias(f"ndv__{f.name}"))
            aggs.append(
                F.sum(F.col(f.name).isNull().cast("long")).alias(f"nulls__{f.name}")
            )
        row = df.agg(*aggs).collect()[0]
        props: dict[str, str] = {"stats.row_count": str(row["__rows"])}
        for f in df.schema.fields:
            props[f"stats.{f.name}.ndv"] = str(row[f"ndv__{f.name}"])
            props[f"stats.{f.name}.null_count"] = str(row[f"nulls__{f.name}"])
        self.set_table_properties(levels, props)
        return props

    def compact(
        self,
        identifier: str | list[str],
        target_files: int = 1,
        partition: dict | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Small-file compaction: rewrite data files into `target_files`
        files (Iceberg rewrite_data_files). Metadata commit like any other —
        history keeps the fragmented versions readable.

        ``partition`` ({col: value}, identity-partitioned tables only)
        scopes the rewrite to ONE partition: only that partition's files are
        read and replaced; every other partition's files — and their pending
        MoR delete predicates — ride into the new manifest untouched. At
        100 TB compaction is always per-partition: the job reads one
        partition's worth of data, never the table.

        ``zorder_by`` re-clusters the rewritten rows on a Morton interleave
        of the given columns (Iceberg rewrite_data_files zorder strategy /
        Delta OPTIMIZE ZORDER BY) — the maintenance path that retrofits
        multi-dimension file-skipping locality onto data that was appended
        in arrival order. Unpartitioned tables only (a partitioned table's
        layout is its partition spec). An explicit ``zorder_by`` also
        UPDATES the table's persisted sort order; without it, compact
        re-applies the declared sort order (cluster or zorder) so
        maintenance preserves clustering instead of degrading it."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        declared = base.properties.get(SORT_ORDER_PROP) or {}
        if not zorder_by and not partition and declared.get("cols"):
            # re-apply the persisted sort order (Iceberg SortOrder contract:
            # rewrite_data_files sorts by the table's declared order)
            if declared.get("kind") == "zorder":
                zorder_by = list(declared["cols"])
            elif not (base.partition_spec or base.bucket_spec):
                df = self._read_files(levels[0], base)
                files, stats, fparts = self._write_data(
                    levels, df, cluster_by=list(declared["cols"])
                )
                ops.commit(
                    base, base.next(files, file_stats=stats, file_partitions=fparts)
                )
                return
        if zorder_by:
            if base.partition_spec or base.bucket_spec or partition:
                raise UnsupportedOperationError(
                    "zorder compaction applies to unpartitioned tables"
                )
            df = self._read_files(levels[0], base)
            files, stats, fparts = self._write_data(levels, df, zorder_by=zorder_by)
            ops.commit(
                base,
                base.next(
                    files,
                    file_stats=stats,
                    file_partitions=fparts,
                    properties={
                        **base.properties,
                        SORT_ORDER_PROP: {"kind": "zorder", "cols": list(zorder_by)},
                    },
                ),
            )
            return
        if target_files != 1 and (base.partition_spec or base.bucket_spec):
            # layout-routed writes re-distribute on the layout key, so the
            # compacted state is one file per partition/bucket — a different
            # target would be silently ignored; refuse instead
            raise UnsupportedOperationError(
                "partitioned/bucketed tables compact to one file per "
                "partition; target_files must be 1"
            )
        if partition:
            unknown = set(partition) - set(base.partition_spec)
            if unknown:
                raise UnsupportedOperationError(
                    f"not partition columns: {sorted(unknown)}"
                )
            in_part = [
                f
                for f in base.files
                if all(
                    base.file_partitions.get(f, {}).get(c) == v
                    for c, v in partition.items()
                )
            ]
            in_part_set = set(in_part)
            keep = [f for f in base.files if f not in in_part_set]
            keep_set = set(keep)
            if not in_part:
                return  # nothing in this partition to rewrite
            sub = TableManifest(
                table_uuid=base.table_uuid,
                version=base.version,
                schema_json=base.schema_json,
                files=in_part,
                properties=base.properties,
                file_stats=base.file_stats,
                columns=base.columns,
                file_columns=base.file_columns,
                file_types=base.file_types,
                partition_spec=base.partition_spec,
                file_partitions=base.file_partitions,
                bucket_spec=base.bucket_spec,
                delete_preds=base.delete_preds,
                # pending position/equality deletes MUST ride along:
                # rewriting their data files without applying them would
                # resurrect the rows — and the struct-member write layouts
                # must too, or evolved structs would misproject
                position_deletes=base.position_deletes,
                equality_deletes=base.equality_deletes,
                file_struct_columns=base.file_struct_columns,
            )
            df = self._read_files(levels[0], sub).coalesce(target_files)
            files, stats, fparts = self._write_data(
                levels, df, partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None
            )
            ops.commit(
                base,
                base.next(
                    keep + files,
                    file_stats={
                        **{f: s for f, s in base.file_stats.items() if f in keep_set},
                        **stats,
                    },
                    file_partitions=fparts,
                ),
            )
            return
        df = self._read_files(levels[0], base).coalesce(target_files)
        files, stats, fparts = self._write_data(
            levels, df, partition_by=base.partition_spec or None,
            bucket_spec=base.bucket_spec or None
        )
        ops.commit(
            base,
            base.next(files, file_stats=stats, file_partitions=fparts),
        )

    def set_sort_order(
        self,
        identifier: str | list[str],
        kind: str | None,
        cols: list[str] | None = None,
    ) -> None:
        """Declare (or clear, kind=None) the table's persisted sort order —
        the Iceberg ``ALTER TABLE ... WRITE ORDERED BY`` analog. The order
        is metadata: it takes effect at the next compact(), which re-sorts
        per the declaration; existing files are untouched."""
        ops, levels = self._ops(identifier)
        base = ops.current()
        if base is None:
            raise NoSuchTableError(".".join(levels))
        props = dict(base.properties)
        if kind is None:
            props.pop(SORT_ORDER_PROP, None)
        else:
            if kind not in ("cluster", "zorder"):
                raise UnsupportedOperationError(
                    f"sort order kind must be 'cluster' or 'zorder', got {kind!r}"
                )
            if base.partition_spec or base.bucket_spec:
                raise UnsupportedOperationError(
                    "sort order applies to unpartitioned tables; a "
                    "partitioned table's layout is its partition spec"
                )
            schema = T.StructType.fromJson(json.loads(base.schema_json))
            missing = [c for c in (cols or []) if c not in schema.fieldNames()]
            if not cols or missing:
                raise SchemaMismatchError(
                    f"sort order columns missing from schema: {missing or cols}"
                )
            props[SORT_ORDER_PROP] = {"kind": kind, "cols": list(cols)}
        ops.commit(base, base.next(base.files, properties=props))

    # -------------------------------------------------------- maintenance

    def purge_rows_from_history(
        self, identifier: str | list[str], predicate: str
    ) -> dict:
        """Compliance purge (GDPR right-to-erasure): physically remove every
        row matching ``predicate`` from EVERY live snapshot of the table —
        the one operation where time travel must lose data by design.
        Ordinary DELETE only advances the head; the deleted rows stay
        readable at historic versions until expiry, which erasure law does
        not accept.

        Mechanism: each data file that may hold matching rows (manifest
        stats pre-filter) is rewritten without them; every live manifest
        version is then rewritten in place to reference the cleaned file,
        preserving version numbers, commit instants, and table identity —
        history keeps its SHAPE (counts of snapshots, schema evolution),
        only the purged rows vanish from all of it. Files fully emptied by
        the purge drop out of the manifests. Old physical files are removed
        only if no other branch still references them (repo-wide
        reachability, the zero-copy invariant) — a multi-branch erasure
        runs this per branch.

        Scale: per-file rewrite is a distributed filter-write; manifest
        rewrites are O(metadata). Refused if affected files were written
        under renamed columns (the predicate would silently miss them) —
        compact first to normalize.

        Returns {files_rewritten, rows_purged, versions_rewritten}."""
        from .parquet_io import write_single_parquet

        ops, levels = self._ops(identifier)
        cur = ops.current()
        if cur is None:
            raise NoSuchTableError(".".join(levels))
        repo = levels[0]
        repo_dir = self._repo_dir(repo)
        versions: dict[int, TableManifest] = {}
        all_files: set[str] = set()
        for v in range(1, cur.version + 1):
            m = ops.load_version(v)
            if m is None:
                continue
            versions[v] = m
            all_files.update(m.files)
        parsed = _parse_simple_predicate(predicate)
        current_mapping = {str(c["id"]): c["name"] for c in cur.columns}
        rewritten: dict[str, str | None] = {}  # old rel -> new rel | None (emptied)
        new_stats: dict[str, dict] = {}
        rows_purged = 0
        for f in sorted(all_files):
            for m in versions.values():
                fmap = m.file_columns.get(f)
                if fmap is not None and any(
                    current_mapping.get(i) not in (None, n) for i, n in fmap.items()
                ):
                    raise UnsupportedOperationError(
                        f"{f} was written under renamed columns; compact "
                        "before purging so the predicate cannot miss rows"
                    )
            if parsed is not None:
                col, op, value = parsed
                stats = next(
                    (m.file_stats[f] for m in versions.values() if f in m.file_stats),
                    None,
                )
                if not _file_survives(stats, col, op, value):
                    continue  # provably match-free
            # pending POSITION deletes on this file: a rewritten file is
            # shared by every live version, but row ordinals change on
            # rewrite, so the delete files' (path, pos) pairs would silently
            # stop matching and the deleted rows would resurrect.  If every
            # referencing version applies the SAME delete set, fold it into
            # the rewrite (the rewritten file simply no longer contains
            # those rows) and drop the linkage below; if versions diverge
            # (one snapshot sees the row live, a later one deleted), no
            # single rewritten file can serve both — refuse, like the
            # renamed-columns guard.
            pos_sets = {
                tuple(sorted(m.position_deletes.get(f, ())))
                for m in versions.values()
                if f in m.files
            }
            if len(pos_sets) > 1:
                raise UnsupportedOperationError(
                    f"{f} carries divergent position deletes across live "
                    "versions; compact + expire history before purging"
                )
            pos_files = next(iter(pos_sets), ())
            abs_path = self._verify_path(repo, os.path.join(repo_dir, f))
            raw = self.spark.read.parquet(abs_path)
            if pos_files:
                prefix = "file:" + os.path.realpath(repo_dir) + "/"
                raw = (
                    raw.withColumn(
                        "_file",
                        F.expr(f"substring(_metadata.file_path, {len(prefix) + 1})"),
                    )
                    .withColumn("_pos", F.col("_metadata.row_index"))
                    .join(
                        self.spark.read.schema("file_path string, pos long")
                        .parquet(
                            *[
                                self._verify_path(
                                    repo, os.path.join(repo_dir, d)
                                )
                                for d in pos_files
                            ]
                        )
                        .select(
                            F.col("file_path").alias("_dfile"),
                            F.col("pos").alias("_dpos"),
                        ),
                        (F.col("_file") == F.col("_dfile"))
                        & (F.col("_pos") == F.col("_dpos")),
                        "left_anti",
                    )
                    .drop("_file", "_pos")
                )
            total = raw.count()  # live rows only: position-deleted rows are
            kept = raw.filter(f"NOT ({predicate})")  # not "purged", just gone
            n_kept = kept.count()
            if n_kept == total:
                continue  # no matching rows; file (and its linkage) untouched
            rows_purged += total - n_kept
            if n_kept == 0:
                rewritten[f] = None
                continue
            dst = os.path.join(
                os.path.dirname(abs_path), f"purged-{_uuid.uuid4().hex[:12]}.parquet"
            )
            write_single_parquet(kept, dst)
            rel = self._rel(repo, dst)
            rewritten[f] = rel
            fs = _footer_stats(dst)
            if fs:
                new_stats[rel] = fs
        if not rewritten:
            return {"files_rewritten": 0, "rows_purged": 0, "versions_rewritten": 0}
        n_versions = 0
        for v, m in sorted(versions.items()):
            if not any(f in rewritten for f in m.files):
                continue
            files = []
            for f in m.files:
                if f not in rewritten:
                    files.append(f)
                    continue
                new = rewritten[f]
                if new is None:
                    m.position_deletes.pop(f, None)
                    continue  # file fully purged away
                files.append(new)
                # equality_deletes REMAP (not drop): value-based matching
                # stays valid against the rewritten file's rows, unlike the
                # ordinal-based position deletes folded in above. The
                # struct-member write layout also follows the file — the
                # raw rewrite preserves on-disk member names.
                for attr in ("file_stats", "file_columns", "file_types",
                             "file_partitions", "delete_preds",
                             "equality_deletes", "file_struct_columns"):
                    d = getattr(m, attr)
                    if f in d:
                        d[new] = d.pop(f)
                # position deletes were FOLDED INTO the rewrite (uniform-set
                # guard above), so the linkage is dropped, not remapped —
                # remapped ordinals would be stale against the new file
                m.position_deletes.pop(f, None)
                if new in new_stats:
                    m.file_stats[new] = new_stats[new]
            m.files = files
            path = ops._version_path(v)
            # the rewrite is authoritative and UNSHARDED (purge touches the
            # whole version anyway): publish plain, then retire the legacy
            # gz twin and any now-stale shard parts of this version
            ops.store.put(path, m.to_json())
            ops.store.delete(path + ".gz")
            for name in ops.store.list_dir(ops.meta_dir):
                if name.startswith(f"v{v}-") and ".part" in name and name.endswith(".json"):
                    ops.store.delete(os.path.join(ops.meta_dir, name))
            n_versions += 1
        # old files: delete only what no live manifest anywhere still needs
        still_needed = self.referenced_files(repo)
        for f in rewritten:
            if f not in still_needed:
                try:
                    os.remove(os.path.join(repo_dir, f))
                except FileNotFoundError:
                    pass
        return {
            "files_rewritten": sum(1 for v in rewritten.values() if v),
            "rows_purged": int(rows_purged),
            "versions_rewritten": n_versions,
        }

    def expire_versions(
        self,
        identifier: str | list[str],
        keep_last: int = 1,
        older_than: float | None = None,
    ) -> list[int]:
        """Snapshot expiry (Iceberg expire_snapshots): drop manifest versions
        older than the newest `keep_last` — or, with ``older_than`` (epoch
        seconds, the Iceberg ``older_than => TIMESTAMP`` form), versions
        whose commit instant is at or before the cutoff (the head version
        never expires regardless of age). Returns the expired version
        numbers. Versions PINNED BY A TAG are exempt — a tag is a promise
        that its snapshot stays readable, so expiry skips it (Iceberg's ref
        retention contract); deleting the tag releases the pin for the next
        expiry. Data files are NOT touched here — files may be shared by
        other branches; reclamation is garbage_collect's job (reachability
        over every branch, like lakeFS GC)."""
        ops, levels = self._ops(identifier)
        m = ops.current()
        if m is None:
            raise NoSuchTableError(".".join(levels))
        state = self._load_branches(levels[0])
        branch = levels[1]
        rel = os.path.join(*levels[2:])
        pinned = {
            info["tables"][rel]
            for info in state.get("tags", {}).values()
            if info.get("branch") == branch and rel in info.get("tables", {})
        }
        if older_than is not None:
            candidates = []
            for v in range(1, m.version):  # the head never expires by age
                d = ops.peek_version(v)
                if d is None:
                    continue  # already expired
                # same legacy-manifest default as TableManifest.from_dict
                if d.get("committed_at", 0.0) <= older_than:
                    candidates.append(v)
            expired = [v for v in candidates if v not in pinned]
        else:
            expired = [
                v for v in range(1, m.version - keep_last + 1) if v not in pinned
            ]
        for v in expired:
            # list object (both codecs) + the version's shard parts,
            # including orphans from lost commit races of that version
            ops.delete_version_artifacts(v)
        return expired

    def referenced_files(self, repo: str) -> set[str]:
        """Every repo-relative data path reachable from ANY live manifest
        version on ANY branch — the GC root set."""
        refs: set[str] = set()
        repo_dir = self._repo_dir(repo)
        for branch in sorted(os.listdir(repo_dir)):
            bdir = os.path.join(repo_dir, branch)
            if not os.path.isdir(bdir):
                continue
            for dirpath, dirnames, _ in os.walk(bdir):
                ops = TableOperations(dirpath)
                if ops.is_table_dir():
                    for name in os.listdir(ops.meta_dir):
                        # Both codecs are live manifests (the gz probe in
                        # _read_manifest_file makes v<N>.manifest.json.gz
                        # fully readable) — missing either here would let GC
                        # delete data a live snapshot still references.
                        vm = _VERSION_RE.match(name)
                        if vm:
                            m = ops.load_version(int(vm.group(1)))
                            if m is not None:
                                refs.update(m.files)
                                # position-delete files are data too: a live
                                # snapshot's scan reads them, so GC must not
                                # reclaim them while any version lists them
                                for dfs in m.position_deletes.values():
                                    refs.update(dfs)
                                for entries in m.equality_deletes.values():
                                    refs.update(d for d, _k in entries)
                    dirnames.clear()
        return refs

    def garbage_collect(self, repo: str, dry_run: bool = False) -> list[str]:
        """Remove data files no live manifest on any branch references
        (orphans from expired snapshots and dropped branches). Zero-copy
        sharing makes per-branch deletion unsafe — reachability must be
        computed repo-wide, which is why drop_table/expire never delete
        data inline."""
        refs = self.referenced_files(repo)
        repo_dir = self._repo_dir(repo)
        orphans = []
        for dirpath, _, filenames in os.walk(repo_dir):
            # any directory under a table's data/ tree counts — identity-
            # partitioned tables nest hive dirs (data/col=value/...) whose
            # orphans must be collectable too
            rel_parts = os.path.relpath(dirpath, repo_dir).split(os.sep)
            if "data" not in rel_parts:
                continue
            for name in filenames:
                if not name.endswith(".parquet"):
                    continue
                rel = self._rel(repo, os.path.join(dirpath, name))
                if rel not in refs:
                    orphans.append(rel)
                    if not dry_run:
                        os.remove(os.path.join(repo_dir, rel))
        return sorted(orphans)

    # ------------------------------------------------------------- branches

    def _branches_path(self, repo: str) -> str:
        return os.path.join(self._repo_dir(repo), BRANCHES_FILE)

    def _load_branches(self, repo: str) -> dict:
        try:
            with open(self._branches_path(repo)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"branches": {}, "commits": []}

    def _save_branches(self, repo: str, state: dict) -> None:
        tmp = self._branches_path(repo) + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f, indent=1, sort_keys=True)
        os.replace(tmp, self._branches_path(repo))

    def create_repository(self, repo: str, default_branch: str = "main") -> None:
        os.makedirs(os.path.join(self._repo_dir(repo), default_branch), exist_ok=True)
        state = self._load_branches(repo)
        state["branches"].setdefault(default_branch, {"parent": None, "base": {}})
        self._save_branches(repo, state)

    def _branch_tables(self, repo: str, branch: str) -> dict[str, int]:
        """{table path relative to branch dir: current version} for every
        table under the branch."""
        branch_dir = os.path.join(self._repo_dir(repo), branch)
        out: dict[str, int] = {}
        for dirpath, dirnames, _ in os.walk(branch_dir):
            ops = TableOperations(dirpath)
            if ops.is_table_dir():
                m = ops.current()
                if m:
                    out[os.path.relpath(dirpath, branch_dir)] = m.version
                dirnames.clear()  # don't descend into table internals
        return out

    def create_branch(self, repo: str, branch: str, from_branch: str) -> None:
        """Zero-copy branch: replicate the namespace/metadata tree (small
        JSON only — ns markers + manifest chains); data files stay where they
        are and remain referenced by repo-relative path
        (test_iceberg.py:14 repo.branch(...).create(main))."""
        src_dir = os.path.join(self._repo_dir(repo), from_branch)
        dst_dir = os.path.join(self._repo_dir(repo), branch)
        if not os.path.isdir(src_dir):
            raise NoSuchNamespaceError(f"{repo}.{from_branch}")
        if os.path.isdir(dst_dir):
            raise NamespaceAlreadyExistsError(f"{repo}.{branch}")
        for dirpath, dirnames, filenames in os.walk(src_dir):
            rel = os.path.relpath(dirpath, src_dir)
            tgt = dst_dir if rel == "." else os.path.join(dst_dir, rel)
            os.makedirs(tgt, exist_ok=True)
            if NS_METADATA in filenames:
                shutil.copy2(os.path.join(dirpath, NS_METADATA), os.path.join(tgt, NS_METADATA))
            ops = TableOperations(dirpath)
            if ops.is_table_dir():
                shutil.copytree(
                    os.path.join(dirpath, METADATA_DIR),
                    os.path.join(tgt, METADATA_DIR),
                )
                os.makedirs(os.path.join(tgt, "data"), exist_ok=True)
                dirnames.clear()
        state = self._load_branches(repo)
        state["branches"][branch] = {
            "parent": from_branch,
            "base": self._branch_tables(repo, from_branch),
        }
        self._save_branches(repo, state)

    def delete_branch(self, repo: str, branch: str) -> None:
        """Delete a branch: remove its directory tree and registration. Data
        files under the branch may still be referenced by OTHER branches'
        manifests (zero-copy sharing) — they are left in place; space comes
        back via garbage_collect's repo-wide reachability pass. The default
        branch cannot be deleted."""
        state = self._load_branches(repo)
        if branch not in state["branches"]:
            raise NoSuchNamespaceError(f"{repo}.{branch}")
        if state["branches"][branch].get("parent") is None:
            raise UnsupportedOperationError(f"cannot delete default branch {branch!r}")
        bdir = os.path.join(self._repo_dir(repo), branch)
        # 1) drop this branch's manifests (its references disappear) ...
        for dirpath, dirnames, _ in os.walk(bdir):
            ops = TableOperations(dirpath)
            if ops.is_table_dir():
                shutil.rmtree(ops.meta_dir)
                dirnames[:] = [d for d in dirnames if d != METADATA_DIR]
        # 2) ... then delete only data files under this prefix that no OTHER
        # branch's live manifest still reaches (zero-copy sharing).
        still_needed = self.referenced_files(repo)
        shared = False
        for dirpath, _, filenames in os.walk(bdir):
            for name in filenames:
                if not name.endswith(".parquet"):
                    continue
                p = os.path.join(dirpath, name)
                if self._rel(repo, p) in still_needed:
                    shared = True
                else:
                    os.remove(p)
        if not shared:
            shutil.rmtree(bdir, ignore_errors=True)
        del state["branches"][branch]
        state["commits"] = [c for c in state["commits"] if c["branch"] != branch]
        self._save_branches(repo, state)

    def create_tag(self, repo: str, tag: str, branch: str) -> None:
        """Immutable named ref (lakeFS tags / Iceberg tag refs): pin every
        table on ``branch`` at its CURRENT manifest version under the tag
        name. Metadata-only — the tag is a {table: version} map in the repo's
        ref state; data and manifests stay where they are, and later commits
        on the branch never move the tag. Scans resolve ``scan_tag`` through
        the pinned versions, and expire_versions/GC must keep tagged
        versions alive (referenced_files walks every live manifest, which
        includes the tagged ones as long as expire keeps them — the retention
        contract is the caller's, as in Iceberg's ref retention)."""
        state = self._load_branches(repo)
        if branch not in state["branches"]:
            raise NoSuchNamespaceError(f"{repo}.{branch}")
        tags = state.setdefault("tags", {})
        if tag in tags:
            raise NamespaceAlreadyExistsError(f"tag {repo}@{tag} already exists")
        tags[tag] = {"branch": branch, "tables": self._branch_tables(repo, branch)}
        self._save_branches(repo, state)

    def delete_tag(self, repo: str, tag: str) -> None:
        state = self._load_branches(repo)
        if tag not in state.get("tags", {}):
            raise NoSuchNamespaceError(f"tag {repo}@{tag}")
        del state["tags"][tag]
        self._save_branches(repo, state)

    def list_tags(self, repo: str) -> list[str]:
        return sorted(self._load_branches(repo).get("tags", {}))

    def scan_tag(self, repo: str, tag: str, table_path: str) -> DataFrame:
        """Read a table at a tag's pinned snapshot. ``table_path`` is the
        dotted path below the branch (``db.table``)."""
        state = self._load_branches(repo)
        info = state.get("tags", {}).get(tag)
        if info is None:
            raise NoSuchNamespaceError(f"tag {repo}@{tag}")
        rel = os.path.join(*table_path.split("."))
        version = info["tables"].get(rel)
        if version is None:
            raise NoSuchTableError(f"{table_path} is not captured by tag {repo}@{tag}")
        return self.scan(
            [repo, info["branch"], *table_path.split(".")], version=version
        )

    def refs(self, repo: str) -> DataFrame:
        """Refs metadata table (Iceberg's ``<table>.refs`` / ``lakectl
        branch list`` + ``tag list`` in one result): one row per branch and
        per tag of the repo with its kind, the tag's source branch, the
        number of tables visible at the ref, and (branches only) the number
        of recorded commits. Metadata-only — one read of the repo ref
        state + per-branch directory listings; no data IO at any scale."""
        state = self._load_branches(repo)
        rows = []
        for b in sorted(state.get("branches", {})):
            rows.append(
                (
                    "branch",
                    b,
                    None,
                    len(self._branch_tables(repo, b)),
                    sum(1 for c in state.get("commits", []) if c.get("branch") == b),
                )
            )
        for tname in sorted(state.get("tags", {})):
            info = state["tags"][tname]
            rows.append(
                ("tag", tname, info.get("branch"), len(info.get("tables", {})), None)
            )
        return local_df(self.spark, 
            rows,
            "kind string, name string, target string, n_tables int, n_commits int",
        )

    def commit_branch(self, repo: str, branch: str, message: str) -> str:
        """Record the branch's current table versions as a commit (the
        reference delegates this to the lakeFS client — test_iceberg.py:31)."""
        state = self._load_branches(repo)
        cid = _uuid.uuid4().hex[:16]
        state["commits"].append(
            {"id": cid, "branch": branch, "message": message,
             "tables": self._branch_tables(repo, branch)}
        )
        self._save_branches(repo, state)
        return cid

    def _last_commit(self, state: dict, branch: str) -> dict[str, int] | None:
        for c in reversed(state["commits"]):
            if c["branch"] == branch:
                return c["tables"]
        return None

    def cherry_pick(self, repo: str, commit_id: str, dst_branch: str) -> str:
        """Apply ONE commit's table delta onto another branch (the lakeFS
        ``cherry-pick`` command: replay a single commit's changes on a
        different ref, not the whole branch history like ``merge``).

        The commit's delta is computed against its parent — the previous
        commit on the same branch, or the branch's recorded base for a
        first commit. For every table the commit changed, ``dst_branch``
        must still sit at the pre-image version (0 = absent); any
        divergence is a MergeConflictError BEFORE anything moves (same
        two-phase all-or-nothing contract as merge). Application is the
        merge machinery's metadata fast-forward: copy the missing manifest
        versions, zero data movement. A new commit recording the result is
        appended to dst's history and its id returned."""
        state = self._load_branches(repo)
        commit = next((c for c in state["commits"] if c["id"] == commit_id), None)
        if commit is None:
            raise NoSuchNamespaceError(f"no commit {commit_id!r} in {repo}")
        if dst_branch not in state["branches"]:
            raise NoSuchNamespaceError(f"{repo}.{dst_branch}")
        src_branch = commit["branch"]
        # parent snapshot = previous commit on the commit's own branch,
        # falling back to the branch's base captured at creation
        parent: dict[str, int] | None = None
        for c in state["commits"]:
            if c["id"] == commit_id:
                break
            if c["branch"] == src_branch:
                parent = c["tables"]
        if parent is None:
            parent = state["branches"][src_branch].get("base", {})
        post = commit["tables"]
        delta = {
            tbl: (parent.get(tbl, 0), post.get(tbl, 0))
            for tbl in set(parent) | set(post)
            if parent.get(tbl, 0) != post.get(tbl, 0)
        }
        dst_tables = self._branch_tables(repo, dst_branch)
        # Phase 1: every changed table must be at the commit's pre-image.
        for tbl, (pre_v, post_v) in sorted(delta.items()):
            dst_v = dst_tables.get(tbl, 0)
            if dst_v != pre_v:
                what = f"v{dst_v}" if dst_v else "absent"
                raise MergeConflictError(
                    f"{tbl}: {dst_branch} is at {what}, but commit "
                    f"{commit_id} expects its pre-image v{pre_v}"
                )
        # Phase 2: apply (fast-forward manifests / propagate deletions).
        src_dir = os.path.join(self._repo_dir(repo), src_branch)
        dst_dir = os.path.join(self._repo_dir(repo), dst_branch)
        for tbl, (pre_v, post_v) in sorted(delta.items()):
            if post_v == 0:
                dst_tbl_dir = os.path.join(dst_dir, tbl)
                meta = os.path.join(dst_tbl_dir, METADATA_DIR)
                if os.path.isdir(meta):
                    shutil.rmtree(meta)
                still_needed = self.referenced_files(repo)
                for dirpath, _, filenames in os.walk(dst_tbl_dir):
                    for name in filenames:
                        p = os.path.join(dirpath, name)
                        if name.endswith(".parquet") and self._rel(repo, p) not in still_needed:
                            os.remove(p)
                continue
            src_meta = os.path.join(src_dir, tbl, METADATA_DIR)
            dst_meta = os.path.join(dst_dir, tbl, METADATA_DIR)
            os.makedirs(dst_meta, exist_ok=True)
            os.makedirs(os.path.join(dst_dir, tbl, "data"), exist_ok=True)
            parts = tbl.split(os.sep)[:-1]
            for i in range(1, len(parts) + 1):
                src_marker = os.path.join(src_dir, *parts[:i], NS_METADATA)
                dst_marker = os.path.join(dst_dir, *parts[:i], NS_METADATA)
                if os.path.exists(src_marker) and not os.path.exists(dst_marker):
                    shutil.copy2(src_marker, dst_marker)
            for v in range(1, post_v + 1):
                for name in (f"v{v}.manifest.json", f"v{v}.manifest.json.gz"):
                    s, d = os.path.join(src_meta, name), os.path.join(dst_meta, name)
                    if os.path.exists(s) and not os.path.exists(d):
                        shutil.copy2(s, d)
            TableOperations(os.path.join(dst_dir, tbl))._write_version_hint(post_v)
        cid = _uuid.uuid4().hex[:16]
        state["commits"].append(
            {"id": cid, "branch": dst_branch,
             "message": f"cherry-pick {commit_id} from {src_branch}",
             "tables": self._branch_tables(repo, dst_branch)}
        )
        self._save_branches(repo, state)
        return cid

    def revert(self, repo: str, commit_id: str) -> str:
        """Apply the INVERSE of one commit on its own branch (the lakeFS
        ``revert`` command — undo a specific commit while keeping history;
        cherry-pick's mirror image). The commit's delta is computed against
        its parent exactly as cherry_pick does; phase 1 requires every
        changed table's head to still sit at the commit's POST-image (a
        later change to the same table is a conflict, reported before
        anything moves); phase 2 rolls each table back to the commit's
        pre-image via rollback_to_version — one metadata commit per table,
        history stays linear, time travel still reaches the undone state.
        Reverting a commit that DELETED a table is refused (its manifest
        chain is gone from this branch — restore it by cherry-picking from
        a branch that still has it). Returns the new commit id."""
        state = self._load_branches(repo)
        commit = next((c for c in state["commits"] if c["id"] == commit_id), None)
        if commit is None:
            raise NoSuchNamespaceError(f"no commit {commit_id!r} in {repo}")
        branch = commit["branch"]
        parent: dict[str, int] | None = None
        for c in state["commits"]:
            if c["id"] == commit_id:
                break
            if c["branch"] == branch:
                parent = c["tables"]
        if parent is None:
            parent = state["branches"][branch].get("base", {})
        post = commit["tables"]
        delta = {
            tbl: (parent.get(tbl, 0), post.get(tbl, 0))
            for tbl in set(parent) | set(post)
            if parent.get(tbl, 0) != post.get(tbl, 0)
        }
        cur_tables = self._branch_tables(repo, branch)
        # Phase 1: validate everything before anything moves.
        for tbl, (pre_v, post_v) in sorted(delta.items()):
            if post_v == 0:
                raise UnsupportedOperationError(
                    f"cannot revert commit {commit_id}: it deleted {tbl!r} "
                    "and this branch no longer holds its manifests"
                )
            cur_v = cur_tables.get(tbl, 0)
            if cur_v != post_v:
                what = f"v{cur_v}" if cur_v else "absent"
                raise MergeConflictError(
                    f"{tbl}: {branch} is at {what}, but commit {commit_id} "
                    f"left it at v{post_v} — a later change conflicts with "
                    "the revert"
                )
        # Phase 2: inverse application.
        for tbl, (pre_v, post_v) in sorted(delta.items()):
            ident = [repo, branch] + tbl.split(os.sep)
            if pre_v == 0:
                # the commit CREATED the table → the inverse drops it
                # (manifests only; data files stay until GC reachability
                # clears them, like any drop on a branch)
                meta = os.path.join(self._repo_dir(repo), branch, tbl, METADATA_DIR)
                if os.path.isdir(meta):
                    shutil.rmtree(meta)
            else:
                self.rollback_to_version(ident, pre_v)
        cid = _uuid.uuid4().hex[:16]
        state = self._load_branches(repo)  # reload: rollbacks changed nothing here
        state["commits"].append(
            {"id": cid, "branch": branch,
             "message": f"revert {commit_id}",
             "tables": self._branch_tables(repo, branch)}
        )
        self._save_branches(repo, state)
        return cid

    def commit_log(self, repo: str, branch: str | None = None) -> DataFrame:
        """Commit log listing (``lakectl log``): one row per recorded commit,
        oldest first, optionally filtered to one branch — sequence number,
        branch, message, and the number of tables in the commit's snapshot.
        Metadata-only (one read of the repo ref state); commit ids are
        exposed through the raw state for tooling but kept out of this
        result shape (they are random, so results stay replay-comparable)."""
        state = self._load_branches(repo)
        rows = [
            (i + 1, c["branch"], c["message"], len(c.get("tables", {})))
            for i, c in enumerate(state.get("commits", []))
            if branch is None or c["branch"] == branch
        ]
        return local_df(self.spark, 
            rows, "seq int, branch string, message string, n_tables int"
        )

    def merge(self, repo: str, src_branch: str, dst_branch: str) -> None:
        """Three-way merge of committed state, per table path over
        base ∪ src-current (so src-side deletions are seen), with version 0
        meaning "table absent":

        - src unchanged since its base         → skip
        - dst moved off the base (incl. absent when the base had the table,
          i.e. deleted-at-dst, or independently created) → MergeConflictError
          (lakeFS delete-vs-modify semantics — a dst deletion is a change,
          never silently recreated)
        - src deleted the table, dst at base   → propagate the deletion
        - else fast-forward: copy src's missing manifest versions into dst
          (metadata only, zero data movement)

        Requires src's changes to be committed first (merge moves *committed*
        state — test_iceberg.py:31-32 commits then merges).

        The merge is TWO-PHASE for multi-table atomicity: every table is
        conflict-checked against the merge base FIRST, and only if all pass
        does any table move — a conflict on the last table can no longer
        leave earlier tables already published (the cross-table consistency
        a multi-table transaction needs; single-table commits stay governed
        by the conditional-PUT protocol).
        """
        state = self._load_branches(repo)
        if src_branch not in state["branches"]:
            raise NoSuchNamespaceError(f"{repo}.{src_branch}")
        current = self._branch_tables(repo, src_branch)
        committed = self._last_commit(state, src_branch)
        if committed is None or committed != current:
            raise MergeConflictError(
                f"branch {src_branch!r} has uncommitted changes — commit before merging"
            )
        base = state["branches"][src_branch].get("base", {})
        dst_tables = self._branch_tables(repo, dst_branch)
        src_dir = os.path.join(self._repo_dir(repo), src_branch)
        dst_dir = os.path.join(self._repo_dir(repo), dst_branch)

        # Phase 1: validate EVERY table before anything moves.
        for tbl in sorted(set(base) | set(current)):
            base_v = base.get(tbl, 0)
            src_v = current.get(tbl, 0)
            dst_v = dst_tables.get(tbl, 0)
            if src_v == base_v:
                continue
            if dst_v != base_v:
                what_src = f"v{src_v}" if src_v else "deleted"
                what_dst = f"v{dst_v}" if dst_v else "deleted"
                raise MergeConflictError(
                    f"{tbl}: changed on both {src_branch} ({what_src}) and "
                    f"{dst_branch} ({what_dst}) since base v{base_v}"
                )

        # Phase 2: apply (pure fast-forwards / deletions — conflict-free).
        for tbl in sorted(set(base) | set(current)):
            base_v = base.get(tbl, 0)
            src_v = current.get(tbl, 0)   # 0 = deleted on src since base
            dst_v = dst_tables.get(tbl, 0)  # 0 = absent on dst
            if src_v == base_v:
                continue  # unchanged on src — dst's state wins untouched
            if src_v == 0:
                # deleted on src, dst still at base → propagate the deletion:
                # drop dst's manifests; shared data files stay for GC's
                # repo-wide reachability pass (same policy as delete_branch)
                dst_tbl_dir = os.path.join(dst_dir, tbl)
                meta = os.path.join(dst_tbl_dir, METADATA_DIR)
                if os.path.isdir(meta):
                    shutil.rmtree(meta)
                still_needed = self.referenced_files(repo)
                for dirpath, _, filenames in os.walk(dst_tbl_dir):
                    for name in filenames:
                        p = os.path.join(dirpath, name)
                        if name.endswith(".parquet") and self._rel(repo, p) not in still_needed:
                            os.remove(p)
                continue
            src_meta = os.path.join(src_dir, tbl, METADATA_DIR)
            dst_meta = os.path.join(dst_dir, tbl, METADATA_DIR)
            os.makedirs(dst_meta, exist_ok=True)
            os.makedirs(os.path.join(dst_dir, tbl, "data"), exist_ok=True)
            # carry namespace markers for path components created by this
            # merge (an object-level merge would move them the same way)
            parts = tbl.split(os.sep)[:-1]
            for i in range(1, len(parts) + 1):
                src_marker = os.path.join(src_dir, *parts[:i], NS_METADATA)
                dst_marker = os.path.join(dst_dir, *parts[:i], NS_METADATA)
                if os.path.exists(src_marker) and not os.path.exists(dst_marker):
                    shutil.copy2(src_marker, dst_marker)
            for v in range(1, src_v + 1):
                # copy whichever codec variant the source holds
                for name in (f"v{v}.manifest.json", f"v{v}.manifest.json.gz"):
                    s, d = os.path.join(src_meta, name), os.path.join(dst_meta, name)
                    if os.path.exists(s) and not os.path.exists(d):
                        shutil.copy2(s, d)
            TableOperations(os.path.join(dst_dir, tbl))._write_version_hint(src_v)
        # advance src's merge base to what both sides now agree on
        state["branches"][src_branch]["base"] = self._branch_tables(repo, src_branch)
        self._save_branches(repo, state)

    def diff_equal(self, id_a: str | list[str], id_b: str | list[str]) -> bool:
        """Branch diff oracle: schema equality + order-insensitive row-set
        equality via a tagged bag aggregate (the reference's own oracle is
        set(collect()) equality — test_iceberg.py:17-18). ONE action — a
        group's +1/−1 tag sum is 0 iff both sides carry it with the same
        multiplicity, exactly the two-sided exceptAll emptiness it
        replaces, at one exchange instead of two anti-join actions
        (§1.2/§2.4)."""
        a, b = self.scan(id_a), self.scan(id_b)
        if [f.simpleString() for f in a.schema.fields] != [f.simpleString() for f in b.schema.fields]:
            return False
        cols = a.columns
        s = "_s"
        while s in cols:
            s += "_"
        tagged = a.withColumn(s, F.lit(1)).unionByName(
            b.select(*cols).withColumn(s, F.lit(-1))
        )
        return (
            tagged.groupBy(*cols)
            .agg(F.sum(s).alias(s))
            .filter(F.col(s) != 0)
            .isEmpty()
        )
