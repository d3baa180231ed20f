"""Workloads that run registry operators: ``table_formats`` and
``corpus_curation``.

One op is ``queries()[key](spark, data_dir)`` (the *build* phase: fixture
commits plus plan construction) followed by ``toPandas()`` (the *action*
phase). Keys are reached only through ``__spark_entry__.queries()``, which
ships the package to the Python workers and releases the previous op's
scoped caches before each call. A round runs every key once, in the fixed
order below; the seed changes only the generated data.
"""

from __future__ import annotations

import functools
import hashlib
import importlib

# Format-family keys: VersionedCatalog (VC), Delta and Iceberg commit paths.
# Each key's fixture builds a small table through its writer's public API,
# so almost all wall time is driver-side commits plus small write jobs.
TABLE_FORMATS = [
    "dml_merge_upsert",                   # VC copy-on-write MERGE
    "meta_snapshots",                     # VC metadata read
    "dml_delta_merge_column_mapping_id",  # Delta CoW MERGE, column mapping
    "sink_delta_shallow_clone",           # Delta clone + DV marking
    "dml_iceberg_update_mor",             # Iceberg MoR UPDATE
    "maint_iceberg_rewrite_deletes",      # Iceberg delete-file maintenance
]

# Action-dominated keys over documents: shuffles, windows and (phash
# dedup) Arrow-batched mapInPandas in the Python workers, with one fixture
# job each.
CORPUS_CURATION = [
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "text_tfidf_top_terms",
    "pipeline_training_corpus",
    "multimodal_phash_dedup",
]

KEYS = {"table_formats": TABLE_FORMATS, "corpus_curation": CORPUS_CURATION}


def digest(df) -> str:
    """Order-insensitive digest: columns sorted by name, timestamps at
    microseconds, arrays as lists, rows stringified and sorted (the
    normalisation the project's DuckDB oracle comparison uses)."""
    import numpy as np
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: v.tolist() if isinstance(v, np.ndarray) else v)
    rows = sorted(str(tuple(r)) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256(("|".join(df.columns) + "\n" + "\n".join(rows)).encode()).hexdigest()


def prepare(run) -> dict[str, list]:
    """The workload's keys, each with an empty list of (op id, result)."""
    return {key: [] for key in KEYS[run.args.workload]}


def warm(run, results: dict[str, list]) -> None:
    """One untimed execution of every key (codegen, Python-worker spawn)."""
    for key in results:
        run.queries[key](run.spark, run.data_dir).toPandas()


def _execute(run, key: str, op_id: int):
    """One op: build (the registry callable), then action (toPandas)."""
    tr = run.tracer
    if tr.enabled:
        run.groups.enter("build", op_id)
    with tr.span("operators.build", op_id):
        df = run.queries[key](run.spark, run.data_dir)
    if tr.enabled:
        run.groups.enter("action", op_id)
    with tr.span("operators.action", op_id):
        pdf = df.toPandas()
    if tr.enabled:
        run.groups.leave()
    return pdf


def rounds(run, results: dict[str, list]) -> list[list]:
    """``run.rounds()`` rounds of (op type, callable), each running every
    key once in list order."""
    def op(key):
        def fn(op_id):
            results[key].append((op_id, _execute(run, key, op_id)))
        return fn

    return [[(key, op(key)) for key in results] for _ in range(run.rounds())]


def verify(run, results: dict[str, list]) -> dict[int, str]:
    """Check every rep of every key against its DuckDB oracle, or (keys
    without one) against the first rep's row count. Returns
    {op id: failure reason}."""
    import duckdb

    con = duckdb.connect()
    for name, path in run.tables.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    failures: dict[int, str] = {}
    for key, reps in results.items():
        if key in run.oracles:
            want = digest(con.execute(run.oracles[key]).df())
            for op_id, pdf in reps:
                if digest(pdf) != want:
                    failures[op_id] = f"{key}: result differs from the DuckDB oracle"
        elif reps:
            first = len(reps[0][1])
            for op_id, pdf in reps:
                if len(pdf) != first:
                    failures[op_id] = f"{key}: {len(pdf)} rows, first rep had {first}"
    con.close()
    return failures


# The writer classes whose public methods a traced run times.
CATALOG_CLASSES = {
    "vc": ("lakefs_iceberg_catalog_spark.catalog.catalog", "VersionedCatalog"),
    "delta": ("lakefs_iceberg_catalog_spark.catalog.delta_format", "DeltaTableWriter"),
    "iceberg": ("lakefs_iceberg_catalog_spark.catalog.iceberg_format", "IcebergTableWriter"),
}


def trace_catalog_calls(tracer) -> None:
    """Traced runs only: wrap every public method of the three writer
    classes so that each outermost call (one a registry key's fixture
    makes, not the calls a method makes on itself) becomes a span
    ``catalog.<format>.<method>``."""
    depth = [0]

    def wrap(name, fn):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            if depth[0]:
                return fn(*args, **kwargs)
            depth[0] += 1
            try:
                with tracer.span(name):
                    return fn(*args, **kwargs)
            finally:
                depth[0] -= 1
        return call

    for fmt, (module, cls) in CATALOG_CLASSES.items():
        klass = getattr(importlib.import_module(module), cls)
        for name, fn in list(vars(klass).items()):
            if not name.startswith("_") and callable(fn) and not isinstance(fn, (staticmethod, classmethod)):
                setattr(klass, name, wrap(f"catalog.{fmt}.{name}", fn))


def layer_metrics(run) -> dict:
    """Catalog calls made inside timed ops: count and seconds per format,
    and their share of the build phase."""
    spans = run.tracer.spans
    m = {}
    total = 0.0
    for fmt in CATALOG_CLASSES:
        mine = [e - s for n, s, e, parent, _ in spans if n.startswith(f"catalog.{fmt}.") and parent >= 0]
        m[f"catalog.{fmt}.calls"] = len(mine)
        m[f"catalog.{fmt}.call_s"] = sum(mine)
        total += sum(mine)
    build = run.tracer.total("operators.build")
    m["catalog.build_share"] = total / build if build else 0.0
    return m
