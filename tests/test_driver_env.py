"""The grading driver imports __spark_entry__ via sys.path from an arbitrary
working directory, with a SparkSession the engine does not own. Python
workers do NOT inherit the driver process's sys.path, so any cloudpickled
executor function that references a module-level name (the multimodal
mapInPandas codecs) dies with ModuleNotFoundError unless the package source
is shipped to workers (shipping.ensure_workers_can_import via addPyFile).
This replays that exact environment in a fresh interpreter."""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = """
import sys; sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .getOrCreate())
import __spark_entry__ as e
q = e.queries()
assert q["multimodal_decode"](spark, "/root/testdata/sf0.001").count() > 0
assert q["multimodal_frame_sample"](spark, "/root/testdata/sf0.001").count() > 0
print("HOSTILE_CWD_OK")
"""


def test_materialize_ceiling_guard(spark):
    """The driver-side collect-and-recreate pattern is hard-capped: an
    oversized result raises instead of funneling through the driver, and
    the failure path itself collects only ceiling+1 rows."""
    import pytest

    from lakefs_iceberg_catalog_spark.operators.util import (
        MaterializeCeilingError,
        bounded_rows,
        materialize_bounded,
    )

    small = spark.range(10)
    assert len(bounded_rows(small, ceiling=100)) == 10
    assert materialize_bounded(spark, small, ceiling=100).count() == 10
    big = spark.range(1000)
    with pytest.raises(MaterializeCeilingError):
        bounded_rows(big, ceiling=999)


def test_worker_import_from_hostile_cwd():
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert "HOSTILE_CWD_OK" in r.stdout, (r.stdout + r.stderr)[-3000:]


def test_bench_extras_cover_full_registry():
    """VERDICT r14 #2: bench.py's extras are COMPUTED from the registry —
    every registered key is either in the frozen headline set or in
    extra_names(); no hand-rotated dark keys (the literal list this
    replaced silently skipped 118 of 335)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench

    from lakefs_iceberg_catalog_spark import registry

    registry.load_all()
    extras = bench.extra_names()
    assert set(extras) | set(bench.HEADLINE) == set(registry.QUERIES)
    assert not set(extras) & set(bench.HEADLINE)
    assert len(set(extras)) == len(extras)  # no duplicates


def test_default_driver_memory_fits_the_host(monkeypatch):
    """Without SPARK_GRAFT_DRIVER_MEM the driver heap is 48g, or half the
    host's physical memory when that is less (a 48g heap on a 15 GB host
    lets the JVM grow until the kernel kills it)."""
    import os

    from lakefs_iceberg_catalog_spark import session

    page = 4096
    sizes = {"SC_PAGE_SIZE": page}

    def sysconf(name):
        return sizes[name]

    monkeypatch.setattr(os, "sysconf", sysconf)
    sizes["SC_PHYS_PAGES"] = 15 * 1024**3 // page
    assert session.default_driver_memory() == f"{15 * 1024 // 2}m"
    sizes["SC_PHYS_PAGES"] = 256 * 1024**3 // page
    assert session.default_driver_memory() == f"{48 * 1024}m"
