"""zipstamp: a zip importer re-reads its archive on
``importlib.invalidate_caches()`` only when the archive changed, and a
Python worker that ran one task of this package re-reads nothing on the
next."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="zipstamp installs below 3.13 only"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "stamped.zip")
    first, second = f"zs_first_{tmp_path.name}", f"zs_second_{tmp_path.name}"
    _write_zip(archive, {first: "VALUE = 1\n"})
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(first).VALUE == 1

    reads: list[str] = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda a: reads.append(a) or real(a)
    )
    for _ in range(5):
        importlib.invalidate_caches()
    assert archive not in reads

    # rewritten in place (same inode) with one more module
    _write_zip(archive, {first: "VALUE = 1\n", second: "VALUE = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module(second).VALUE == 2
    importlib.invalidate_caches()
    assert reads.count(archive) == 1


def test_worker_second_task_rereads_nothing(spark):
    """One single-task mapInPandas job, repeated until a Python worker
    runs it twice: between its two tasks that worker read no zip
    directory, and its ``setup_spark_files`` skipped the re-reads."""

    def probe(batches):
        import os

        import pandas as pd

        from lakefs_iceberg_catalog_spark import zipstamp

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "reads": [zipstamp.stats["reads"]],
                "skips": [zipstamp.stats["skips"]],
            }
        )

    schema = "pid long, reads long, skips long"
    seen: dict[int, tuple[int, int]] = {}
    for _ in range(16):
        row = spark.range(1, numPartitions=1).mapInPandas(probe, schema).collect()[0]
        if row["pid"] in seen:
            reads, skips = seen[row["pid"]]
            assert row["reads"] == reads
            assert row["skips"] > skips
            return
        seen[row["pid"]] = (row["reads"], row["skips"])
    pytest.fail(f"no Python worker ran two of 16 tasks: {sorted(seen)}")


def test_delete_file_writer_patches_the_worker_that_unpickles_it(tmp_path):
    """The Iceberg delete-file writer is an executor closure over plain
    values; it calls module-level helpers, so unpickling it in a fresh
    interpreter imports the package and patches ``zipimport``."""
    import os
    import subprocess

    from pyspark import cloudpickle

    from lakefs_iceberg_catalog_spark.catalog.iceberg_format import (
        _delete_file_writer,
    )

    blob = tmp_path / "write_group.pkl"
    blob.write_bytes(cloudpickle.dumps(_delete_file_writer({}, str(tmp_path))))
    check = (
        "import pickle, sys, zipimport\n"
        f"pickle.loads(open({str(blob)!r}, 'rb').read())\n"
        "print(zipimport.zipimporter.invalidate_caches.__module__)\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", check],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": root},
        check=True,
    )
    assert out.stdout.strip() == "lakefs_iceberg_catalog_spark.zipstamp"
