"""Stop Python workers from re-reading every zip archive on each task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
CPython 3.13, ``zipimporter.invalidate_caches`` eagerly re-reads its
archive's central directory, so every task re-read pyspark.zip (1,328
entries), py4j's zip and this package's shipped zip once per importer,
even a 4-row ``mapInPandas``. CPython 3.13 made the re-read lazy. On the
perfbench ``table_formats`` workload the Python workers' CPU fell from
11.9 s to 3.4 s with this module installed.

``install`` wraps ``zipimporter.invalidate_caches`` so that an importer
re-reads its archive only when the file changed since the directory was
last read: the ``(st_ino, st_size, st_mtime_ns)`` stamp taken just before
that read must still match. A replaced or rewritten archive is re-read as
before. The one change it does not see is a rewrite in place to the same
size within the filesystem's timestamp granularity, the same limit
CPython's own mtime-and-size checks of cached bytecode have.

The package ``__init__`` installs it on Python < 3.13, so every worker
that unpickles an executor function of this package is patched from its
next task on. An executor closure is pickled by value, and unpickling it
imports the package only if it references a package global, so executor
closures call a module-level helper of the package (see
``catalog/iceberg_format._delete_file_writer``). ``stats`` counts the
directory reads and skipped re-reads of this process.
"""

from __future__ import annotations

import os
import sys
import zipimport

_INVALIDATE = zipimport.zipimporter.invalidate_caches
_READ_DIRECTORY = zipimport._read_directory
# archive path -> (its stamp just before the last read, the dict read)
_READ: dict[str, tuple[tuple[int, int, int], dict]] = {}
stats = {"reads": 0, "skips": 0}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _read_directory(archive: str) -> dict:
    stamp = _stamp(archive)
    files = _READ_DIRECTORY(archive)
    stats["reads"] += 1
    if stamp is not None:
        _READ[archive] = (stamp, files)
    return files


def _invalidate_caches(self) -> None:
    """Re-read the archive only if its stamp moved since the last read."""
    files = zipimport._zip_directory_cache.get(self.archive)
    seen = _READ.get(self.archive)
    if seen is not None and seen[1] is files and seen[0] == _stamp(self.archive):
        self._files = files
        stats["skips"] += 1
        return
    _INVALIDATE(self)


def install() -> None:
    """Patch ``zipimport`` in this process; idempotent.

    On a Spark worker, ``setup_spark_files`` re-read every archive just
    before this task's function was unpickled, so the cached directories
    are current and are stamped now. Elsewhere an archive read before the
    install is re-read once more, at its next invalidation."""
    if zipimport.zipimporter.invalidate_caches is _invalidate_caches:
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    files_mod = sys.modules.get("pyspark.core.files")
    if files_mod is not None and getattr(
        files_mod.SparkFiles, "_is_running_on_worker", False
    ):
        for archive, files in zipimport._zip_directory_cache.items():
            stamp = _stamp(archive)
            if stamp is not None:
                _READ[archive] = (stamp, files)
