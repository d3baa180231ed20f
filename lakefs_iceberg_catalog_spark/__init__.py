"""PySpark-native analytics engine with the capabilities of
treeverse/lakefs-iceberg-catalog (reference at /root/reference, Apache-2.0).

The reference is a thin Iceberg catalog plugin that makes stock Spark SQL the
query engine over branch-versioned tables (SURVEY.md §0).  This package
re-expresses that surface Spark-first:

- ``operators/``  — the relational + LLM-pipeline query library (Ring A/C).
  Every operator is declared with the DataFrame/SQL API so Catalyst picks the
  physical plan (pushdown, broadcast, AQE); Python UDFs only where built-ins
  genuinely cannot express the semantics.
- ``catalog/``    — the branch-versioned table layer (Ring B): namespace CRUD,
  manifest version chain, lock-free optimistic commit (create-if-absent),
  zero-copy branch / commit / merge / diff.  Semantics mirror
  ``LakeFSCatalog.java`` / ``LakeFSTableOperations.java`` without copying them.
- ``streaming/``  — Structured Streaming windows / watermark / dedup /
  stateful operators over the ``events`` table.

Registry: importing :mod:`lakefs_iceberg_catalog_spark.registry` and calling
``load_all()`` populates ``QUERIES`` / ``ORACLES`` consumed by
``__spark_entry__.py``.

Importing the package installs :mod:`.zipstamp` on Python < 3.13, so a
Python worker that unpickles one of its executor functions stops
re-reading every zip archive on ``sys.path`` at each task.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    from . import zipstamp

    zipstamp.install()
