"""Warm-repeat codegen ratchet: a key run again in the same session
reuses its generated classes from Spark's codegen cache instead of
compiling them again.

The session's cache holds ``session.CODEGEN_CACHE_ENTRIES`` classes (Spark's
default of 100 thrashes on a repeated sequence of operators, so every warm
op recompiled everything). Each key below runs twice; the Janino compiles
of the second run must stay at or under the frozen count. A count may be
re-frozen downward; it must never rise.
"""

from __future__ import annotations

import pytest

from .conftest import SF_DIR

# compiles on the repeat run, per key
FROZEN_REPEAT_COMPILES = {
    "dml_merge_upsert": 0,  # VersionedCatalog
    "dml_delta_merge_column_mapping_id": 0,  # Delta
    # Iceberg. Spark names each whole-stage LocalLimit counter from a
    # JVM-global sequence (_limit_counter_N). bounded_rows' limit is pushed
    # through the marker union of _stage_position_delete_files, so that
    # plan's source is new on every call and compiles again.
    "dml_iceberg_update_mor": 6,
    "dedup_near_minhash": 0,  # corpus
    "text_tfidf_top_terms": 0,  # corpus
}


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_the_codegen_cache(spark):
    from lakefs_iceberg_catalog_spark.session import CODEGEN_CACHE_ENTRIES

    conf = spark.sparkContext.getConf()
    assert conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


@pytest.mark.parametrize("key", sorted(FROZEN_REPEAT_COMPILES))
def test_warm_repeat_compiles_at_most_frozen(spark, key):
    import __spark_entry__

    query = __spark_entry__.queries()[key]
    query(spark, SF_DIR).toPandas()
    before = _compiles(spark)
    query(spark, SF_DIR).toPandas()
    repeat = _compiles(spark) - before
    assert repeat <= FROZEN_REPEAT_COMPILES[key], (
        f"{key}: {repeat} classes compiled on a warm repeat, frozen at "
        f"{FROZEN_REPEAT_COMPILES[key]}"
    )
