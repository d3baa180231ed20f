"""Count the Spark jobs a registry key runs (fixture + action), via a job
group — the measurement tool for the fewer-jobs-per-operator lever (guide
§1.2: at sf0.1 the ~0.1-0.19 s/job floor dominates fixture-path keys, the
same fewer-larger-units lever §2.2 motivates at cluster scale).

Usage: python tools/job_count.py <key> [<key> ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakefs_iceberg_catalog_spark import registry
from lakefs_iceberg_catalog_spark.operators.util import release_scoped
from lakefs_iceberg_catalog_spark.session import get_spark


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry.load_all()
    spark = get_spark("job-count")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for i, name in enumerate(names):
        release_scoped()
        # one group per run: a key listed twice reports each run, not the sum
        gf, ga = f"jc-fixture-{name}-{i}", f"jc-action-{name}-{i}"
        t0 = time.perf_counter()
        sc.setJobGroup(gf, "fixture")
        try:
            df = registry.QUERIES[name](spark, sf_dir)
        finally:
            sc.setJobGroup(ga, "action")
        t_fixture = time.perf_counter() - t0
        n = df.count()
        t_total = time.perf_counter() - t0
        sc.setJobGroup("jc-idle", "")
        print(
            json.dumps(
                {
                    "key": name,
                    "rows": n,
                    "fixture_jobs": len(tracker.getJobIdsForGroup(gf)),
                    "action_jobs": len(tracker.getJobIdsForGroup(ga)),
                    "fixture_sec": round(t_fixture, 3),
                    "total_sec": round(t_total, 3),
                }
            )
        )
    release_scoped()
    spark.stop()


if __name__ == "__main__":
    main()
