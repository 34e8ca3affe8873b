"""Noise-robust per-query profiler (optimization-round harness).

Runs each named query several times IN ONE WARM SESSION against
$SPARK_GRAFT_SF_DIR (default sf0.1), timing the noop-sink action and
recording the exact Spark JOB COUNT per invocation (deterministic,
host-noise-free — the r13 method). First (cold) run is reported
separately; the headline is min of the warm runs.

Usage: python scripts/profile_query.py query [query ...] [--runs N]
"""

from __future__ import annotations

import gc
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from hadith_vector_search_spark.registry import get_queries  # noqa: E402
from hadith_vector_search_spark.session import get_spark  # noqa: E402


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    for a in sys.argv[1:]:
        if a.startswith("--runs"):
            runs = int(a.split("=")[1])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = get_queries()

    def newest_job_id() -> int:
        # Job ids are sequential and the status store always retains the
        # newest one (it trims the oldest at spark.ui.retainedJobs), so
        # the id delta counts a run's jobs even once the list is trimmed.
        # The list is id-ordered; the newest sits at one of its ends.
        jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
        if not jobs.size():
            return -1
        return max(jobs.head().jobId(), jobs.last().jobId())

    for name in args:
        fn = queries[name]
        walls, jobs = [], []
        for i in range(runs + 1):
            gc.collect()
            j0 = newest_job_id()
            t0 = time.time()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            walls.append(round(time.time() - t0, 3))
            jobs.append(newest_job_id() - j0)
        print(f"{name}: cold={walls[0]}s/{jobs[0]}j warm="
              f"{sorted(walls[1:])} jobs={jobs[1:]} "
              f"min={min(walls[1:])}s")


if __name__ == "__main__":
    main()
