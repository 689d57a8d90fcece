"""Isolation profiler for one or more registered queries.

For each named query: build + execute (noop sink) N times in a fresh
session, print per-run wall seconds and per-run Spark jobs, and on
request a cProfile of the steady run split into driver-Python time vs
py4j/JVM wait — the split that tells you whether to attack driver loops
or the Spark plan.

Jobs are counted by job id between a run's start and end
(``session.started_jobs``), so they include the jobs a streaming
``foreachBatch`` processor runs under its own job group.

Usage:
  python scripts/profile_query.py NAME [NAME ...] [--runs N] [--cprofile]
  python scripts/profile_query.py NAME --explain   # dump formatted plan
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    if "--runs" in sys.argv:
        runs = int(sys.argv[sys.argv.index("--runs") + 1])
        if str(runs) in args:
            args.remove(str(runs))
    do_prof = "--cprofile" in sys.argv
    do_explain = "--explain" in sys.argv

    from data_ingestion_din_spark.plans import QUERIES
    from data_ingestion_din_spark.session import get_spark, started_jobs

    spark = get_spark("profile")

    def run(name: str) -> tuple[float, int]:
        j0 = started_jobs(spark)
        t0 = time.time()
        df = QUERIES[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        return round(time.time() - t0, 3), started_jobs(spark) - j0

    # warmup
    run("q1_pricing_summary")

    for name in args:
        times, jobs = zip(*(run(name) for _ in range(runs)))
        print(f"{name}: {list(times)}  min={min(times)}  jobs={list(jobs)}")
        if do_explain:
            QUERIES[name](spark, SF_DIR).explain("formatted")
        if do_prof:
            import cProfile
            import pstats

            pr = cProfile.Profile()
            pr.enable()
            run(name)
            pr.disable()
            st = pstats.Stats(pr)
            st.sort_stats("cumulative")
            st.print_stats(30)


if __name__ == "__main__":
    main()
