"""Per-query isolation profiler.

Times each named query with the noop sink (guide section 1.4 — computes
every column, no driver shipping) after one warm run, and prints its
plan shape (``plans.audit.plan_summary``) next to the timings.

Usage: python tools/query_profile.py <tag> <query> [<query> ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("PROFILE_RUNS", "3"))


def main() -> None:
    tag, names = sys.argv[1], sys.argv[2:]

    from vector_database_product_recommendation_spark.plans.audit import plan_summary
    from vector_database_product_recommendation_spark.session import get_spark

    import __spark_entry__ as entrymod

    spark = get_spark(f"profile-{tag}")
    qmap = entrymod.queries()

    for name in names:
        fn = qmap[name]
        spark.sparkContext.setJobDescription(f"{name} [{tag}]")
        t_build0 = time.time()
        df = fn(spark, SF_DIR)
        t_build = time.time() - t_build0
        plan = plan_summary(df)
        runs = []
        for _ in range(1 + RUNS):  # first run is warm-up
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
        timed = sorted(runs[1:])
        print(
            f"{name}: build={t_build:.2f}s warm={runs[0]:.2f}s "
            f"median={timed[len(timed) // 2]:.2f}s runs={[round(r, 2) for r in runs]} "
            f"plan={plan}"
        )
        spark.sparkContext.setJobDescription(None)

    spark.stop()


if __name__ == "__main__":
    main()
