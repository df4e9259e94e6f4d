"""Per-query profiler for the optimization round: splits each registry
query's warm cost into BUILD (python construction + any eager
localCheckpoint/persist/staging work inside the query function), PLAN
(analysis + optimization + physical planning of the returned frame) and
EXEC (the .count() action, same timed action as bench.py), and dumps the
formatted physical plan to plans/r10/<name>_<tag>.txt.

Usage: python tools/profile_queries.py SF_DIR TAG query [query ...]
Prints one tab-separated line per query:
  name  build_s  plan_s  exec_min_s  exec_runs
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_homed_spark.plans import QUERIES
from bigdata_homed_spark.session import get_spark

PLAN_DIR = os.environ.get(
    "SPARK_GRAFT_PLAN_DIR",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "plans", "r11"),
)


def formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    sf_dir = sys.argv[1]
    tag = sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = get_spark("profile_queries")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    for name in names:
        fn = QUERIES[name]
        # one throwaway full run first: parquet footer caches, codegen
        # compile, JIT — same warm-up discipline as bench.py
        fn(spark, sf_dir).count()
        spark.catalog.clearCache()

        t0 = time.time()
        df = fn(spark, sf_dir)
        build = time.time() - t0

        t0 = time.time()
        plan_txt = formatted_plan(df)
        plan = time.time() - t0

        execs = []
        for _ in range(3):
            t0 = time.time()
            df.count()
            execs.append(time.time() - t0)
        # NOTE: df is reused, so these execs do NOT pay build+plan again;
        # bench.py re-calls fn() per run and pays build+plan every time.
        with open(os.path.join(PLAN_DIR, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan_txt)
        print(
            f"{name}\t{build:.2f}\t{plan:.2f}\t{min(execs):.2f}\t"
            + ",".join(f"{e:.2f}" for e in execs),
            flush=True,
        )
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
