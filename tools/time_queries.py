"""Time a set of registry queries at one SF: min of N warm runs each.

Usage: python tools/time_queries.py SF_DIR query [query ...]
Prints one `name\tsec` line per query (min of 3 warm runs, after a
warm-up execution that is not billed).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_homed_spark.plans import QUERIES
from bigdata_homed_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]
    spark = get_spark("time_queries")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    for name in names:
        fn = QUERIES[name]
        fn(spark, sf_dir).count()  # warm-up run (plan + IO caches)
        best = min(
            _timed(fn, spark, sf_dir) for _ in range(3)
        )
        print(f"{name}\t{best:.2f}")
        spark.catalog.clearCache()


def _timed(fn, spark, sf_dir) -> float:
    t0 = time.time()
    fn(spark, sf_dir).count()
    return time.time() - t0


if __name__ == "__main__":
    main()
