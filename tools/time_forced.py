"""Two-path scaling timer: for each query and SF dir, time (a) the bench
count() path and (b) a checksum-forced path (bit_xor(xxhash64(<all
columns>)) over the result) that defeats Catalyst's count-only pruning so
every hash/window in the query actually computes.  Min of 3 warm runs
after an unbilled warm-up, both SFs measured in ONE session so ratios are
host-drift-free (the BENCH_SCALING.md round-8 methodology).

Usage: python tools/time_forced.py SF_DIR[,SF_DIR2,...] query [query ...]
Prints `query\tsf_dir\tcount_s\tforced_s` lines.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigdata_homed_spark.plans import QUERIES
from bigdata_homed_spark.session import get_spark


def forced(df):
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(
        F.xxhash64(*cols).alias("__h")
    ).agg(F.expr("bit_xor(__h)"))


def best_of(fn, n=3):
    fn()  # warm-up (plan + IO caches), unbilled
    best = float("inf")
    for _ in range(n):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return best


def main() -> None:
    sf_dirs = sys.argv[1].split(",")
    names = sys.argv[2:]
    spark = get_spark("time_forced")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in names:
        q = QUERIES[name]
        for sf in sf_dirs:
            c = best_of(lambda: q(spark, sf).count())
            f = best_of(lambda: forced(q(spark, sf)).collect())
            print(f"{name}\t{sf}\t{c:.2f}\t{f:.2f}", flush=True)
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
