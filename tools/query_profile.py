"""Where each registry query's time and Spark jobs go.

Usage: python tools/query_profile.py SF_DIR[,SF_DIR ...] query [query ...]

For each query and SF directory, one session prints one line:

  query  sf_dir  cold_s  build_s/jobs  plan_s  action_s/jobs  forced_s

- cold: the first call, function and ``count()``;
- build: a second call of the query function alone: Python construction
  plus the eager persists, checkpoints, fixture commits and stream drains
  inside it;
- plan: Catalyst planning of the frame it returned;
- action: the fastest of 3 ``count()`` calls on that frame;
- forced: the fastest of 3 calls whose action is a checksum over every
  column (``bit_xor(xxhash64(...))``).  It defeats count-only pruning, so
  every hash and window in the query computes.

Below that line comes one line for each ``SnapshotTable`` verb and
``StreamingQuery.awaitTermination`` the build ran: calls, seconds and
jobs.  A verb called inside another verb counts in the outer one only;
``awaitTermination`` counts the jobs of the micro-batches it waited for,
the verbs they ran included.  Every figure comes from
``bigdata_homed_spark.trace.span``.
"""

from __future__ import annotations

import functools
import inspect
import os
import sys
import threading
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql.streaming.query import StreamingQuery

from bigdata_homed_spark.plans import QUERIES
from bigdata_homed_spark.session import get_spark
from bigdata_homed_spark.sources.snapshots import SnapshotTable
from bigdata_homed_spark.trace import span

TRACED = [
    (SnapshotTable, name)
    for name, fn in vars(SnapshotTable).items()
    if inspect.isfunction(fn) and not name.startswith("_")
] + [(StreamingQuery, "awaitTermination")]


@contextmanager
def traced_calls(spark, methods):
    """Run each call of the ``(owner, name)`` methods in a span while the
    block runs; yields the spans by ``owner.name``."""
    calls = {f"{owner.__name__}.{name}": [] for owner, name in methods}
    local = threading.local()

    def wrap(label, orig):
        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if getattr(local, "busy", False):
                return orig(*args, **kwargs)
            local.busy = True
            try:
                with span(spark) as s:
                    return orig(*args, **kwargs)
            finally:
                local.busy = False
                calls[label].append(s)

        return traced

    saved = [(owner, name, vars(owner)[name]) for owner, name in methods]
    for owner, name, orig in saved:
        setattr(owner, name, wrap(f"{owner.__name__}.{name}", orig))
    try:
        yield calls
    finally:
        for owner, name, orig in saved:
            setattr(owner, name, orig)


def forced(df):
    cols = [F.col(c).cast("string") for c in df.columns]
    return df.select(F.xxhash64(*cols).alias("__h")).agg(F.expr("bit_xor(__h)"))


def fastest(spark, run, n=3):
    spans = []
    for _ in range(n):
        with span(spark) as s:
            run()
        spans.append(s)
    return min(spans, key=lambda s: s.wall_s)


def main() -> None:
    sf_dirs = sys.argv[1].split(",")
    names = sys.argv[2:]
    spark = get_spark("profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm-up
    print("query\tsf_dir\tcold_s\tbuild_s/jobs\tplan_s\taction_s/jobs\tforced_s")
    for name in names:
        fn = QUERIES[name]
        for sf in sf_dirs:
            with span(spark) as cold:
                fn(spark, sf).count()
            with traced_calls(spark, TRACED) as calls, span(spark) as build:
                df = fn(spark, sf)
            with span(spark) as plan:
                df._jdf.queryExecution().executedPlan()
            action = fastest(spark, df.count)
            check = fastest(spark, lambda: forced(fn(spark, sf)).collect())
            print(
                f"{name}\t{sf}\t{cold.wall_s:.2f}\t{build.wall_s:.2f}/{build.jobs}\t"
                f"{plan.wall_s:.2f}\t{action.wall_s:.2f}/{action.jobs}\t"
                f"{check.wall_s:.2f}"
            )
            for label, spans in calls.items():
                if spans:
                    print(
                        f"  {label}\tcalls {len(spans)}\t"
                        f"{sum(s.wall_s for s in spans):.2f}s\t"
                        f"jobs {sum(s.jobs for s in spans)}"
                    )
            sys.stdout.flush()
            spark.catalog.clearCache()


if __name__ == "__main__":
    main()
