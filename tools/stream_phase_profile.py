"""Phase profiler for the streaming/foreachBatch registry queries: wraps
the shared machinery (SnapshotTable verbs, DataFrameWriter.parquet
staging writes, streaming query await) with timers and prints a per-call
cost breakdown for one query run.

Usage: python tools/stream_phase_profile.py SF_DIR query [query ...]
"""

from __future__ import annotations

import os
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_homed_spark.plans import QUERIES
from bigdata_homed_spark.session import get_spark

ACC: dict[str, list[float]] = defaultdict(list)


def _wrap(obj, name, label=None):
    orig = getattr(obj, name)
    key = label or f"{obj.__name__}.{name}"

    def timed(*a, **k):
        t0 = time.time()
        try:
            return orig(*a, **k)
        finally:
            ACC[key].append(time.time() - t0)

    setattr(obj, name, timed)
    return orig


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    from pyspark.sql import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter
    from pyspark.sql.streaming.query import StreamingQuery

    from bigdata_homed_spark.sources import snapshots as sn

    for m in ("commit_append", "commit_merge_on_read", "commit_delete",
              "read", "_write_data_files", "versions", "committed_batch_ids"):
        _wrap(sn.SnapshotTable, m, f"SnapshotTable.{m}")
    _wrap(DataFrameWriter, "parquet", "writer.parquet")
    _wrap(StreamingQuery, "awaitTermination", "stream.await")
    _wrap(DataFrame, "collect", "df.collect")
    _wrap(DataFrame, "count", "df.count")
    _wrap(DataFrame, "localCheckpoint", "df.localCheckpoint")

    spark = get_spark("stream_phase_profile")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    ACC.clear()

    for name in names:
        fn = QUERIES[name]
        ACC.clear()
        t0 = time.time()
        fn(spark, sf_dir).count()
        wall = time.time() - t0
        print(f"== {name}: wall {wall:.2f}s")
        # nested wraps double-count (e.g. commit_* calls _write_data_files,
        # awaitTermination covers per-batch work); report calls + total
        for key, xs in sorted(ACC.items(), key=lambda kv: -sum(kv[1])):
            print(f"   {sum(xs):7.2f}s  n={len(xs):3d}  {key}")
        spark.catalog.clearCache()
        sys.stdout.flush()


if __name__ == "__main__":
    main()
