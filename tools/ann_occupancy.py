"""ANN scaling evidence: bucket occupancy + candidate-pair counts per SF.

For each sf_dir given, reports — per the ann_planes_for(n) rule in
plans/similarity.py — the plane count chosen for the corpus, per-table
bucket-occupancy stats, raw/deduped LSH candidate-pair counts, and the
verified (cosine >= threshold) pair count.  The claim under test: with
planes = max(6, ceil(log2(n/32))), candidate pairs grow ~linearly in n,
never quadratically.

Usage: python tools/ann_occupancy.py [sf_dir ...]
       (default: the catalog default SF and .localdata/sf1 in the checkout)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from bigdata_homed_spark.plans.similarity import (
    ANN_TABLES,
    ann_planes_for,
    _table_bucket_col,
)
from bigdata_homed_spark.session import get_spark
from bigdata_homed_spark.sources.tables import DEFAULT_SF_DIR, load_table

DIRS = sys.argv[1:] or [DEFAULT_SF_DIR, os.path.join(REPO, ".localdata", "sf1")]


def main() -> None:
    spark = get_spark()
    print(f"{'sf_dir':40s} {'n':>8s} {'planes':>6s} {'buckets':>8s} "
          f"{'occ_mean':>8s} {'occ_p99':>8s} {'occ_max':>8s} "
          f"{'cand_raw':>10s} {'cand_dedup':>10s} {'cand/n':>8s}")
    for sf_dir in DIRS:
        if not os.path.isdir(sf_dir):
            print(f"{sf_dir:40s} MISSING — skipped")
            continue
        emb = load_table(spark, sf_dir, "embeddings")
        n = emb.count()
        planes = ann_planes_for(n)
        b = emb.select(
            "vec_id",
            *[_table_bucket_col(t, planes).alias(f"b{t}") for t in range(ANN_TABLES)],
        ).cache()
        keys = b.select(
            "vec_id",
            F.posexplode(
                F.array(*[F.col(f"b{t}") for t in range(ANN_TABLES)])
            ).alias("t", "bucket"),
        )
        occ = keys.groupBy("t", "bucket").agg(F.count(F.lit(1)).alias("c"))
        stats = occ.agg(
            F.mean("c").alias("mean"),
            F.expr("percentile_approx(c, 0.99)").alias("p99"),
            F.max("c").alias("max"),
            F.count(F.lit(1)).alias("n_buckets"),
        ).collect()[0]
        # candidate pairs exactly as embedding_ann_pairs generates them
        a = keys.select(F.col("vec_id").alias("d1"), "t", "bucket")
        c = keys.select(
            F.col("vec_id").alias("d2"),
            F.col("t").alias("t2"),
            F.col("bucket").alias("bucket2"),
        )
        raw = a.join(
            c,
            (F.col("t") == F.col("t2"))
            & (F.col("bucket") == F.col("bucket2"))
            & (F.col("d1") < F.col("d2")),
        ).select("d1", "d2")
        n_raw = raw.count()
        n_dedup = raw.dropDuplicates(["d1", "d2"]).count()
        b.unpersist()
        print(
            f"{sf_dir:40s} {n:8d} {planes:6d} {stats['n_buckets']:8d} "
            f"{stats['mean']:8.1f} {stats['p99']:8.0f} {stats['max']:8.0f} "
            f"{n_raw:10d} {n_dedup:10d} {n_dedup / n:8.2f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
