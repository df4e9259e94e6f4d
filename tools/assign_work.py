"""Measure k-means assignment work per vector across scale decades.

The r5 verdict flagged the SemDeDup/k-means assignment as the last
quadratic term: scoring n vectors against K∝n broadcast centroids is
O(n·K) = O(n²/256).  The r6 coarse-quantized (IVF) assignment routes each
vector through C = ceil(sqrt(K)) coarse cells and scores only the
centroids in its top-2 cells.  This harness counts the ACTUAL candidate
rows the production code path scores (`_kmeans_candidates`) at each SF,
so the "per-vector work stays sub-linear in K" claim is a measured number
in BENCH_SCALING.md rather than an argument.

Usage: python tools/assign_work.py SF_DIR [SF_DIR ...]
Prints one line per SF: n, K, C, scored rows, scored/vector, exact (=K).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bigdata_homed_spark.plans.similarity import (
    _kmeans_candidates,
    kmeans_coarse_cells_for,
    semdedup_k_for,
)
from bigdata_homed_spark.session import get_spark
from bigdata_homed_spark.sources.tables import load_table


def main() -> None:
    spark = get_spark("assign_work")
    print(f"{'sf_dir':40s} {'n':>8s} {'K':>6s} {'C':>5s} "
          f"{'scored':>10s} {'per-vec':>8s} {'exact/vec':>9s}")
    for sf_dir in sys.argv[1:]:
        emb = load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "embedding"
        )
        n = emb.count()
        k = semdedup_k_for(n)
        c = kmeans_coarse_cells_for(k)
        # same deterministic seeding as kmeans_clusters' first Lloyd round
        cents = emb.where(F.col("vec_id") < k).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
        scored = _kmeans_candidates(emb, cents, k).count()
        print(
            f"{sf_dir:40s} {n:8d} {k:6d} {c:5d} "
            f"{scored:10d} {scored / n:8.1f} {k:9d}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
