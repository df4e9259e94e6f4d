"""Skew harness: measure the engine's behavior under Zipf-skewed keys and
pin the AQE skew-join split in an executed plan.

SURVEY §4 lists the reference's skew handling as "none (string-concat keys
arguably worsen it)"; this repo's answer has three layers, and this
harness MEASURES each instead of asserting it:

1. **Partial aggregation absorbs grouped-key skew.**  Every groupBy ships
   map-side combined partials, so a hot channel costs each mapper one
   extra accumulator row, not a hot reducer.  Measured on
   ``channel_report_full`` (the repo's biggest shuffle query) with 50% of
   all plays collapsed onto ONE channel.
2. **Composite distinct keys decorrelate hot dimensions.**
   count(DISTINCT user) per grain expands to a (grain, user) first-phase
   key: a hot grain spreads over its users, a hot user spreads over its
   grains — the first-phase shuffle stays near-uniform unless BOTH
   coincide.  Measured on ``demand_period_grains`` (union-of-grains
   distinct users) with a Zipf(1) user population (top user ≈ 6% of all
   rows, top 10 ≈ 21%).
3. **AQE splits skewed JOIN partitions at runtime.**  For the one shape
   partial aggregation cannot fix — a sort-merge join whose build side
   has a hot key — Spark's OptimizeSkewedJoin splits the oversized
   partition into advisory-sized slices (each joining the full matching
   side).  The exhibit forces an SMJ (broadcast disabled) of the skewed
   fact against a per-user profile and asserts ``skew=true`` ( the
   AQEShuffleRead marker) appears in the EXECUTED plan.  Thresholds are
   scaled to harness data volume (the defaults are sized for 256 MB
   reducer blocks — exactly what a 100 TB table produces; the knob is
   the same).

Usage::

    python tools/skew_harness.py [sf_dir]       # default .localdata/sf1

Prints a BENCH_SCALING.md-ready markdown block; exits non-zero if the
skew-split assertion fails or the skewed/uniform wall ratio exceeds the
straggler bound (2.0x) on either query.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

from bigdata_homed_spark.plans.registry import QUERIES
from bigdata_homed_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, ".localdata", "sf1")
WORK = os.path.join(REPO, ".localdata", "skew_harness")
TABLES = (
    "region nation customer supplier part orders lineitem documents embeddings"
).split()
QUERY_NAMES = ("channel_report_full", "demand_period_grains")
STRAGGLER_BOUND = 2.0


def build_variant(spark, name: str, skewed: bool) -> str:
    """A full sf directory whose events table has remapped keys: Zipf(1)
    users + one hot channel when ``skewed``, uniform with identical row
    count and domains otherwise.  Everything derives from md5(event_id),
    so both variants are deterministic and differ ONLY in key shape."""
    out = os.path.join(WORK, name)
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    os.makedirs(out, exist_ok=True)
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(SF_DIR, f"{t}.parquet"), dst)
    ev = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    n_users = 15_000
    # u in [0,1) from the md5 top 13 hex digits (52 bits)
    u = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(16**13))
    )
    if skewed:
        # inverse-CDF of pmf ∝ 1/rank over 1..N: rank = floor(N^u)
        user = F.floor(F.pow(F.lit(float(n_users)), u)).cast("bigint")
        # hot channel: 50% of rows on channel 0 (props.k % 10 == 0)
        k = F.when(u < 0.5, F.lit(0)).otherwise(
            (F.floor(u * 1000).cast("bigint") % 9 + 1)
        )
    else:
        user = (F.floor(u * n_users) + 1).cast("bigint")
        k = F.floor(u * 1000).cast("bigint") % 10
    remapped = ev.withColumns(
        {
            "user_id": user,
            "props": F.concat(F.lit('{"k": '), k.cast("string"), F.lit("}")),
        }
    )
    remapped.repartition(8).write.mode("overwrite").parquet(
        os.path.join(out, "events.parquet")
    )
    open(os.path.join(out, "_READY"), "w").close()
    return out


def timed(fn, *args):
    t0 = time.perf_counter()
    n = fn(*args).count()
    return time.perf_counter() - t0, n


def main() -> int:
    spark = get_spark("skew_harness")
    dirs = {
        "skewed": build_variant(spark, "skewed", True),
        "uniform": build_variant(spark, "uniform", False),
    }
    # sanity: the skew is real — top user share and hot-channel share
    sk = spark.read.parquet(os.path.join(dirs["skewed"], "events.parquet"))
    total = sk.count()
    top_user = (
        sk.groupBy("user_id").count().orderBy(F.desc("count")).first()["count"]
    )
    hot_chan = sk.where(F.get_json_object("props", "$.k") == "0").count()
    print(
        f"# skew shape: top user {top_user/total:.1%} of rows, "
        f"hot channel {hot_chan/total:.1%}",
        file=sys.stderr,
    )
    assert top_user / total > 0.04 and hot_chan / total > 0.45

    rows, ok = [], True
    for q in QUERY_NAMES:
        fn = QUERIES[q]
        times = {}
        for variant, d in dirs.items():
            timed(fn, spark, d)  # warm (plan + code caches)
            wall, n = timed(fn, spark, d)
            times[variant] = wall
        ratio = times["skewed"] / times["uniform"]
        verdict = "no straggler blowup" if ratio <= STRAGGLER_BOUND else "FAIL"
        ok &= ratio <= STRAGGLER_BOUND
        why = (
            "partial agg absorbs the hot channel (map-side combine)"
            if q == "channel_report_full"
            else "composite (grain,user) first-phase key decorrelates the hot user"
        )
        rows.append(
            f"| skew:{q} | sf1, Zipf(1) users + 50%-hot channel | "
            f"uniform {times['uniform']:.2f}s -> skewed {times['skewed']:.2f}s "
            f"({ratio:.2f}x) | {verdict}: {why} |"
        )

    # --- AQE skew-join exhibit: the shape only a runtime split fixes -----
    # The exhibit join key concentrates HALF the fact on one key (a dead
    # device id, a null-ish sentinel — the classic production skew): the
    # hot reducer block is ~16x the median, far past the 5x skew factor,
    # which is what OptimizeSkewedJoin exists for.  (The Zipf user key
    # above stays ~3x median — partial agg handles it and the skew-join
    # rule correctly leaves it alone.)
    # NOTE (measured): the dim side must NOT derive from the same shuffle
    # as the fact side — Spark's ReuseExchange then feeds both join inputs
    # from one exchange and OptimizeSkewedJoin stands down (splitting a
    # reused stage would change its partitioning for the other consumer).
    # A profile built by grouping the fact itself exhibited exactly that:
    # no split, ever.  Real dims are independent scans, as here.
    ev0 = spark.read.parquet(os.path.join(dirs["skewed"], "events.parquet"))
    ev = ev0.withColumn(
        "jk",
        F.when(F.col("event_id") % 2 == 0, F.lit(0)).otherwise(F.col("user_id")),
    )
    profile = spark.range(0, 15_001).select(
        F.col("id").alias("jk"), (F.col("id") * 0.5).alias("av")
    )
    walls = {}
    plans = {}
    for mode, on in (("skew_split_on", "true"), ("skew_split_off", "false")):
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", on)
        # thresholds scaled to harness volume; defaults are the same knob
        # sized for the 256 MB reducer blocks a 100 TB table produces
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1m"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "512k")
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = ev.join(profile, "jk").select(
            F.sum(F.col("value") + F.col("av")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        t0 = time.perf_counter()
        joined.collect()
        walls[mode] = time.perf_counter() - t0
        plans[mode] = joined._jdf.queryExecution().executedPlan().toString()
    for c in (
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.autoBroadcastJoinThreshold",
    ):
        spark.conf.unset(c)
    split_seen = "skew=true" in plans["skew_split_on"]
    split_absent = "skew=true" not in plans["skew_split_off"]
    ok &= split_seen and split_absent
    rows.append(
        f"| skew:aqe_smj_exhibit | sf1 skewed fact x per-user profile, "
        f"SMJ forced | split ON {walls['skew_split_on']:.2f}s / OFF "
        f"{walls['skew_split_off']:.2f}s | OptimizeSkewedJoin split "
        f"{'PINNED (skew=true in executed plan)' if split_seen else 'MISSING'}"
        f"{'' if split_absent else ' (unexpected split with AQE skewJoin off)'} |"
    )

    print("\n".join(rows))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
