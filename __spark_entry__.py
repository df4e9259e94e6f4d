"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship homed pipeline on sf0.001;
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 plus the training-data-pipeline operators, each paired with a
DuckDB oracle (see bigdata_homed_spark/plans/registry.py for the
cross-engine determinism rules).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_homed_spark.plans import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the homed daily-report chain on sf0.001 —
    events → gap-sessionize (W1) → half-hour grid (ChannelReport.process
    analog) → user-dim broadcast join (J1) → per-slot/nation activity (A1/A2).
    """
    from pyspark.sql import functions as F

    from bigdata_homed_spark.operators.enrich import dim_join
    from bigdata_homed_spark.operators.sessionize import sessionize_by_gap
    from bigdata_homed_spark.operators.timegrid import explode_time_grid
    from bigdata_homed_spark.sources.tables import load_table

    sf_dir = "/root/testdata/sf0.001"
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.col("ts_sec").alias("sec")
    )
    sess = sessionize_by_gap(ev, ["user_id"], "sec", 1800, "event_id")
    spans = sess.groupBy("user_id", "session_seq").agg(
        F.min("sec").alias("s"), F.max("sec").alias("e")
    )
    slots = explode_time_grid(spans, "s", "e", 1800, "slot_start", "overlap_sec")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    user_dim = dim_join(cust, nation, cust["c_nationkey"] == nation["n_nationkey"], "inner")
    enriched = dim_join(
        slots, user_dim, slots["user_id"] + 1 == user_dim["c_custkey"], "left"
    )
    return enriched.groupBy("slot_start", "n_name").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("overlap_sec").cast("bigint").alias("online_sec"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ pipeline ops)."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every oracle-checkable query."""
    return dict(ORACLES)
