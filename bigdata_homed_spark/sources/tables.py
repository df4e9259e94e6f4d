"""Parquet table catalog for the synthetic star schema.

The reference scanned day-partitioned Hive ORC fact tables with partition
filters (SURVEY §2.1 S2; reference `homed/repots/ChannelReport.scala:41-46`)
and MySQL dims via JDBC pushdown subqueries (S3, `utils/DBUtils.scala:56-63`).
Here the catalog is columnar parquet; Catalyst gives partition pruning,
predicate pushdown and column pruning on these scans for free — queries must
simply express filters/projections declaratively (checked in tests via
``explain`` containing PushedFilters/ReadSchema).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_fixture

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Session-scoped catalog of LAZY scan frames, the Hive-metastore/manifest
# analog (guide §6: catalogs exist so scans don't re-list and re-infer
# schemas).  `spark.read.parquet` runs a driver-side file listing + footer
# schema-inference job on EVERY call — measured 180-400 ms per call on
# this host — and the registry makes ~750 such calls per bench run.  The
# memo stores the unexecuted DataFrame (a logical plan + resolved schema):
# every action still scans the parquet files; no rows, results or cached
# blocks are held, so repeat invocations stay honest recomputations.
# Held in the `session_fixture` memo, keyed on applicationId: a new
# driver session re-infers from scratch.  The catalog dirs are immutable
# within a session (testdata is read-only; derived SF dirs are written
# once before first read), which is what makes the memoized file listing
# safe.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one catalog table (SURVEY S2/S8 analog).

    ``events.ts`` is parquet timestamp[us] with no timezone, which Spark
    4.x reads as TIMESTAMP_NTZ.  The session timezone is pinned to UTC
    (session.py), so NTZ→TIMESTAMP is a wall-clock-preserving identity and
    TIMESTAMP→LONG yields epoch seconds — exactly DuckDB's
    ``epoch_us(ts)//1000000`` floor, which every oracle uses.  All engine
    logic runs on the derived integral ``ts_sec``: sub-second precision is
    generator noise, and second-level truncation keeps results comparable
    across engines regardless of their native timestamp width.
    """
    if name == "events":
        # session tz is still pinned UTC for the date/timestamp functions
        # downstream queries use (oracles assume UTC) — re-asserted per
        # call even on a catalog hit, preserving the pre-memo contract
        spark.conf.set("spark.sql.session.timeZone", "UTC")

    def scan():
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        if name != "events":
            return df
        # ts_sec is pure NTZ wall-clock arithmetic — NO session-timezone
        # dependence, so a caller resetting the tz after load_table but
        # before an action cannot shift it (the lazy NTZ→TIMESTAMP→LONG
        # cast chain it replaces was tz-sensitive at ACTION time, not
        # load time)
        return df.withColumn(
            "ts_sec",
            F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"),
        )

    return session_fixture(spark, sf_dir, f"scan:{name}", scan)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every catalog table as a temp view (mirrors the reference's
    365 `registerTempTable` sites — but once, centrally)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
