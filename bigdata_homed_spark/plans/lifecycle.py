"""Fact-table lifecycle + remaining join/window/set operator families:
partitioned write→pruned read (S7/S8/P4), full-outer state merge (J5),
batch session windows, packed user arrays (A4/O4), composite-key dedup
(U3), global top-k (O3), day-bounds clamping (P4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import session_dir, session_fixture
from ..sources.sinks import write_partitioned_fact
from ..sources.snapshots import ConstraintViolationError, SnapshotTable
from ..sources.tables import load_table
from .core_relational import dsum
from .homed_behavior import EV_SEC, events_sec
from .registry import query


def _fact_path(spark: SparkSession, sf_dir: str) -> str:
    """Write the day-partitioned behavior fact once per (session, sf) —
    the S7/S8 sink under test — and reuse the directory for the scan."""

    def build():
        path = os.path.join(session_dir(spark, "homed_fact_"), "behavior_fact")
        ev = load_table(spark, sf_dir, "events").withColumn(
            "day", F.date_format(F.timestamp_seconds(F.col("ts_sec")), "yyyyMMdd")
        )
        write_partitioned_fact(ev, path, ["day"], output_files_per_partition=1)
        return path

    return session_fixture(spark, sf_dir, "behavior_fact", build)


# --------------------------------------------------------------------------
# S7/S8 + S2: write the day-partitioned fact, read it back with a partition
# filter (pruning verified in tests), aggregate.  Mirrors the reference's
# orc_video_play daily write + day='...' scans.
@query(
    "partitioned_fact_roundtrip",
    oracle="""
    SELECT strftime(make_timestamp((epoch_us(ts)//1000000)*1000000), '%Y%m%d') AS day,
           event_type,
           count(*) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM events
    WHERE strftime(make_timestamp((epoch_us(ts)//1000000)*1000000), '%Y%m%d') BETWEEN '20240105' AND '20240112'
    GROUP BY 1, 2
    """,
)
def partitioned_fact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _fact_path(spark, sf_dir)
    fact = spark.read.parquet(path)
    return (
        fact.where(F.col("day").between("20240105", "20240112"))
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "sum_value"))
    )


# --------------------------------------------------------------------------
# J5 — full-outer state merge: today's per-user counters ⟗ yesterday's,
# classifying retained/new/churned.  The reference's realtime state-merge
# shape (UserStatusByRunLog.scala:186,224; ProgramDemand.scala:95-99
# nvl(f)+nvl(l) counter accumulation).
@query(
    "user_state_merge",
    oracle="""
    WITH ev AS (
      SELECT user_id, (epoch_us(ts)//1000000)//86400 AS day_num FROM events
    ),
    bounds AS (SELECT max(day_num) AS mx FROM ev),
    today AS (
      SELECT user_id, count(*) AS n_today FROM ev, bounds WHERE day_num = mx GROUP BY user_id
    ),
    yesterday AS (
      SELECT user_id, count(*) AS n_yesterday FROM ev, bounds WHERE day_num = mx - 1 GROUP BY user_id
    )
    SELECT coalesce(t.user_id, y.user_id) AS user_id,
           coalesce(t.n_today, 0) + coalesce(y.n_yesterday, 0) AS n_total,
           CASE WHEN t.user_id IS NULL THEN 'churned'
                WHEN y.user_id IS NULL THEN 'new'
                ELSE 'retained' END AS status
    FROM today t FULL OUTER JOIN yesterday y ON t.user_id = y.user_id
    """,
)
def user_state_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    # 1-row broadcast of max(day) instead of a driver-side collect(): the
    # plan stays fully lazy (one Spark job, not two) and the pattern is the
    # same broadcast-scalar shape used for share-of-total queries
    mx = F.broadcast(ev.agg(F.max("day_num").alias("mx")))
    today = (
        ev.join(mx, F.col("day_num") == F.col("mx"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_today"))
    )
    yesterday = (
        ev.join(mx, F.col("day_num") == F.col("mx") - 1)
        .groupBy(F.col("user_id").alias("y_user_id"))
        .agg(F.count(F.lit(1)).alias("n_yesterday"))
    )
    merged = today.join(yesterday, today["user_id"] == yesterday["y_user_id"], "full_outer")
    status = (
        F.when(F.col("user_id").isNull(), "churned")
        .when(F.col("y_user_id").isNull(), "new")
        .otherwise("retained")
    )
    return merged.select(
        F.coalesce("user_id", "y_user_id").alias("user_id"),
        (F.coalesce("n_today", F.lit(0)) + F.coalesce("n_yesterday", F.lit(0))).alias("n_total"),
        status.alias("status"),
    )


# --------------------------------------------------------------------------
# Batch session_window — Spark's native gap-session operator (the modern
# spelling of W1; same 30-min gap as gap_sessions, whose end is last-event
# +gap by definition).
@query(
    "session_window_spans",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    flagged AS (
      SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id, min(sec) AS session_start, max(sec) + 1800 AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_seq
    """,
)
def session_window_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB: Spark's session_window end (last+gap) is INCLUSIVE for merging:
    an event at exactly last+1800 JOINS the session (verified empirically
    at sf0.1, where one exact-1800 integral gap exists — user 511) — so
    the oracle starts a new session only on gap > 1800, same as
    gap_sessions."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.timestamp_seconds(F.col("ts_sec")).alias("evt"), "event_id"
    )
    out = ev.groupBy(F.session_window("evt", "30 minutes"), F.col("user_id")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return out.select(
        "user_id",
        F.unix_timestamp("session_window.start").alias("session_start"),
        F.unix_timestamp("session_window.end").alias("session_end"),
        "n_events",
    )


# --------------------------------------------------------------------------
# A4/O4 — packed per-group arrays, deterministically sorted, string-joined
# (the reference packs '&'-joined strings with collect_set:
# RunLogParser.scala:337-345, ChannelReport.scala:227; user arrays
# BusinessVisitCount.scala:524-607).
@query(
    "daily_user_array",
    oracle="""
    SELECT (epoch_us(ts)//1000000)//86400 AS day_num,
           array_to_string(list_sort(list(DISTINCT user_id)), ',') AS user_array,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY 1
    """,
)
def daily_user_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import pack_group_array

    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    packed = pack_group_array(ev, ["day_num"], F.col("user_id"), out_col="users", sort=True)
    return packed.select(
        "day_num",
        F.concat_ws(",", F.col("users")).alias("user_array"),
        F.size("users").cast("bigint").alias("n_users"),
    )


# --------------------------------------------------------------------------
# U3 — composite-key dedup with a deterministic keeper (dropDuplicates is
# order-dependent; the engine uses row_number, the reference used
# dropDuplicates(Seq("DA")) (etl/InitTools.scala:50) with arbitrary winners).
@query(
    "dedup_user_day_first_event",
    oracle=f"""
    WITH ev AS ({EV_SEC})
    SELECT user_id, sec//86400 AS day_num, event_id AS first_event_id, event_type
    FROM ev
    QUALIFY row_number() OVER (PARTITION BY user_id, sec//86400 ORDER BY sec, event_id) = 1
    """,
)
def dedup_user_day_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import keep_latest

    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    first = keep_latest(ev, ["user_id", "day_num"], "sec", "event_id", desc=False)
    return first.select(
        "user_id", "day_num", F.col("event_id").alias("first_event_id"), "event_type"
    )


# --------------------------------------------------------------------------
# O3 — global ordered top-k (ORDER BY … LIMIT pushed to a TakeOrdered plan,
# no full sort; the reference pushed `order by … limit 1` into JDBC
# subqueries, RunLogParser.scala:318-329).
@query(
    "global_top_events",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    ORDER BY value DESC, event_id
    LIMIT 10
    """,
)
def global_top_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select("event_id", "user_id", "event_type", "value")
        .orderBy(F.col("value").desc(), F.col("event_id"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# P4/P5 — validity clamping + null hygiene: claimed session [start, start+
# value*100) clamped to its day's bounds (DateUtils.validateTimeRange:35-45,
# ReportLog.scala:399-416 timestamp clamping semantics).
@query(
    "day_clamped_sessions",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    sess AS (
      SELECT user_id, event_id, sec AS start_sec,
             sec + cast(floor(value * 100) as bigint) AS raw_end,
             (sec//86400)*86400 + 86400 AS day_end
      FROM ev
    )
    SELECT user_id,
           count(*) AS n_sessions,
           cast(sum(least(raw_end, day_end) - start_sec) as bigint) AS in_day_sec,
           cast(sum(CASE WHEN raw_end > day_end THEN 1 ELSE 0 END) as bigint) AS n_clamped
    FROM sess GROUP BY user_id
    """,
)
def day_clamped_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir)
    sess = ev.select(
        "user_id",
        "event_id",
        F.col("sec").alias("start_sec"),
        (F.col("sec") + F.floor(F.col("value") * 100).cast("bigint")).alias("raw_end"),
        (F.expr("sec div 86400") * 86400 + 86400).alias("day_end"),
    )
    return sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.least("raw_end", "day_end") - F.col("start_sec"))
        .cast("bigint")
        .alias("in_day_sec"),
        F.sum(F.when(F.col("raw_end") > F.col("day_end"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clamped"),
    )


# --------------------------------------------------------------------------
# Exact percentiles (linear interpolation) per group — an operator family
# the reference LACKED entirely (SURVEY §2.4: "No median/percentile");
# Spark's exact `percentile` and DuckDB's `quantile_cont` share the linear
# interpolation definition, so this is oracle-checkable bit-for-bit.
@query(
    "value_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6)  AS p50,
           round(quantile_cont(value, 0.9), 6)  AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# CUBE over (terminal, event_type) with grouping_id — the full grouping-set
# lattice in one pass (the reference emulated every grain with separate
# aggregations + unionAll, A6/SURVEY §2.4 note "no grouping sets anywhere").
@query(
    "cube_terminal_event",
    oracle="""
    WITH ev AS (
      SELECT CASE WHEN (event_id * 37) % 100000 < 50000 THEN 'tv' ELSE 'mobile' END AS terminal,
             event_type, value
      FROM events
    )
    SELECT coalesce(terminal, '-1') AS terminal,
           coalesce(event_type, '-1') AS event_type,
           cast(grouping(terminal) * 2 + grouping(event_type) as bigint) AS grouping_lvl,
           count(*) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM ev GROUP BY CUBE (terminal, event_type)
    """,
)
def cube_terminal_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.when((F.col("event_id") * 37) % 100000 < 50000, "tv")
        .otherwise("mobile")
        .alias("terminal"),
        "event_type",
        "value",
    )
    out = ev.cube("terminal", "event_type").agg(
        F.grouping_id().cast("bigint").alias("grouping_lvl"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "sum_value"),
    )
    return out.select(
        F.coalesce("terminal", F.lit("-1")).alias("terminal"),
        F.coalesce("event_type", F.lit("-1")).alias("event_type"),
        "grouping_lvl",
        "n_events",
        "sum_value",
    )


# --------------------------------------------------------------------------
# A7 scale path — HLL approximate distinct.  DuckDB's sketch differs, so
# the raw estimate can't be hash-compared — instead the query RETURNS the
# tolerance assertion: exact count + a boolean `approx_within_5pct`
# (HLL rsd 0.02 measured ≤1.5% error at sf0.001/0.01/0.1, so 5% has wide
# margin).  The oracle supplies exact + TRUE — the driver's hash compare
# thereby VERIFIES the sketch accuracy, not just row counts.
@query(
    "distinct_users_approx_daily",
    oracle="""
    SELECT (epoch_us(ts)//1000000)//86400 AS day_num,
           count(DISTINCT user_id) AS users_exact,
           true AS approx_within_5pct
    FROM events GROUP BY 1
    """,
)
def distinct_users_approx_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import distinct_users_approx, distinct_users_exact

    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    # both paths go through the operator library (the HLL operator is the
    # documented A7 scale path — keeping it on this query stops it rotting);
    # the join is two ~30-row aggregates, negligible
    exact = distinct_users_exact(ev, ["day_num"], "user_id", out_col="users_exact")
    approx = distinct_users_approx(
        ev, ["day_num"], "user_id", out_col="approx", rsd=0.02
    )
    out = exact.join(approx, "day_num")
    within = (
        F.abs(F.col("approx") - F.col("users_exact"))
        / F.col("users_exact")
    ) <= 0.05
    return out.select("day_num", "users_exact", within.alias("approx_within_5pct"))


# --------------------------------------------------------------------------
# A5 (true pivot spelling) — groupBy().pivot() with a fixed column list
# (the reference hand-wrote per-terminal CASE pivots, ChannelReport.scala:
# 1349-1417; fixed values keep the plan single-pass, no distinct-scan).
@query(
    "event_type_pivot",
    oracle="""
    SELECT user_id,
           cast(sum(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) as bigint) AS click,
           cast(sum(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) as bigint) AS view,
           cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint) AS purchase,
           cast(sum(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) as bigint) AS signup,
           cast(sum(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) as bigint) AS error
    FROM events GROUP BY user_id
    """,
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "signup", "error"])
        .agg(F.count(F.lit(1)))
    )
    # pivot of count yields nulls for absent cells; reference used sum(if())=0
    for c in ("click", "view", "purchase", "signup", "error"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)).cast("bigint"))
    return out


@query(
    "value_percentiles_approx",
    oracle="""
    SELECT event_type, cast(count(*) as bigint) AS n,
           true AS p50_ok, true AS p90_ok, true AS p99_ok
    FROM events GROUP BY event_type
    """,
)
def value_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for percentiles: `approx_percentile` (KLL-style sketch,
    mergeable across partitions — one pass, bounded memory, no global
    sort).  At 100 TB exact `percentile` materializes every value per
    group; the sketch is the only tractable spelling.

    The sketch value itself is engine-specific, so the query RETURNS the
    rank-error assertion instead: each approx percentile must land between
    the exact percentiles at q∓0.02 (the sketch's guarantee is rank error
    ≤ 1/accuracy = 0.001; 0.02 gives 20× margin).  The oracle supplies
    TRUE literals — the hash compare verifies sketch accuracy in the
    gate, not only in pytest."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.expr(f"approx_percentile(value, {q}, 1000)").alias(f"a{tag}")
            for q, tag in ((0.5, "50"), (0.9, "90"), (0.99, "99"))
        ],
        *[
            F.expr(f"percentile(value, {lo})").alias(f"lo{tag}")
            for lo, tag in ((0.48, "50"), (0.88, "90"), (0.97, "99"))
        ],
        *[
            F.expr(f"percentile(value, {hi})").alias(f"hi{tag}")
            for hi, tag in ((0.52, "50"), (0.92, "90"), (1.0, "99"))
        ],
    )
    cols = [
        F.col(f"a{t}").between(F.col(f"lo{t}"), F.col(f"hi{t}")).alias(f"p{t}_ok")
        for t in ("50", "90", "99")
    ]
    return agg.select("event_type", "n", *cols)


# --------------------------------------------------------------------------
# ProgramDemand realtime counter merge (homed/realtime/ProgramDemand.scala:
# 95-99): per-program counters merged with the previous snapshot via FULL
# OUTER JOIN where the two counters have DIFFERENT merge rules —
# play_count accumulates (nvl(f,0)+nvl(l,0)) but user_count resets to the
# current batch (nvl(f,0)): a program seen before but idle now keeps its
# lifetime play count with zero current viewers.  Snapshot = all days
# before the last; current batch = the last day.
@query(
    "program_demand_counter_merge",
    oracle="""
    WITH ev AS (
      SELECT event_type AS program, user_id,
             (epoch_us(ts)//1000000)//86400 AS day_num
      FROM events
    ),
    bounds AS (SELECT max(day_num) AS mx FROM ev),
    snapshot AS (
      SELECT program, count(*) AS l_play_count
      FROM ev, bounds WHERE day_num < mx GROUP BY program
    ),
    current AS (
      SELECT program, count(*) AS f_play_count,
             count(DISTINCT user_id) AS f_user_count
      FROM ev, bounds WHERE day_num = mx GROUP BY program
    )
    SELECT coalesce(c.program, s.program) AS program,
           cast(coalesce(c.f_play_count, 0) + coalesce(s.l_play_count, 0) as bigint) AS play_count,
           cast(coalesce(c.f_user_count, 0) as bigint) AS user_count
    FROM current c FULL OUTER JOIN snapshot s ON c.program = s.program
    """,
)
def program_demand_counter_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir).select(
        F.col("event_type").alias("program"), "user_id", F.expr("sec div 86400").alias("day_num")
    )
    # 1-row broadcast scalar instead of a driver-side collect (lazy plan)
    mx = F.broadcast(ev.agg(F.max("day_num").alias("mx")))
    snapshot = (
        ev.join(mx, F.col("day_num") < F.col("mx"))
        .groupBy(F.col("program").alias("l_program"))
        .agg(F.count(F.lit(1)).alias("l_play_count"))
    )
    current = ev.join(mx, F.col("day_num") == F.col("mx")).groupBy("program").agg(
        F.count(F.lit(1)).alias("f_play_count"),
        F.countDistinct("user_id").alias("f_user_count"),
    )
    merged = current.join(snapshot, current["program"] == snapshot["l_program"], "full_outer")
    return merged.select(
        F.coalesce("program", "l_program").alias("program"),
        (F.coalesce("f_play_count", F.lit(0)) + F.coalesce("l_play_count", F.lit(0)))
        .cast("bigint")
        .alias("play_count"),
        F.coalesce("f_user_count", F.lit(0)).cast("bigint").alias("user_count"),
    )


# --------------------------------------------------------------------------
# BusinessVisitCount user-array cycle (reference's biggest storage trick):
# the daily job packs per-user counters into "userId|playCount|playTime|
# deviceId" strings, collects them into ONE array row per (region,
# terminal, service) partition (`BusinessVisitCount.scala:524-607`
# saveBusinessArray), persists that day-partitioned, and the week/month/
# 7-day jobs re-read the packed table, explode + split('|') and re-reduce
# the counters per user, then per group (`:253-326`
# busVisitCountByCountType).  The pack turns |users| rows into 1 row per
# group — the reference's answer to Phoenix row-count pressure — and the
# cycle is lossless because the counters are integers.
#
# This query runs the FULL cycle against real files: pack → partitioned
# parquet write (S7/S8 sink) → read back → unpack → multi-day re-reduce.
# The oracle inlines the identical pack/unpack strings in SQL, so the
# string round-trip itself is hash-verified.  Scale: the pack keeps the
# write at one row per (day, region, terminal, service) — array size is
# bounded by the per-group user count; the unpack explode is a narrow
# per-partition op and the re-reduce shuffles ALREADY-REDUCED per-user
# rows, never raw events.


def _bus_array_path(spark: SparkSession, sf_dir: str) -> str:
    """Write the packed daily user-array table once per (session, sf):
    the saveBusinessArray analog."""

    def build():
        path = os.path.join(session_dir(spark, "homed_busarr_"), "t_bus_array_day")
        ev = load_table(spark, sf_dir, "events")
        k = F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0))
        daily = ev.select(
            F.expr("ts_sec div 86400").alias("f_date"),
            (F.lit(1) + F.col("user_id") % 3).alias("f_terminal"),
            F.concat(F.lit("rg_"), (F.col("user_id") % 20).cast("string")).alias(
                "f_region_id"
            ),
            F.col("event_type").alias("f_service_type"),
            F.col("user_id").alias("f_user_id"),
            (F.col("user_id") * 10 + k % 3).alias("f_device_id"),
            F.floor(F.col("value") * 10).cast("bigint").alias("play"),
        ).where(F.col("play") > 0)  # reference: `playtime > 0`
        per = daily.groupBy(
            "f_date", "f_terminal", "f_region_id", "f_service_type",
            "f_user_id", "f_device_id",
        ).agg(
            F.count(F.lit(1)).cast("bigint").alias("play_count"),
            F.sum("play").cast("bigint").alias("play_time"),
        )
        pack = F.concat_ws(
            "|",
            F.col("f_user_id"),
            F.col("play_count"),
            F.col("play_time"),
            F.col("f_device_id"),
        )
        packed = per.groupBy(
            "f_date", "f_region_id", "f_terminal", "f_service_type"
        ).agg(F.array_sort(F.collect_list(pack)).alias("f_user_array"))
        write_partitioned_fact(packed, path, ["f_date"], output_files_per_partition=1)
        return path

    return session_fixture(spark, sf_dir, "t_bus_array_day", build)


@query(
    "business_user_array_cycle",
    oracle="""
    WITH daily AS (
      SELECT (epoch_us(ts)//1000000)//86400 AS f_date,
             1 + user_id % 3 AS f_terminal,
             'rg_' || cast(user_id % 20 as varchar) AS f_region_id,
             event_type AS f_service_type,
             user_id AS f_user_id,
             user_id*10 + coalesce(cast(json_extract_string(props, '$.k') as bigint), 0) % 3
               AS f_device_id,
             cast(floor(value*10) as bigint) AS play
      FROM events
    ),
    per AS (
      SELECT f_date, f_terminal, f_region_id, f_service_type, f_user_id, f_device_id,
             cast(count(*) as bigint) AS play_count,
             cast(sum(play) as bigint) AS play_time
      FROM daily WHERE play > 0 GROUP BY ALL
    ),
    pack AS (
      SELECT f_date, f_region_id, f_terminal, f_service_type,
             cast(f_user_id as varchar) || '|' || cast(play_count as varchar)
               || '|' || cast(play_time as varchar) || '|' || cast(f_device_id as varchar) AS p
      FROM per
    ),
    unpacked AS (
      SELECT f_region_id, f_terminal, f_service_type, string_split(p, '|') AS a
      FROM pack
    ),
    per_user AS (
      SELECT f_region_id, f_terminal, f_service_type, a[1] AS f_user_id,
             cast(sum(cast(a[2] as bigint)) as bigint) AS play_count,
             cast(sum(cast(a[3] as bigint)) as bigint) AS play_time
      FROM unpacked GROUP BY ALL
    )
    SELECT f_region_id, f_terminal, f_service_type,
           cast(sum(play_time) as bigint)  AS f_play_time,
           cast(sum(play_count) as bigint) AS f_play_count,
           cast(count(*) as bigint)        AS f_user_count,
           cast(sum(CASE WHEN play_count >= 2 THEN 1 ELSE 0 END) as bigint)
             AS f_active_user_count
    FROM per_user
    GROUP BY ALL
    HAVING sum(play_count) > 0
    """,
)
def business_user_array_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _bus_array_path(spark, sf_dir)
    arr = spark.read.parquet(path)
    s = F.split(F.col("u"), "\\|")
    per_user = (
        arr.select(
            "f_region_id",
            "f_terminal",
            "f_service_type",
            F.explode("f_user_array").alias("u"),
        )
        .select(
            "f_region_id",
            "f_terminal",
            "f_service_type",
            s.getItem(0).alias("f_user_id"),
            s.getItem(1).cast("bigint").alias("play_count"),
            s.getItem(2).cast("bigint").alias("play_time"),
        )
        .groupBy("f_region_id", "f_terminal", "f_service_type", "f_user_id")
        .agg(
            F.sum("play_count").cast("bigint").alias("play_count"),
            F.sum("play_time").cast("bigint").alias("play_time"),
        )
    )
    return (
        per_user.groupBy("f_region_id", "f_terminal", "f_service_type")
        .agg(
            F.sum("play_time").cast("bigint").alias("f_play_time"),
            F.sum("play_count").cast("bigint").alias("f_play_count"),
            F.count(F.lit(1)).cast("bigint").alias("f_user_count"),
            F.sum(F.when(F.col("play_count") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("f_active_user_count"),
        )
        .where(F.col("f_play_count") > 0)
    )


# --------------------------------------------------------------------------
# S3/S4/S9 EXECUTED: the JDBC dim path against a real (embedded, in-JVM)
# Derby database — the Derby jars ship with Spark, so the reference's
# MySQL pattern (`utils/DBUtils.scala:56-63,75-112`, 295 call sites) runs
# end-to-end with no external service: S9 coalesced sink write, S3
# pushdown-subquery read (the DB computes the filter), S4 range-
# partitioned parallel read (one cursor per stride), then a broadcast
# join into the event fact.  The dim is regenerated deterministically so
# the DuckDB oracle reproduces it from generate_series.


def _jdbc_dim_url(spark: SparkSession, sf_dir: str) -> str:
    """Write the 30-row dim into embedded Derby once per (session, sf).

    The in-memory Derby DB lives exactly as long as the JVM, the same
    lifetime as the memo's applicationId key.
    """
    from ..sources.sinks import write_jdbc

    def build():
        url = "jdbc:derby:memory:homed_dim;create=true"
        i = F.col("id")
        dim = spark.range(0, 30).select(
            i.alias("id"),
            F.concat(F.lit("sg_"), (i % 5).cast("string")).alias("seg"),
            ((i * 3) % 7).alias("w"),
        )
        write_jdbc(
            dim,
            url,
            "jdbc_dim",
            mode="overwrite",
            num_partitions=2,
            properties={"driver": "org.apache.derby.jdbc.EmbeddedDriver"},
        )
        return url

    return session_fixture(spark, sf_dir, "jdbc_dim", build)


@query(
    "jdbc_dim_roundtrip",
    oracle="""
    WITH dim AS (
      SELECT i AS id, 'sg_' || cast(i % 5 as varchar) AS seg, (i*3) % 7 AS w
      FROM (SELECT unnest(generate_series(0, 29)) AS i)
    ),
    sub AS (SELECT id, seg FROM dim WHERE id < 20),
    part AS (SELECT id, w FROM dim),
    ev AS (SELECT user_id % 30 AS id FROM events WHERE event_type = 'view')
    SELECT s.seg,
           cast(count(*) as bigint) AS n_events,
           cast(sum(p.w) as bigint) AS sum_w
    FROM ev JOIN sub s USING (id) JOIN part p USING (id)
    GROUP BY s.seg
    """,
)
def jdbc_dim_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.jdbc import (
        jdbc_partitioned_options,
        jdbc_subquery_options,
        load_jdbc,
    )

    url = _jdbc_dim_url(spark, sf_dir)
    driver = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    # S3: pushdown subquery — Derby computes the filter (quoted columns:
    # Spark's JDBC writer creates case-sensitive identifiers)
    sub = load_jdbc(
        spark,
        jdbc_subquery_options(
            url, 'select "id", "seg" from jdbc_dim where "id" < 20', "", ""
        )
        | driver,
    )
    # S4: range-partitioned parallel read
    part = load_jdbc(
        spark,
        jdbc_partitioned_options(url, "jdbc_dim", "id", 0, 30, 4, "", "") | driver,
    ).select("id", "w")
    ev = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "view"
    ).select((F.col("user_id") % 30).alias("id"))
    return (
        ev.join(F.broadcast(sub), "id")
        .join(F.broadcast(part), "id")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("w").cast("bigint").alias("sum_w"),
        )
    )


# --------------------------------------------------------------------------
# SCD Type-2 history build: the warehouse-standard "slowly changing
# dimension" compaction the reference approximates with overwrite-by-PK
# state (homed/realtime/UserStatistics.scala keeps only the LATEST user
# state — SCD1); a training/analytics store needs the full validity-
# interval history (SCD2) to join facts as-of any past instant.  From the
# event log: per user, consecutive runs of the same tracked attribute
# (event_type here) compact to one row with [valid_from, valid_to) bounds,
# a version number, and the is_current flag; valid_to of the open row is
# NULL.  All three windows share the (user_id)-keyed sort — one exchange,
# keyed partitions, never global.
@query(
    "scd2_status_history",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    marked AS (
      SELECT user_id, event_type AS status, sec, event_id,
             CASE WHEN lag(event_type) OVER w IS NULL
                       OR event_type != lag(event_type) OVER w
                  THEN 1 ELSE 0 END AS chg
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    changes AS (SELECT user_id, status, sec, event_id FROM marked WHERE chg = 1),
    hist AS (
      SELECT user_id, status, sec AS valid_from_sec,
             lead(sec) OVER w AS valid_to_sec,
             cast(row_number() OVER w as bigint) AS version
      FROM changes WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    )
    SELECT user_id, status, valid_from_sec, valid_to_sec, version,
           (valid_to_sec IS NULL) AS is_current
    FROM hist
    """,
)
def scd2_status_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    chg = (
        F.lag("status").over(w).isNull()
        | (F.col("status") != F.lag("status").over(w))
    )
    changes = (
        ev.select("user_id", F.col("event_type").alias("status"), "sec", "event_id")
        .withColumn("chg", chg)
        .where("chg")
    )
    hist = changes.select(
        "user_id",
        "status",
        F.col("sec").alias("valid_from_sec"),
        F.lead("sec").over(w).alias("valid_to_sec"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )
    return hist.withColumn("is_current", F.col("valid_to_sec").isNull())


# --------------------------------------------------------------------------
# Manifest-pinned snapshot table: atomic commits, TIME TRAVEL, compaction
# that can't disturb readers (sources/snapshots.py — the Delta/Iceberg
# commit protocol in miniature, superseding the reference's drop/rename
# report refresh, MysqlToHive.scala:52-54).  The query drives the full
# lifecycle — v1 append (pre-1998 orders, 2 files), v2 append (the rest,
# +2 files), v3 compaction rewrite (same rows, 1 file) — then reads every
# version BACK through its manifest and aggregates.  The n_files column
# comes from the manifest itself, so the oracle's literals verify the
# commit protocol produced exactly the promised file sets, and v2 = v3
# row/sum equality proves compaction preserved the data.
_SNAP_CUT = "1998-01-01"


def _snapshot_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snap_"), "orders_snap")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders")
        early = orders.where(F.col("o_orderdate") < F.lit(_SNAP_CUT).cast("timestamp"))
        late = orders.where(F.col("o_orderdate") >= F.lit(_SNAP_CUT).cast("timestamp"))
        t.commit_append(early, n_files=2)            # v1
        t.commit_append(late, n_files=2)             # v2 = v1 files + 2
        t.commit_rewrite(t.read(spark, 2), n_files=1)  # v3: compaction
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_snap", build))


@query(
    "table_snapshot_timetravel",
    oracle=f"""
    SELECT * FROM (
      SELECT cast(1 as bigint) AS version, cast(count(*) as bigint) AS n_rows,
             cast(2 as bigint) AS n_files,
             cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total
      FROM orders WHERE o_orderdate < TIMESTAMP '{_SNAP_CUT} 00:00:00'
      UNION ALL
      SELECT cast(2 as bigint), cast(count(*) as bigint), cast(4 as bigint),
             cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double)
      FROM orders
      UNION ALL
      SELECT cast(3 as bigint), cast(count(*) as bigint), cast(1 as bigint),
             cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double)
      FROM orders
    ) ORDER BY version
    """,
)
def table_snapshot_timetravel(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapshot_table(spark, sf_dir)
    frames = []
    for v in t.versions():
        agg = t.read(spark, v).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        frames.append(
            agg.select(
                F.lit(v).cast("bigint").alias("version"),
                "n_rows",
                F.lit(len(t.files(v))).cast("bigint").alias("n_files"),
                "sum_total",
            )
        )
    out = frames[0]
    for extra in frames[1:]:
        out = out.unionByName(extra)
    return out.orderBy("version")


# --------------------------------------------------------------------------
# Snapshot diff — change-data derivation between two pinned versions (the
# Delta CDF / Iceberg changelog analog): v1 and v2 are manifests of the
# SAME table, so "what changed" is ONE full-outer join on the primary key
# comparing the value columns.  The fixture plants all four outcomes
# deterministically (keys mod 10: 0 removed, 9 added; mod 3: price
# restated; rest unchanged).  Scale: the join is PK-equi (bucket both
# sides at 100 TB for a shuffle-free SMJ); only keys + compared columns
# move, never whole rows.  Separate cached table from
# table_snapshot_timetravel's — diffing must not grow that query's
# version list.


def _snapdiff_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapdiff_"), "orders_cdc")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        v1 = orders.where(F.col("o_orderkey") % 10 < 9)
        v2 = orders.where(F.col("o_orderkey") % 10 > 0).select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + F.lit(100.0)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
        t.commit_rewrite(v1, n_files=2)
        t.commit_rewrite(v2, n_files=2)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_cdc", build))


@query(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 10 < 9
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 10 > 0
    ),
    d AS (
      SELECT CASE WHEN v1.o_orderkey IS NULL THEN 'added'
                  WHEN v2.o_orderkey IS NULL THEN 'removed'
                  WHEN v1.o_totalprice <> v2.o_totalprice THEN 'modified'
                  ELSE 'unchanged' END AS change,
             coalesce(v2.o_totalprice, 0.0) AS new_price
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT change, cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(new_price as decimal(27,6))) as varchar) as double) AS sum_new_price
    FROM d GROUP BY change
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapdiff_table(spark, sf_dir)
    v1 = t.read(spark, 1).select(
        F.col("o_orderkey").alias("k1"), F.col("o_totalprice").alias("p1")
    )
    v2 = t.read(spark, 2).select(
        F.col("o_orderkey").alias("k2"), F.col("o_totalprice").alias("p2")
    )
    d = v1.join(v2, v1["k1"] == v2["k2"], "full_outer").select(
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("p1") != F.col("p2"), "modified")
        .otherwise("unchanged")
        .alias("change"),
        F.coalesce(F.col("p2"), F.lit(0.0)).alias("new_price"),
    )
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("new_price"), "sum_new_price"),
    )


# --------------------------------------------------------------------------
# Zone-map data skipping over the snapshot table — the manifest-level
# min/max stats that make a 100 TB range scan read only the files that can
# match (Delta/Iceberg file skipping; parquet row-group pruning one level
# up).  The fixture commits orders year-by-year (7 files, each manifest
# entry carrying o_orderdate min/max), then scans a 2-year range: the
# n_files_scanned/n_files_total columns come from the MANIFEST's pruning
# decision, so the oracle's literals (2 of 7) verify the zone maps
# actually skipped, while n_rows/sum verify the surviving files + residual
# filter return exactly the right rows.
_PRUNE_LO = "1997-01-01 00:00:00"
_PRUNE_HI = "1998-12-31 23:59:59"


def _snapprune_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapzm_"), "orders_zm")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        # one commit per year: a bounded driver loop over the 7-value year
        # dim (the ingest cadence a nightly pipeline has anyway)
        for y in range(1995, 2002):
            t.commit_append(
                orders.where(F.year("o_orderdate") == y),
                n_files=1,
                stats_cols=["o_orderdate"],
            )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_zm", build))


@query(
    "snapshot_pruned_scan",
    oracle=f"""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(2 as bigint) AS n_files_scanned,
           cast(7 as bigint) AS n_files_total
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '{_PRUNE_LO}' AND TIMESTAMP '{_PRUNE_HI}'
    """,
)
def snapshot_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapprune_table(spark, sf_dir)
    pruned = t.pruned_files("o_orderdate", _PRUNE_LO, _PRUNE_HI)
    df = t.read_pruned(spark, "o_orderdate", _PRUNE_LO, _PRUNE_HI).where(
        F.col("o_orderdate").between(
            F.lit(_PRUNE_LO).cast("timestamp"), F.lit(_PRUNE_HI).cast("timestamp")
        )
    )
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("o_totalprice"), "sum_total"),
    ).select(
        "n_rows",
        "sum_total",
        F.lit(len(pruned)).cast("bigint").alias("n_files_scanned"),
        F.lit(len(t.files())).cast("bigint").alias("n_files_total"),
    )


# --------------------------------------------------------------------------
# Copy-on-write MERGE over the snapshot table (Delta MERGE INTO): the
# fixture's yearly layout means the merge batch — even-key 1997 price
# restatements plus brand-new synthetic keys — hits exactly ONE of the
# seven data files (and only PART of it, so the rewrite path runs), so
# the manifest after the merge carries 6 files UNCHANGED (no IO), 1
# rewritten without its matched rows, and 1 fresh file with the upserts.
# The n_files_carried/n_files_total columns come from manifest-path
# intersection, so the oracle's literals (6 of 8) verify the copy-on-write
# MINIMALITY, while n_rows/sum verify the merged state.  At 100 TB this is
# the point of clustered layout + zone maps: a merge touches the files its
# keys live in, not the table.


def _snapmerge_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapmg_"), "orders_mg")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        for y in range(1995, 2002):
            t.commit_append(
                orders.where(F.year("o_orderdate") == y),
                n_files=1,
                stats_cols=["o_orderdate"],
            )
        restated = orders.where(
            (F.year("o_orderdate") == 1997) & (F.col("o_orderkey") % 2 == 0)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(50.0)).alias("o_totalprice"),
            "o_orderdate",
        )
        inserts = orders.where(F.year("o_orderdate") == 2001).select(
            (F.col("o_orderkey") + F.lit(1000000000000)).alias("o_orderkey"),
            (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
            F.col("o_orderdate"),
        )
        t.commit_merge(
            restated.unionByName(inserts),
            key="o_orderkey",
            n_new_files=1,
            stats_cols=["o_orderdate"],
        )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_mg", build))


@query(
    "snapshot_merge_upsert",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey,
             CASE WHEN year(o_orderdate) = 1997 AND o_orderkey % 2 = 0
                  THEN o_totalprice + 50.0
                  ELSE o_totalprice END AS p
      FROM orders
      UNION ALL
      SELECT o_orderkey + 1000000000000, o_totalprice * 0.5
      FROM orders WHERE year(o_orderdate) = 2001
    )
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(p as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(6 as bigint) AS n_files_carried,
           cast(8 as bigint) AS n_files_total
    FROM merged
    """,
)
def snapshot_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapmerge_table(spark, sf_dir)
    vs = t.versions()
    pre, post = vs[-2], vs[-1]
    carried = len(set(t.files(pre)) & set(t.files(post)))
    return (
        t.read(spark, post)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(carried).cast("bigint").alias("n_files_carried"),
            F.lit(len(t.files(post))).cast("bigint").alias("n_files_total"),
        )
    )


# --------------------------------------------------------------------------
# Merge-on-read with DELETION VECTORS (Iceberg v2 positional deletes /
# Delta DVs) — the write-amplification counterpart to snapshot_merge_upsert's
# copy-on-write: a DELETE and a MERGE run against the same yearly-layout
# orders table, and NEITHER rewrites a data file.  Dead rows are recorded
# as (file, row-position) pairs in two DV parquet files the manifest lists;
# readers subtract them with a broadcast anti-join on the scan's
# _metadata.file_path/row_index columns.  n_files_carried = 7 of 7 parent
# files surviving BOTH verbs untouched (vs the CoW query's 6-of-8 after one
# merge) and n_delete_files = 2 are manifest arithmetic, so the oracle's
# literals verify the zero-rewrite claim while n_rows/sum_total verify the
# merged state.  At 100 TB this is the Delta/Iceberg answer to frequent
# small deletes/upserts on huge clustered files: write O(deleted rows),
# not O(hit-file bytes), and let OPTIMIZE fold the DVs in off-peak.


def _snapmor_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapmor_"), "orders_mor")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        for y in range(1995, 2002):
            t.commit_append(
                orders.where(F.year("o_orderdate") == y),
                n_files=1,
                stats_cols=["o_orderdate"],
            )
        # merge-on-read DELETE: a third of 1995 dies, zero files rewritten
        t.commit_delete(
            spark,
            (F.year("o_orderdate") == 1995) & (F.col("o_orderkey") % 3 == 0),
        )
        # merge-on-read MERGE: same restate+insert batch as the CoW query
        restated = orders.where(
            (F.year("o_orderdate") == 1997) & (F.col("o_orderkey") % 2 == 0)
        ).select(
            "o_orderkey",
            (F.col("o_totalprice") + F.lit(50.0)).alias("o_totalprice"),
            "o_orderdate",
        )
        inserts = orders.where(F.year("o_orderdate") == 2001).select(
            (F.col("o_orderkey") + F.lit(1000000000000)).alias("o_orderkey"),
            (F.col("o_totalprice") * F.lit(0.5)).alias("o_totalprice"),
            F.col("o_orderdate"),
        )
        t.commit_merge_on_read(
            restated.unionByName(inserts),
            key="o_orderkey",
            n_new_files=1,
            stats_cols=["o_orderdate"],
        )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_mor", build))


@query(
    "snapshot_merge_on_read",
    oracle="""
    WITH live AS (
      SELECT o_orderkey, o_totalprice, o_orderdate
      FROM orders
      WHERE NOT (year(o_orderdate) = 1995 AND o_orderkey % 3 = 0)
    ), merged AS (
      SELECT o_orderkey,
             CASE WHEN year(o_orderdate) = 1997 AND o_orderkey % 2 = 0
                  THEN o_totalprice + 50.0
                  ELSE o_totalprice END AS p
      FROM live
      UNION ALL
      SELECT o_orderkey + 1000000000000, o_totalprice * 0.5
      FROM orders WHERE year(o_orderdate) = 2001
    )
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(p as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(7 as bigint) AS n_files_carried,
           cast(8 as bigint) AS n_files_total,
           cast(2 as bigint) AS n_delete_files
    FROM merged
    """,
)
def snapshot_merge_on_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    t = _snapmor_table(spark, sf_dir)
    head = t.versions()[-1]
    pre_merge = 7  # the yearly-append lineage head, before delete+merge
    carried = len(set(t.files(pre_merge)) & set(t.files(head)))
    with open(os.path.join(t.manifest_dir, f"v{head}.json")) as f:
        n_dvs = len(_json.load(f).get("delete_files", []))
    return (
        t.read(spark, head)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(carried).cast("bigint").alias("n_files_carried"),
            F.lit(len(t.files(head))).cast("bigint").alias("n_files_total"),
            F.lit(n_dvs).cast("bigint").alias("n_delete_files"),
        )
    )


# --------------------------------------------------------------------------
# Merge-on-read UPDATE — the Delta `UPDATE ... SET` statement over the
# same yearly-layout orders table: every 1996 price is restated in place
# (+25.0) in ONE atomic commit, with the old rows killed by a deletion
# vector and the updated rows landing as one fresh file — NO data file
# rewritten (n_files_carried=7 of 7), write cost O(matched rows).  The
# oracle replays the UPDATE as a CASE projection; the protocol literals
# pin zero rewrite amplification and the single-DV commit.


def _snapupd_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapupd_"), "orders_upd")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        for y in range(1995, 2002):
            t.commit_append(
                orders.where(F.year("o_orderdate") == y),
                n_files=1,
                stats_cols=["o_orderdate"],
            )
        t.commit_update(
            spark,
            F.year("o_orderdate") == 1996,
            {"o_totalprice": F.col("o_totalprice") + F.lit(25.0)},
            stats_cols=["o_orderdate"],
        )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_upd", build))


@query(
    "snapshot_update_inplace",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(
             CASE WHEN year(o_orderdate) = 1996
                  THEN o_totalprice + 25.0 ELSE o_totalprice END
             as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(7 as bigint) AS n_files_carried,
           cast(8 as bigint) AS n_files_total,
           cast(1 as bigint) AS n_delete_files
    FROM orders
    """,
)
def snapshot_update_inplace(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json as _json

    t = _snapupd_table(spark, sf_dir)
    head = t.versions()[-1]
    carried = len(set(t.files(7)) & set(t.files(head)))
    with open(os.path.join(t.manifest_dir, f"v{head}.json")) as f:
        n_dvs = len(_json.load(f).get("delete_files", []))
    return (
        t.read(spark, head)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(carried).cast("bigint").alias("n_files_carried"),
            F.lit(len(t.files(head))).cast("bigint").alias("n_files_total"),
            F.lit(n_dvs).cast("bigint").alias("n_delete_files"),
        )
    )


# --------------------------------------------------------------------------
# WRITE-AUDIT-PUBLISH (the Iceberg WAP pattern): an ingest lands as a
# STAGED commit no reader resolves; an audit job queries the would-be
# state; publish is one atomic manifest rename, abort deletes the files
# with nothing ever visible.  The fixture ingests 1998 twice: first a
# POISONED batch (every 7th price negated) that the audit rule
# (min(o_totalprice) >= 0) rejects -> abort; then the clean batch ->
# publish.  The oracle pins the business state (1995-1998, no negatives
# ever visible) AND the protocol: n_versions=2 proves the abort left no
# version behind, n_staged_left=0 proves both staged manifests resolved.
# At 100 TB the expensive write happens ONCE and quality gating is a
# metadata decision — no quarantine copy, no double write.


def _snapwap_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapwap_"), "orders_wap")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        t.commit_append(
            orders.where(F.year("o_orderdate").between(1995, 1997)), n_files=2
        )
        y1998 = orders.where(F.year("o_orderdate") == 1998)
        # ingest attempt 1: poisoned (every 7th key's price negated)
        poisoned = y1998.select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 7 == 0, -F.col("o_totalprice")
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderdate",
        )
        sid = t.stage_commit(poisoned, n_files=1)
        bad = t.read_staged(spark, sid).where(F.col("o_totalprice") < 0).limit(1)
        assert bad.count() > 0  # the audit rule fires
        t.abort_staged(sid)
        # ingest attempt 2: clean
        sid = t.stage_commit(y1998, n_files=1)
        ok = (
            t.read_staged(spark, sid).where(F.col("o_totalprice") < 0).limit(1)
        )
        assert ok.count() == 0
        t.publish_staged(sid)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_wap", build))


@query(
    "snapshot_wap_publish",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double)
             AS sum_total,
           cast(0 as bigint) AS n_negative_visible,
           cast(2 as bigint) AS n_versions,
           cast(0 as bigint) AS n_staged_left
    FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1998
    """,
)
def snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapwap_table(spark, sf_dir)
    return (
        t.read(spark)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
            F.sum((F.col("o_totalprice") < 0).cast("bigint"))
            .cast("bigint")
            .alias("n_negative_visible"),
        )
        .select(
            "n_rows",
            "sum_total",
            "n_negative_visible",
            F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
            F.lit(len(t.staged_ids())).cast("bigint").alias("n_staged_left"),
        )
    )


# --------------------------------------------------------------------------
# RESTORE — rollback as a forward commit (Delta RESTORE semantics): a bad
# deploy overwrites the table with a corrupted build (here: every price
# zeroed); restore(v1) publishes a NEW version pointing at v1's untouched
# files, so the fix is itself auditable, time-travelable, and moves ZERO
# data (manifest-only).  The query reads the restored head AND the bad
# version it rolled back over: sum_total_restored equals the clean build,
# sum_total_bad is 0, and n_versions=3 pins the never-rewrite-history
# contract (v2 stays readable for the post-mortem).


def _snaprestore_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snaprs_"), "orders_rs")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        t.commit_rewrite(orders, n_files=2)  # v1: the good build
        t.commit_rewrite(                    # v2: the corrupted deploy
            orders.withColumn("o_totalprice", F.lit(0.0)), n_files=2
        )
        t.restore(1)                         # v3: rollback, zero data moved
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_rs", build))


@query(
    "snapshot_restore",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total_restored,
           cast(0.0 as double) AS sum_total_bad,
           cast(3 as bigint) AS n_versions
    FROM orders
    """,
)
def snapshot_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snaprestore_table(spark, sf_dir)
    head = t.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("o_totalprice"), "sum_total_restored"),
    )
    bad = F.broadcast(
        t.read(spark, 2).agg(dsum(F.col("o_totalprice"), "sum_total_bad"))
    )
    return head.crossJoin(bad).select(
        "n_rows",
        "sum_total_restored",
        "sum_total_bad",
        F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
    )


# --------------------------------------------------------------------------
# Additive schema evolution — the lakehouse contract that lets a pipeline
# add a column WITHOUT rewriting history: v1 commits (o_orderkey,
# o_totalprice); v2 appends rows that also carry a `discount` column; a
# merge-schema read reconciles both vintages, surfacing NULL discount for
# pre-evolution rows.  The oracle mirrors the vintage split with the same
# modular rule, so the hash verifies both the union schema and the
# null-backfill semantics.  Zero data movement: old files are never
# touched (contrast ALTER TABLE + full rewrite).


def _snapevo_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapev_"), "orders_ev")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders")
        old = orders.where(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        )
        new = orders.where(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_totalprice") * F.lit(0.1)).alias("discount"),
        )
        t.commit_append(old, n_files=1)
        t.commit_append(new, n_files=1)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_ev", build))


@query(
    "snapshot_schema_evolution",
    oracle="""
    WITH unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS discount
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_totalprice * 0.1 AS discount
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(count(discount) as bigint) AS n_with_discount,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(cast(sum(cast(coalesce(discount, 0.0) as decimal(27,6))) as varchar) as double) AS sum_discount
    FROM unioned
    """,
)
def snapshot_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapevo_table(spark, sf_dir)
    df = t.read(spark, merge_schema=True)
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count("discount").cast("bigint").alias("n_with_discount"),
        dsum(F.col("o_totalprice"), "sum_total"),
        dsum(F.coalesce(F.col("discount"), F.lit(0.0)), "sum_discount"),
    )


# --------------------------------------------------------------------------
# Incremental consumption — the downstream-job shape for append-only
# snapshot lineage: read exactly the files COMMITTED AFTER the checkpoint
# version, never rescanning the table (cost O(new files), the nightly-ETL
# contract Delta's change feed serves for appends).  Reuses the yearly
# zone-map table READ-ONLY: the increment v2→v7 is precisely the 1997-2001
# commits, so the oracle's year filter + the 5-file literal verify both
# the row-level result and the file-set arithmetic.  A rewrite inside the
# range fails loudly (tested) — file subtraction is only change data when
# the lineage is append-only; key-level diffs are snapshot_diff's job.
@query(
    "snapshot_incremental_read",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(5 as bigint) AS n_files_new
    FROM orders WHERE year(o_orderdate) >= 1997
    """,
)
def snapshot_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapprune_table(spark, sf_dir)
    inc = t.incremental_files(2)  # checkpointed at v2 = years 1995-1996
    return (
        t.read_incremental(spark, 2)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(len(inc)).cast("bigint").alias("n_files_new"),
        )
    )


# --------------------------------------------------------------------------
# Manifest-level PARTITION pruning — the first skipping tier a lakehouse
# table offers (Delta/Iceberg partition values per file; the reference's
# day-partitioned facts get this from Hive directory layout,
# `etl/MysqlToHive.scala:52-54`).  ONE Hive-partitioned commit lands the 7
# order years as 7 files whose manifest entries carry {"o_year": value}
# straight from the col=value path segments; the 2-year scan drops 5 of 7
# entries WITHOUT opening any file (partition pruning beats zone maps: no
# stats comparison, no residual filter — the partition IS the predicate).
# The oracle's 2-of-7 literals verify the pruning decision itself;
# n_rows/sum verify the surviving partitions return exactly the range.


def _snappart_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snappt_"), "orders_pt")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumn("o_year", F.year("o_orderdate"))
        )
        # ONE commit: the partitioned writer fans out per year (vs the
        # zone-map fixture's per-year ingest loop) and the footer stats
        # attach in the same pass
        t.commit_append(
            orders, n_files=1, stats_cols=["o_orderdate"], partition_by=["o_year"]
        )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_pt", build))


@query(
    "snapshot_partition_pruned_scan",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(2 as bigint) AS n_files_scanned,
           cast(7 as bigint) AS n_files_total
    FROM orders WHERE year(o_orderdate) IN (1997, 1998)
    """,
)
def snapshot_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snappart_table(spark, sf_dir)
    want = {"o_year": [1997, 1998]}
    entries = t.pruned_entries(partitions=want)
    # no residual row filter: partition values ARE the predicate (exact),
    # unlike zone maps where file granularity demands one
    return (
        t.read_pruned(spark, partitions=want)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(len(entries)).cast("bigint").alias("n_files_scanned"),
            F.lit(len(t.files())).cast("bigint").alias("n_files_total"),
        )
    )


# --------------------------------------------------------------------------
# OPTIMIZE end-to-end with zone-map refresh — the layout story the pruned
# scan depends on: a hash-scattered ingest (7 slices by order KEY) leaves
# every file spanning the full date domain, so the 2-year range scan reads
# ALL 7 files; one clustering commit_rewrite (range-partition + sort on
# o_orderdate, footer stats recomputed from the new files) makes the SAME
# rows prune to <=3 of 7 files.  Readers of the scattered version are
# undisturbed (its manifest is immutable), which is why OPTIMIZE is safe
# to run online.  The oracle pins the scattered count (7 = nothing
# pruned), the strict improvement, the bound, and the row-level result
# from the clustered pruned read.


def _snapclust_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapcl_"), "orders_cl")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate"
        )
        # scattered ingest: each of the 7 files spans every order year
        for m in range(7):
            t.commit_append(
                orders.where(F.col("o_orderkey") % 7 == m),
                n_files=1,
                stats_cols=["o_orderdate"],
            )
        # OPTIMIZE: same rows, clustered layout, stats refreshed from the
        # new files' footers
        t.commit_rewrite(
            t.read(spark),
            n_files=7,
            stats_cols=["o_orderdate"],
            cluster_by=["o_orderdate"],
        )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_cl", build))


@query(
    "snapshot_clustering_rewrite",
    oracle=f"""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(7 as bigint) AS files_scanned_scattered,
           true AS pruning_improved,
           true AS clustered_within_bound
    FROM orders
    WHERE o_orderdate BETWEEN TIMESTAMP '{_PRUNE_LO}' AND TIMESTAMP '{_PRUNE_HI}'
    """,
)
def snapshot_clustering_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snapclust_table(spark, sf_dir)
    v_scattered = 7  # head before the OPTIMIZE rewrite (8 = clustered)
    before = len(
        t.pruned_files("o_orderdate", _PRUNE_LO, _PRUNE_HI, version=v_scattered)
    )
    after = len(t.pruned_files("o_orderdate", _PRUNE_LO, _PRUNE_HI))
    df = t.read_pruned(spark, "o_orderdate", _PRUNE_LO, _PRUNE_HI).where(
        F.col("o_orderdate").between(
            F.lit(_PRUNE_LO).cast("timestamp"), F.lit(_PRUNE_HI).cast("timestamp")
        )
    )
    # the 2-year window covers 2/7 of the date domain: disjoint range files
    # can overlap it in at most ceil(2/7*7)+1 = 3 files
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("o_totalprice"), "sum_total"),
    ).select(
        "n_rows",
        "sum_total",
        F.lit(before).cast("bigint").alias("files_scanned_scattered"),
        F.lit(after < before).alias("pruning_improved"),
        F.lit(after <= 3).alias("clustered_within_bound"),
    )


# --------------------------------------------------------------------------
# PARTITION EVOLUTION — Iceberg's flagship spec-change story, end-to-end:
# a table starts flat (years <= 1998, zone-mapped on o_year), then DECLARES
# a new partition scheme (commit_append(partition_by=["o_year"],
# evolve=True)) and lands 1999-2001 as Hive-partitioned files — OLD FILES
# ARE NEVER REWRITTEN.  Readers union the layout generations (grouped
# scans); a DV delete then kills rows in BOTH generations in one commit.
# Scan planning after evolution is the two-tier contract: a new-range scan
# (2000-01) keeps exactly the 2 matching PARTITIONED entries (the flat
# generation, unprunable by partition values it never recorded, dies by
# its o_year ZONE MAPS instead); an old-range scan (1995-96) drops all 3
# partitioned entries by manifest values and keeps the 2 flat files.  The
# oracle pins both file counts, both ranges' live aggregates, and the
# version count — pruning decisions, row-level DV subtraction, and the
# no-rewrite protocol all verified in one row.


def _snap_partition_evo_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapevo_"), "orders_evo")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumn("o_year", F.year("o_orderdate"))
        )
        # v1: the pre-evolution generation — flat layout, zone-mapped
        t.commit_append(
            orders.where(F.col("o_year") <= 1998), n_files=2, stats_cols=["o_year"]
        )
        # v2: partition evolution declared — new data lands partitioned,
        # old files keep their layout forever
        t.commit_append(
            orders.where(F.col("o_year") >= 1999),
            n_files=1,
            partition_by=["o_year"],
            evolve=True,
        )
        # v3: one DV delete spanning BOTH layout generations
        t.commit_delete(spark, F.col("o_orderkey") % 7 == 0)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_evo", build))


@query(
    "snapshot_partition_evolution",
    oracle="""
    WITH live AS (SELECT * FROM orders WHERE o_orderkey % 7 <> 0)
    SELECT
      cast(sum(CASE WHEN year(o_orderdate) IN (2000, 2001) THEN 1 ELSE 0 END) as bigint)
        AS n_rows_new_gen,
      cast(cast(sum(CASE WHEN year(o_orderdate) IN (2000, 2001)
                         THEN cast(o_totalprice as decimal(27,6)) END) as varchar) as double)
        AS sum_new_gen,
      cast(sum(CASE WHEN year(o_orderdate) IN (1995, 1996) THEN 1 ELSE 0 END) as bigint)
        AS n_rows_old_gen,
      cast(cast(sum(CASE WHEN year(o_orderdate) IN (1995, 1996)
                         THEN cast(o_totalprice as decimal(27,6)) END) as varchar) as double)
        AS sum_old_gen,
      cast(2 as bigint) AS n_files_scanned_new,
      cast(2 as bigint) AS n_files_scanned_old,
      cast(3 as bigint) AS n_versions
    FROM live
    """,
)
def snapshot_partition_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_partition_evo_table(spark, sf_dir)
    new_want = {"o_year": [2000, 2001]}
    old_want = {"o_year": [1995, 1996]}
    # tier-1 partition pruning + tier-2 zone maps, the evolved-table scan:
    new_entries = t.pruned_entries(col="o_year", lo=2000, hi=2001, partitions=new_want)
    old_entries = t.pruned_entries(col="o_year", lo=1995, hi=1996, partitions=old_want)
    new_agg = (
        t.read_pruned(spark, col="o_year", lo=2000, hi=2001, partitions=new_want)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_new_gen"),
            dsum(F.col("o_totalprice"), "sum_new_gen"),
        )
    )
    old_agg = (
        t.read_pruned(spark, col="o_year", lo=1995, hi=1996, partitions=old_want)
        .where(F.col("o_year").isin(1995, 1996))  # residual: zone maps are file-granular
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows_old_gen"),
            dsum(F.col("o_totalprice"), "sum_old_gen"),
        )
    )
    return (
        new_agg.crossJoin(old_agg)  # two 1-row scalar readouts
        .select(
            "n_rows_new_gen",
            "sum_new_gen",
            "n_rows_old_gen",
            "sum_old_gen",
            F.lit(len(new_entries)).cast("bigint").alias("n_files_scanned_new"),
            F.lit(len(old_entries)).cast("bigint").alias("n_files_scanned_old"),
            F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
        )
    )


# --------------------------------------------------------------------------
# PARTITIONED OPTIMIZE — the standard nightly lakehouse maintenance job on
# the reference's day-partitioned fact shape (`etl/LogDelayPatch.scala:43-54`
# overwrites partition(day); Delta's `OPTIMIZE table WHERE part=...`): a
# drip-fed ingest leaves 4 small files in each of the 7 year partitions
# (28 total) plus a deletion vector from a retention DELETE; ONE
# commit_compact_small bin-packs each partition's files into a single
# packed file THAT STAYS UNDER ITS col=value DIRECTORY with its manifest
# partitions tag — tier-1 partition pruning survives the rewrite, and the
# DV-dead rows vanish for good.  The oracle pins the file counts before
# (28) and after (7), the post-OPTIMIZE pruning decision (2 entries for a
# 2-year probe), the DV-fold (no delete_files left), and the live
# row-level aggregate.


def _snap_popt_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snappo_"), "orders_po")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumn("o_year", F.year("o_orderdate"))
        )
        # drip ingest: 4 small commits, each landing 1 file per partition
        for m in range(4):
            t.commit_append(
                orders.where(F.col("o_orderkey") % 4 == m),
                n_files=1,
                stats_cols=["o_orderkey"],
                partition_by=["o_year"],
            )
        # retention DELETE -> deletion vector (no rewrite yet)
        t.commit_delete(spark, F.col("o_orderkey") % 10 == 3)
        # the nightly OPTIMIZE: per-partition bin-pack, DVs folded in
        t.commit_compact_small(spark, threshold_bytes=1 << 30, n_files=1)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_po", build))


@query(
    "snapshot_partitioned_optimize",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(28 as bigint) AS n_files_before,
           cast(7 as bigint) AS n_files_after,
           cast(2 as bigint) AS n_pruned_probe,
           true AS dvs_folded
    FROM orders WHERE o_orderkey % 10 <> 3
    """,
)
def snapshot_partitioned_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_popt_table(spark, sf_dir)
    head = t.versions()[-1]
    before = len(t.files(head - 1))  # the DV version still lists 28 files
    after_entries = t._manifest(head)["files"]
    probe = t.pruned_entries(partitions={"o_year": [1997, 1998]})
    dvs_folded = not t._manifest(head).get("delete_files") and all(
        "partitions" in e for e in after_entries
    )
    return (
        t.read(spark, head)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(before).cast("bigint").alias("n_files_before"),
            F.lit(len(after_entries)).cast("bigint").alias("n_files_after"),
            F.lit(len(probe)).cast("bigint").alias("n_pruned_probe"),
            F.lit(bool(dvs_folded)).alias("dvs_folded"),
        )
    )


# --------------------------------------------------------------------------
# PARTITIONED COPY-ON-WRITE MERGE — MERGE INTO the day-partitioned fact
# itself (the table shape the reference actually patches,
# `etl/LogDelayPatch.scala:43-54`): updates touch two of the seven year
# partitions, so five partition files carry PATH-IDENTICAL (zero IO), the
# two hit files are rewritten without their matched rows and RELOCATED
# BACK inside their own o_year=N directory, and the update rows land
# Hive-partitioned by the table's declared layout.  Tier-1 partition
# pruning survives: the post-merge manifest still routes a single-year
# probe by partition values alone.  The oracle pins the carried/rewritten
# file accounting, the layout-preservation invariant, and the row-level
# upsert result (prices of matched keys replaced, everything else
# untouched).


def _snap_pmerge_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snappm_"), "orders_pm")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumn("o_year", F.year("o_orderdate"))
        )
        t.commit_append(
            orders, n_files=1, stats_cols=["o_orderkey"], partition_by=["o_year"]
        )
        # the late-data patch: every 13th key in 1997/1998 gets its price
        # restated (+1000.50); updates carry the partition column
        upd = orders.where(
            (F.col("o_year").isin(1997, 1998)) & (F.col("o_orderkey") % 13 == 0)
        ).withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(27,6)") + F.lit(1000.50)).cast(
                orders.schema["o_totalprice"].dataType
            ),
        )
        t.commit_merge(upd, key="o_orderkey", stats_cols=["o_orderkey"])
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_pm", build))


@query(
    "snapshot_partitioned_merge",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(
             CASE WHEN year(o_orderdate) IN (1997, 1998) AND o_orderkey % 13 = 0
                  THEN cast(cast(o_totalprice as decimal(27,6)) + 1000.50
                       as decimal(15,2))
                  ELSE o_totalprice END
             as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(5 as bigint) AS n_files_carried,
           true AS layout_preserved,
           cast(1 as bigint) AS n_probe_1996
    FROM orders
    """,
)
def snapshot_partitioned_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_pmerge_table(spark, sf_dir)
    head = t.versions()[-1]
    carried = len(set(t.files(head - 1)) & set(t.files(head)))
    entries = t._manifest(head)["files"]
    layout_ok = all(
        "partitions" in e and f"o_year={e['partitions']['o_year']}" in e["path"]
        for e in entries
    )
    probe = t.pruned_entries(partitions={"o_year": 1996})
    return (
        t.read(spark, head)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(carried).cast("bigint").alias("n_files_carried"),
            F.lit(bool(layout_ok)).alias("layout_preserved"),
            F.lit(len(probe)).cast("bigint").alias("n_probe_1996"),
        )
    )


# --------------------------------------------------------------------------
# CHECK CONSTRAINTS — Delta `ALTER TABLE ADD CONSTRAINT` parity: declaring
# the rule is a metadata-only commit that first validates EXISTING rows
# (one scan); every subsequent ingest verb validates its batch in ONE
# combined-predicate pass and refuses the commit whole on a violation —
# the quarantine-free quality gate a 100 TB ingest needs (WAP covers
# audit-then-publish; constraints cover always-on invariants).  The query
# pins: the blessing scan (a rule the data already violates is refused),
# the violating append being refused with the HEAD UNMOVED, NULL passing
# (SQL CHECK semantics), and the metadata-only protocol (file list
# unchanged by the constraint commit).


def _snap_cons_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapck_"), "orders_ck")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
        )
        t.commit_append(orders, n_files=2, stats_cols=["o_orderkey"])
        outcomes = {}
        # blessing scan: totalprice is never negative -> accepted
        try:
            t.add_constraint(spark, "price_nonneg", "o_totalprice >= 0")
            outcomes["bless_ok"] = True
        except ConstraintViolationError:
            outcomes["bless_ok"] = False
        # a rule the existing data violates -> refused at declaration
        try:
            t.add_constraint(spark, "impossible", "o_totalprice > 900000000")
            outcomes["bless_bad_refused"] = False
        except ConstraintViolationError:
            outcomes["bless_bad_refused"] = True
        head_before = t.versions()[-1]
        # violating append refused whole, head unmoved
        bad = orders.limit(5).withColumn(
            "o_totalprice",
            (F.col("o_totalprice") * F.lit(-1)).cast(
                orders.schema["o_totalprice"].dataType
            ),
        )
        try:
            t.commit_append(bad)
            outcomes["violation_refused"] = False
        except ConstraintViolationError:
            outcomes["violation_refused"] = t.versions()[-1] == head_before
        outcomes["files_unchanged_by_decl"] = t.files(head_before) == t.files(
            head_before - 1
        )
        return path, outcomes

    path, outcomes = session_fixture(spark, sf_dir, "orders_ck", build)
    return SnapshotTable(path), outcomes


@query(
    "snapshot_check_constraints",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(1 as bigint) AS n_constraints,
           true AS bless_ok,
           true AS bless_bad_refused,
           true AS violation_refused,
           true AS files_unchanged_by_decl
    FROM orders
    """,
)
def snapshot_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    t, st = _snap_cons_table(spark, sf_dir)
    return (
        t.read(spark)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "n_rows",
            "sum_total",
            F.lit(len(t.constraints())).cast("bigint").alias("n_constraints"),
            F.lit(bool(st["bless_ok"])).alias("bless_ok"),
            F.lit(bool(st["bless_bad_refused"])).alias("bless_bad_refused"),
            F.lit(bool(st["violation_refused"])).alias("violation_refused"),
            F.lit(bool(st["files_unchanged_by_decl"])).alias(
                "files_unchanged_by_decl"
            ),
        )
    )


# --------------------------------------------------------------------------
# COLUMN MAPPING — Delta column-mapping parity: RENAME and DROP as
# metadata-only commits on an immutable-file table (at 100 TB a rename
# must never rewrite a byte).  Readers alias the physical column to its
# logical name per VERSION (time travel shows each version's own names);
# ingest verbs reverse-map logical batches; the zone-map probe translates
# the logical column to the physical stats key.  The query renames
# o_totalprice -> amount, upserts THROUGH the new name (MoR merge), drops
# o_orderpriority, and pins: the file list untouched by both DDL commits,
# the old name live at v1 (time travel), and the post-merge aggregate
# under the new name.


def _snap_cmap_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapcm_"), "orders_cm")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice", "o_orderdate", "o_orderpriority"
        )
        t.commit_append(orders, n_files=2, stats_cols=["o_orderkey"])
        t.rename_column(spark, "o_totalprice", "amount")  # v2, metadata-only
        # upsert THROUGH the logical name: every 97th order doubled
        upd = (
            t.read(spark)
            .where(F.col("o_orderkey") % 97 == 0)
            .withColumn(
                "amount",
                (F.col("amount").cast("decimal(27,6)") * 2).cast(
                    orders.schema["o_totalprice"].dataType
                ),
            )
        )
        t.commit_merge_on_read(upd, key="o_orderkey")  # v3
        t.drop_column(spark, "o_orderpriority")  # v4, metadata-only
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_cm", build))


@query(
    "snapshot_column_mapping",
    oracle="""
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(
             CASE WHEN o_orderkey % 97 = 0
                  THEN cast(cast(o_totalprice as decimal(27,6)) * 2
                       as decimal(15,2))
                  ELSE o_totalprice END
             as decimal(27,6))) as varchar) as double) AS sum_amount,
           cast(3 as bigint) AS n_cols_head,
           true AS ddl_metadata_only,
           true AS old_name_at_v1
    FROM orders
    """,
)
def snapshot_column_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_cmap_table(spark, sf_dir)
    head = t.versions()[-1]
    # both DDL commits (v2 rename, v4 drop) must not move a single file
    ddl_meta = t.files(2) == t.files(1) and t.files(4) == t.files(3)
    old_at_v1 = "o_totalprice" in t.read(spark, 1).columns and (
        "o_orderpriority" not in t.read(spark, head).columns
    )
    df = t.read(spark, head)
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("amount"), "sum_amount"),
    ).select(
        "n_rows",
        "sum_amount",
        F.lit(len(df.columns)).cast("bigint").alias("n_cols_head"),
        F.lit(bool(ddl_meta)).alias("ddl_metadata_only"),
        F.lit(bool(old_at_v1)).alias("old_name_at_v1"),
    )


# --------------------------------------------------------------------------
# EVOLVED-TYPE FIDELITY — the r9 correctness pin for the manifest's
# partition-type record.  Hive layout stores partition values as directory
# STRINGS; without a recorded logical type, Spark's partition-type
# inference silently narrows a committed bigint to int (a rewrite then
# bakes INT32 into data files and the table becomes unreadable once an
# INT64 file joins it — the exact crash the r8 model-based test found) and
# destroys numeric-looking strings ('0005' -> 5).  This query drives the
# full hazard sequence — evolved partitioned append (bigint values beyond
# 2^31 AND a leading-zero string code, nested layout) -> flat OPTIMIZE
# rewrite fed from read() -> flat append -> read — and pins both the
# round-tripped VALUES and the round-tripped Spark TYPES against the
# oracle.  Reference provenance: the partitioned refresh cycle this
# protects is the `etl/MysqlToHive.scala:52-54` drop/rename swap shape,
# rebuilt on manifests.


def _snap_type_fidelity_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapty_"), "orders_ty")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumns(
                {
                    # bigint partition values beyond 2^31: inference would
                    # narrow these to a garbage int
                    "big_year": (F.year("o_orderdate") + F.lit(5_000_000_000))
                    .cast("bigint"),
                    # numeric-looking STRING code with a leading zero:
                    # inference would parse '0005' to 5
                    "s_code": F.lpad(
                        (F.year("o_orderdate") - F.lit(1990)).cast("string"),
                        4,
                        "0",
                    ),
                }
            )
        )
        # v1: Hive-partitioned append, both hazard columns path-encoded
        t.commit_append(
            orders.where(F.col("o_orderkey") % 2 == 0),
            n_files=1,
            partition_by=["big_year", "s_code"],
        )
        # v2: flat OPTIMIZE rewrite FED FROM read() — pre-fix this baked
        # the narrowed types into the data files
        t.commit_rewrite(t.read(spark), n_files=1)
        # v3: flat append of the other half at the committed (wide) types —
        # pre-fix the mixed INT32/INT64 files made the table unreadable
        t.commit_append(
            orders.where(F.col("o_orderkey") % 2 == 1), n_files=1, evolve=True
        )
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_ty", build))


@query(
    "snapshot_evolved_type_fidelity",
    oracle="""
    WITH src AS (
      SELECT o_totalprice,
             year(o_orderdate) + 5000000000 AS big_year,
             lpad(cast(year(o_orderdate) - 1990 as varchar), 4, '0') AS s_code
      FROM orders
    )
    SELECT cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar) as double) AS sum_total,
           cast(min(big_year) as bigint) AS min_big_year,
           cast(max(big_year) as bigint) AS max_big_year,
           'bigint' AS big_year_type,
           min(s_code) AS min_code,
           cast(sum(CASE WHEN s_code = '0005' THEN 1 ELSE 0 END) as bigint) AS n_code_0005,
           'string' AS s_code_type,
           cast(3 as bigint) AS n_versions
    FROM src
    """,
)
def snapshot_evolved_type_fidelity(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_type_fidelity_table(spark, sf_dir)
    df = t.read(spark)
    types = dict(df.dtypes)
    return df.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("o_totalprice"), "sum_total"),
        F.min("big_year").cast("bigint").alias("min_big_year"),
        F.max("big_year").cast("bigint").alias("max_big_year"),
        F.min("s_code").alias("min_code"),
        F.sum(F.when(F.col("s_code") == "0005", 1).otherwise(0))
        .cast("bigint")
        .alias("n_code_0005"),
    ).select(
        "n_rows",
        "sum_total",
        "min_big_year",
        "max_big_year",
        # the round-tripped SPARK TYPES are part of the contract: the
        # oracle pins them as literals, so a re-narrowing regression
        # hash-mismatches even if the values happen to survive
        F.lit(types["big_year"]).alias("big_year_type"),
        "min_code",
        "n_code_0005",
        F.lit(types["s_code"]).alias("s_code_type"),
        F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
    )


# --------------------------------------------------------------------------
# FILES METADATA TABLE — the maintenance planner's view (Iceberg
# `table.files` / Delta DESCRIBE DETAIL; reference has no table format at
# all — its nearest analogue is the per-day Hive partition bookkeeping in
# `etl/LogDelayPatch.scala:43-54`).  The query pins that files_table is a
# PURE MANIFEST READ whose commit-time row/byte stats agree with both the
# raw data (the DuckDB oracle recomputes per-partition row and dead-row
# counts from `orders` itself) and the physical files on disk
# (`bytes_match_disk` compares each manifest `bytes` to os.path.getsize).
# At 100 TB this is the contract that lets an OPTIMIZE planner pick bins
# over a million files without opening one footer.


def _snap_fmeta_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapfm_"), "orders_fm")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumn("o_year", F.year("o_orderdate"))
        )
        t.commit_append(
            orders, n_files=1, stats_cols=["o_orderkey"], partition_by=["o_year"]
        )
        # MoR retention delete: every 13th key dies by deletion vector, so
        # files_table must report per-file dead-row counts WITHOUT a data
        # pass (DV reads are O(dead rows))
        t.commit_delete(spark, F.col("o_orderkey") % 13 == 0)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_fm", build))


@query(
    "snapshot_files_metadata",
    oracle="""
    SELECT cast(year(o_orderdate) as int) AS o_year,
           cast(1 as bigint) AS n_files,
           cast(count(*) as bigint) AS n_rows,
           cast(sum(CASE WHEN o_orderkey % 13 = 0 THEN 1 ELSE 0 END) as bigint)
             AS n_dead_rows,
           cast(sum(CASE WHEN o_orderkey % 13 <> 0 THEN 1 ELSE 0 END) as bigint)
             AS n_live_rows,
           true AS bytes_match_disk,
           true AS stats_recorded
    FROM orders
    GROUP BY 1
    """,
)
def snapshot_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_fmeta_table(spark, sf_dir)
    entries = t._manifest(t.versions()[-1])["files"]
    # commit-time stats present on every entry = files_table never opens a
    # footer; and they must agree with the physical files byte-for-byte
    stats_recorded = all("n_rows" in e and "bytes" in e for e in entries)
    bytes_match = all(
        e.get("bytes") == os.path.getsize(e["path"]) for e in entries
    )
    ft = t.files_table(spark)
    return (
        ft.withColumn(
            "o_year", F.get_json_object("partitions", "$.o_year").cast("int")
        )
        .groupBy("o_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("n_dead_rows").cast("bigint").alias("n_dead_rows"),
        )
        .select(
            "o_year",
            "n_files",
            "n_rows",
            "n_dead_rows",
            (F.col("n_rows") - F.col("n_dead_rows"))
            .cast("bigint")
            .alias("n_live_rows"),
            F.lit(bool(bytes_match)).alias("bytes_match_disk"),
            F.lit(bool(stats_recorded)).alias("stats_recorded"),
        )
    )


# --------------------------------------------------------------------------
# POOLED OPTIMIZE AT NIGHTLY-JOB WIDTH — commit_compact_small over a
# month-partitioned fact (~80 partitions at any SF ≥ 0.001, ≥64 at the
# gate SFs), the scale shape of the reference's per-day maintenance
# (`etl/LogDelayPatch.scala`) run as ONE commit: every partition's two
# drip-ingested files bin-pack through the bounded 8-wide maintenance
# pool (`_run_maintenance_jobs`), DV-dead rows from a retention DELETE
# vanish for good, and each packed file lands back inside its own
# col=value directory.  The oracle recomputes everything from raw
# `orders`: partition count, the exact pre-/post-compact file census
# (distinct (month, ingest-parity) pairs — no hardcoded counts), and the
# live row/sum fidelity after the fold.


def _snap_pool_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snappool_"), "orders_pool")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .withColumn("o_month", F.date_format("o_orderdate", "yyyy-MM"))
        )
        # two drip commits -> up to 2 small files in each month partition
        for p in range(2):
            t.commit_append(
                orders.where(F.col("o_orderkey") % 2 == p),
                n_files=1,
                stats_cols=["o_orderkey"],
                partition_by=["o_month"],
            )
        t.commit_delete(spark, F.col("o_orderkey") % 7 == 0)
        # the nightly OPTIMIZE: one bin per month partition, fanned out
        # 8-wide over the maintenance pool (~80 concurrent-safe bins)
        t.commit_compact_small(spark, threshold_bytes=1 << 30, n_files=1)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_pool", build))


@query(
    "snapshot_pooled_optimize",
    oracle="""
    WITH census AS (
      SELECT count(distinct strftime(o_orderdate, '%Y-%m')) AS n_months,
             count(distinct strftime(o_orderdate, '%Y-%m')
                   || '|' || cast(o_orderkey % 2 as varchar)) AS n_ingest_files
      FROM orders
    ),
    live AS (
      SELECT cast(count(*) as bigint) AS n_rows,
             cast(cast(sum(cast(o_totalprice as decimal(27,6))) as varchar)
                  as double) AS sum_total
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT cast(n_months as bigint) AS n_partitions,
           cast(n_months >= 64 as boolean) AS pool_wide,
           cast(n_ingest_files as bigint) AS n_files_before,
           cast(n_months as bigint) AS n_files_after,
           n_rows, sum_total,
           true AS dvs_folded,
           true AS layout_preserved
    FROM census, live
    """,
)
def snapshot_pooled_optimize(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_pool_table(spark, sf_dir)
    head = t.versions()[-1]
    before = len(t.files(head - 1))  # DV version still lists the drip files
    entries = t._manifest(head)["files"]
    months = {e["partitions"]["o_month"] for e in entries if "partitions" in e}
    dvs_folded = not t._manifest(head).get("delete_files")
    layout_ok = all(
        "partitions" in e and f"o_month={e['partitions']['o_month']}" in e["path"]
        for e in entries
    )
    return (
        t.read(spark, head)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            F.lit(len(months)).cast("bigint").alias("n_partitions"),
            F.lit(len(months) >= 64).alias("pool_wide"),
            F.lit(before).cast("bigint").alias("n_files_before"),
            F.lit(len(entries)).cast("bigint").alias("n_files_after"),
            "n_rows",
            "sum_total",
            F.lit(bool(dvs_folded)).alias("dvs_folded"),
            F.lit(bool(layout_ok)).alias("layout_preserved"),
        )
    )


# --------------------------------------------------------------------------
# ESCAPED PARTITION VALUES — partition values containing characters Spark's
# writer must Hive-escape in directory names (space, '=', '%').  The r9
# ADVICE finding showed an escaped stored value comparing unequal to the
# raw user value silently duplicates rows through commit_merge's partition
# fast path; this query pins the whole contract in the driver gate: raw
# values in the manifest, survivor rewrites relocated back into their
# escaped directories by a CoW merge, a raw-value pruning probe, and the
# row-level merge result.  (Reference: Hive's escapePathName; the
# reference app dodges this by using digit-only day partitions —
# `etl/LogParser.scala:92-101` — so this is new-engine hardening.)


def _snap_esc_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snapesc_"), "orders_esc")
        t = SnapshotTable(path)
        orders = (
            load_table(spark, sf_dir, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderstatus", "o_orderpriority")
            .withColumn(
                "part",
                F.concat(
                    F.col("o_orderstatus"), F.lit(" =% "), F.col("o_orderpriority")
                ),
            )
        )
        t.commit_append(
            orders, n_files=1, stats_cols=["o_orderkey"], partition_by=["part"]
        )
        # CoW merge keyed on DATA: survivors of hit files must relocate
        # back inside their own escaped `part=...` directory
        upd = orders.where(F.col("o_orderkey") % 11 == 0).withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(27,6)") + F.lit(500.25)).cast(
                orders.schema["o_totalprice"].dataType
            ),
        )
        t.commit_merge(upd, key="o_orderkey", stats_cols=["o_orderkey"])
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_esc", build))


@query(
    "snapshot_escaped_partition_values",
    oracle="""
    SELECT o_orderstatus || ' =% ' || o_orderpriority AS part,
           cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(
             CASE WHEN o_orderkey % 11 = 0
                  THEN cast(cast(o_totalprice as decimal(27,6)) + 500.25
                       as decimal(15,2))
                  ELSE o_totalprice END
             as decimal(27,6))) as varchar) as double) AS sum_total,
           true AS raw_values_stored,
           true AS probe_routes,
           true AS dirs_escaped
    FROM orders
    GROUP BY 1
    """,
)
def snapshot_escaped_partition_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_esc_table(spark, sf_dir)
    head = t.versions()[-1]
    entries = t._manifest(head)["files"]
    vals = {e["partitions"]["part"] for e in entries if "partitions" in e}
    # manifest stores the RAW value (space/'='/'%' intact), the directory
    # name the ESCAPED form — both sides of the Hive contract
    raw_ok = all(" =% " in v for v in vals)
    dirs_ok = all(
        "part=" in e["path"] and " =% " not in os.path.basename(os.path.dirname(e["path"]))
        for e in entries
        if "partitions" in e
    )
    probe = t.pruned_entries(partitions={"part": sorted(vals)[0]})
    probe_ok = bool(probe) and all(
        e["partitions"]["part"] == sorted(vals)[0] for e in probe
    )
    return (
        t.read(spark, head)
        .groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("o_totalprice"), "sum_total"),
        )
        .select(
            "part",
            "n_rows",
            "sum_total",
            F.lit(bool(raw_ok)).alias("raw_values_stored"),
            F.lit(bool(probe_ok)).alias("probe_routes"),
            F.lit(bool(dirs_ok)).alias("dirs_escaped"),
        )
    )


# --------------------------------------------------------------------------
# TAGGED DATASET PINS — Iceberg-refs tags as the dataset-versioning
# primitive (`ALTER TABLE ... CREATE TAG` / DVC-style training-set pins):
# a training run tags the exact table version it consumed, and that
# version stays readable bit-for-bit forever — through later restatements,
# MoR deletes, and a vacuum(keep_last=1) that expires every untagged
# intermediate.  The builder tags v1, restates prices (untagged v2),
# appends a keyed batch and tags v3, MoR-deletes at v4, then vacuums:
# v2 expires, v3 (a delta whose parent vanished) is re-checkpointed, and
# the query reads BOTH tags plus head and pins all three states against
# raw-data reconstructions.  Reference provenance: the reference rewrites
# report tables in place (DELETE-then-append, `utils/DBUtils.scala:36-44`)
# — zero reproducibility; this is the 100 TB lineage answer.


def _snap_tag_table(spark: SparkSession, sf_dir: str):
    def build():
        path = os.path.join(session_dir(spark, "homed_snaptag_"), "orders_tag")
        t = SnapshotTable(path)
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        t.commit_append(orders, n_files=2, stats_cols=["o_orderkey"])   # v1
        t.tag("train-v1")
        restated = orders.where(F.col("o_orderkey") % 7 == 0).withColumn(
            "o_totalprice",
            (F.col("o_totalprice").cast("decimal(27,6)") + F.lit(100.50)).cast(
                orders.schema["o_totalprice"].dataType
            ),
        )
        t.commit_merge(restated, key="o_orderkey", stats_cols=["o_orderkey"])  # v2
        extra = orders.where(F.col("o_orderkey") % 10 == 0).select(
            (F.col("o_orderkey") + F.lit(1000000000)).alias("o_orderkey"),
            "o_totalprice",
        )
        t.commit_append(extra, n_files=1, stats_cols=["o_orderkey"])    # v3
        t.tag("train-v2")
        t.commit_delete(spark, F.col("o_orderkey") % 5 == 0)            # v4
        t.vacuum(keep_last=1)  # v2 expires; v3 survives tagged (gap repair)
        return path

    return SnapshotTable(session_fixture(spark, sf_dir, "orders_tag", build))


@query(
    "snapshot_tag_dataset_pin",
    oracle="""
    WITH orig AS (
      SELECT o_orderkey AS k, o_totalprice AS price FROM orders
    ),
    restated AS (
      SELECT o_orderkey AS k,
             CASE WHEN o_orderkey % 7 = 0
                  THEN cast(cast(o_totalprice as decimal(27,6)) + 100.50
                       as decimal(15,2))
                  ELSE o_totalprice END AS price
      FROM orders
    ),
    extra AS (
      SELECT o_orderkey + 1000000000 AS k, o_totalprice AS price
      FROM orders WHERE o_orderkey % 10 = 0
    ),
    v2state AS (SELECT * FROM restated UNION ALL SELECT * FROM extra)
    SELECT 'train-v1' AS ref, cast(count(*) as bigint) AS n_rows,
           cast(cast(sum(cast(price as decimal(27,6))) as varchar) as double)
             AS sum_total,
           cast(3 as bigint) AS n_versions_after,
           true AS gap_checkpointed
    FROM orig
    UNION ALL
    SELECT 'train-v2', cast(count(*) as bigint),
           cast(cast(sum(cast(price as decimal(27,6))) as varchar) as double),
           cast(3 as bigint), true
    FROM v2state
    UNION ALL
    SELECT 'head', cast(count(*) as bigint),
           cast(cast(sum(cast(price as decimal(27,6))) as varchar) as double),
           cast(3 as bigint), true
    FROM v2state WHERE k % 5 <> 0
    """,
)
def snapshot_tag_dataset_pin(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _snap_tag_table(spark, sf_dir)
    n_versions = len(t.versions())
    # no surviving delta may point at an expired parent: the tagged delta
    # whose parent vanished (v3 on v2) must have been re-checkpointed,
    # while deltas on surviving parents legitimately stay deltas
    alive = set(t.versions())
    gap_ok = all(
        "files" in t._raw_manifest(v) or t._raw_manifest(v).get("parent") in alive
        for v in t.versions()
    )

    def state_of(version: int, ref: str) -> DataFrame:
        return (
            t.read(spark, version)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                dsum(F.col("o_totalprice"), "sum_total"),
            )
            .select(
                F.lit(ref).alias("ref"),
                "n_rows",
                "sum_total",
                F.lit(n_versions).cast("bigint").alias("n_versions_after"),
                F.lit(bool(gap_ok)).alias("gap_checkpointed"),
            )
        )

    return (
        state_of(t.resolve_tag("train-v1"), "train-v1")
        .unionByName(state_of(t.resolve_tag("train-v2"), "train-v2"))
        .unionByName(state_of(t.versions()[-1], "head"))
    )
