"""Behavior/session queries — the homed ETL & report semantics (SURVEY §2.5,
§2.8, §3.1) re-expressed over the synthetic ``events`` stream table.

``events`` plays the role of the raw play/behavior log: ``user_id`` ↦ DA,
``event_type`` ↦ report keyword, ``value`` ↦ payload, ``props`` ↦ exts.
All time math runs on integral epoch seconds (see plans/registry docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.maps import kv_string_to_map
from ..operators.sessionize import pair_start_end, sessionize_by_gap, stitch_heartbeats
from ..operators.timegrid import explode_time_grid
from ..session import session_dir
from .core_relational import dsum
from .registry import query

GAP_SECONDS = 1800  # 30 min session gap

# shared oracle CTE: events at second precision with a unique tiebreaker
EV_SEC = "SELECT user_id, event_id, event_type, value, epoch_us(ts)//1000000 AS sec FROM events"


def events_sec(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    return load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", F.col("ts_sec").alias("sec")
    )


# --------------------------------------------------------------------------
# W1 (modern spelling) — gap sessionization: lag + conditional cumsum.
# Reference intent: group play events into sessions per user/device
# (etl/LogParser.scala:281-317).
@query(
    "gap_sessions",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    flagged AS (
      SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > {GAP_SECONDS}
                     THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT *, cast(sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                        ROWS UNBOUNDED PRECEDING) as bigint) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           min(sec) AS session_start, max(sec) AS session_end,
           count(*) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM sess GROUP BY user_id, session_seq
    """,
)
def gap_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir)
    sess = sessionize_by_gap(ev, ["user_id"], "sec", GAP_SECONDS, "event_id")
    return sess.groupBy("user_id", F.col("session_seq").cast("bigint").alias("session_seq")).agg(
        F.min("sec").alias("session_start"),
        F.max("sec").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value"), "sum_value"),
    )


# --------------------------------------------------------------------------
# W3 — end-capping repair (LogDelayPatch): each event claims a play duration
# (value*10 seconds); its end is capped at the next event's start of the
# same user; duration clamped ≥ 0.
# Parity: etl/LogDelayPatch.scala:27-54, etl/LogDelay.scala:68-80.
@query(
    "capped_play_sessions",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    sess AS (
      SELECT user_id, event_id, sec AS start_sec,
             sec + cast(floor(value * 10) as bigint) AS claimed_end,
             lead(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS next_start
      FROM ev
    )
    SELECT user_id,
           count(*) AS n_sessions,
           cast(sum(greatest(least(claimed_end, coalesce(next_start, claimed_end)) - start_sec, 0)) as bigint) AS total_play_sec,
           cast(sum(CASE WHEN next_start IS NOT NULL AND next_start < claimed_end THEN 1 ELSE 0 END) as bigint) AS n_capped
    FROM sess GROUP BY user_id
    """,
)
def capped_play_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir)
    return (
        ev.select(
            "user_id",
            "event_id",
            F.col("sec").alias("start_sec"),
            (F.col("sec") + F.floor(F.col("value") * 10).cast("bigint")).alias("claimed_end"),
        )
        .withColumn("next_start", F.lead("start_sec").over(
            Window.partitionBy("user_id").orderBy(F.col("start_sec"), F.col("event_id"))
        ))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum(
                F.greatest(
                    F.least(F.col("claimed_end"), F.coalesce(F.col("next_start"), F.col("claimed_end")))
                    - F.col("start_sec"),
                    F.lit(0),
                )
            )
            .cast("bigint")
            .alias("total_play_sec"),
            F.sum(
                F.when(
                    F.col("next_start").isNotNull() & (F.col("next_start") < F.col("claimed_end")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_capped"),
        )
    )


# --------------------------------------------------------------------------
# Time grid — half-hour session splitting as sequence+explode.
# Reference: ChannelReport.process driver loop (ChannelReport.scala:1466-1520),
# utils/LogUtils.divideTime (LogUtils.scala:24-56). Sessions from gap_sessions
# are fanned to every 30-min slot they overlap; per-slot activity report.
@query(
    "halfhour_activity",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    flagged AS (
      SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > {GAP_SECONDS}
                     THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ),
    spans AS (
      SELECT user_id, session_seq, min(sec) AS s, max(sec) AS e
      FROM sess GROUP BY user_id, session_seq
    ),
    slots AS (
      SELECT user_id, s, e, unnest(generate_series((s//1800)*1800, (greatest(e-1, s)//1800)*1800, 1800)) AS slot_start
      FROM spans
    )
    SELECT slot_start,
           count(*) AS n_sessions,
           count(DISTINCT user_id) AS n_users,
           cast(sum(greatest(least(e, slot_start + 1800) - greatest(s, slot_start), 0)) as bigint) AS online_sec
    FROM slots GROUP BY slot_start
    """,
)
def halfhour_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir)
    sess = sessionize_by_gap(ev, ["user_id"], "sec", GAP_SECONDS, "event_id")
    spans = sess.groupBy("user_id", "session_seq").agg(
        F.min("sec").alias("s"), F.max("sec").alias("e")
    )
    slots = explode_time_grid(spans, "s", "e", 1800, "slot_start", "overlap_sec")
    return slots.groupBy("slot_start").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("overlap_sec").cast("bigint").alias("online_sec"),
    )


# --------------------------------------------------------------------------
# A7 — exact multi-period distinct users: per day and trailing-7-day,
# re-aggregated from the daily user grain (not persisted arrays).
# Reference: t_user_array_by_day mechanism, BusinessVisitCount.scala:524-607
# (write) / :253-326 (multi-period read).
@query(
    "multi_period_distinct_users",
    oracle="""
    WITH ev AS (
      SELECT user_id, (epoch_us(ts)//1000000)//86400 AS day_num FROM events
    ),
    daily AS (SELECT day_num, user_id FROM ev GROUP BY day_num, user_id),
    days AS (SELECT DISTINCT day_num FROM ev)
    SELECT d.day_num,
           strftime(make_timestamp(d.day_num*86400*1000000), '%Y-%m-%d') AS day,
           count(DISTINCT CASE WHEN u.day_num = d.day_num THEN u.user_id END) AS users_1d,
           count(DISTINCT u.user_id) AS users_7d
    FROM days d
    JOIN daily u ON u.day_num BETWEEN d.day_num - 6 AND d.day_num
    GROUP BY d.day_num
    """,
)
def multi_period_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    daily = ev.select("day_num", "user_id").distinct()
    days = ev.select("day_num").distinct()
    joined = days.alias("d").join(
        daily.alias("u"),
        (F.col("u.day_num") >= F.col("d.day_num") - 6) & (F.col("u.day_num") <= F.col("d.day_num")),
        "inner",
    )
    return (
        joined.groupBy(F.col("d.day_num").alias("day_num"))
        .agg(
            F.countDistinct(
                F.when(F.col("u.day_num") == F.col("d.day_num"), F.col("u.user_id"))
            ).alias("users_1d"),
            F.countDistinct(F.col("u.user_id")).alias("users_7d"),
        )
        .withColumn(
            "day", F.date_format(F.timestamp_seconds(F.col("day_num") * 86400), "yyyy-MM-dd")
        )
    )


# --------------------------------------------------------------------------
# A7 exact-at-scale spelling — per-period distinct via mergeable bitmaps.
# The reference persisted per-day user-id arrays and re-read them for
# week/month distincts (`t_business_array_by_day`,
# BusinessVisitCount.scala:524-607 write / :253-326 read); a bitmap index
# is the same idea with O(1)-mergeable state: build day-grain bitmaps in
# ONE pass over raw events, then week/month counts OR-merge the tiny
# bitmap table instead of rescanning the fact — exact (unlike HLL), and
# the re-aggregation cost is proportional to the index, not the data.
@query(
    "bitmap_multi_period_distinct",
    oracle="""
    WITH ev AS (
      SELECT user_id, (epoch_us(ts)//1000000)//86400 AS day_num FROM events
    )
    SELECT 'day' AS grain, day_num AS period_num,
           cast(count(DISTINCT user_id) as bigint) AS n_users
    FROM ev GROUP BY day_num
    UNION ALL
    SELECT 'week', day_num//7, cast(count(DISTINCT user_id) as bigint)
    FROM ev GROUP BY day_num//7
    UNION ALL
    SELECT 'month', day_num//30, cast(count(DISTINCT user_id) as bigint)
    FROM ev GROUP BY day_num//30
    """,
)
def bitmap_multi_period_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregate import (
        bitmap_build,
        bitmap_distinct_count,
        bitmap_merge,
    )

    ev = events_sec(spark, sf_dir).withColumn("day_num", F.expr("sec div 86400"))
    # stage the day-grain bitmap index exactly as a nightly job would:
    # ONE pass over raw events writes it; every period grain below reads
    # the (tiny) index, never the fact table (at 100 TB it is partitioned
    # by day and appended to, never rebuilt)
    index_dir = session_dir(spark, "bm_index_")
    bitmap_build(ev, ["day_num"], "user_id").write.mode("overwrite").parquet(index_dir)
    daily_bm = spark.read.parquet(index_dir)

    day = bitmap_distinct_count(daily_bm, ["day_num"], out_col="n_users").select(
        F.lit("day").alias("grain"),
        F.col("day_num").alias("period_num"),
        "n_users",
    )
    weekly = bitmap_merge(
        daily_bm.withColumn("period_num", F.expr("floor(day_num/7)")), ["period_num"]
    )
    week = bitmap_distinct_count(weekly, ["period_num"], out_col="n_users").select(
        F.lit("week").alias("grain"), "period_num", "n_users"
    )
    monthly = bitmap_merge(
        daily_bm.withColumn("period_num", F.expr("day_num div 30")), ["period_num"]
    )
    month = bitmap_distinct_count(monthly, ["period_num"], out_col="n_users").select(
        F.lit("month").alias("grain"), "period_num", "n_users"
    )
    return day.unionByName(week).unionByName(month)


# --------------------------------------------------------------------------
# §2.8 — extension-map access: the reference reads exts['K'] everywhere
# (SearchDetailNew.scala:78-86). events.props is the JSON analog.
@query(
    "props_kv_extract",
    oracle="""
    SELECT cast(json_extract_string(props, '$.k') as bigint)//10 AS k_bucket,
           count(*) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM events GROUP BY 1
    """,
)
def props_kv_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.withColumn("k_bucket", F.expr("cast(get_json_object(props, '$.k') as bigint) div 10"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum(F.col("value"), "sum_value"))
    )


# --------------------------------------------------------------------------
# W1 (exact pairing spelling) — Start→Finish keyword pairs via lead().
# Parity: etl/RunLogParser.calcVideoPlayTimeNew (RunLogParser.scala:419-439):
# 'click' plays Success, 'purchase' plays Finished.
@query(
    "paired_play_sessions",
    oracle=f"""
    WITH ev AS ({EV_SEC}),
    nxt AS (
      SELECT *, lead(sec) OVER w AS next_sec, lead(event_type) OVER w AS next_type
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    )
    SELECT user_id, count(*) AS n_sessions,
           cast(sum(next_sec - sec) as bigint) AS total_dur_sec,
           min(sec) AS first_start
    FROM nxt
    WHERE event_type = 'click' AND next_type = 'purchase'
    GROUP BY user_id
    """,
)
def paired_play_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir)
    paired = pair_start_end(
        ev,
        key_cols=["user_id"],
        ts_sec_col="sec",
        kind_col="event_type",
        start_kinds=["click"],
        end_kinds=["purchase"],
        tiebreak_col="event_id",
    ).where(F.col("end_ts").isNotNull())
    return paired.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.col("end_ts") - F.col("start_ts")).cast("bigint").alias("total_dur_sec"),
        F.min("start_ts").alias("first_start"),
    )


# --------------------------------------------------------------------------
# W2/T5 — heartbeat-chain stitching: 'view' events are heartbeats with a
# nominal 3600s interval; a chain breaks at gap > 2×interval; online time is
# n_heartbeats × interval (the reference's estimate:
# homed/realtime/ChannelLive.scala:278, Constant.scala:34).
@query(
    "heartbeat_online_time",
    oracle=f"""
    WITH hb AS (
      SELECT user_id, event_id, epoch_us(ts)//1000000 AS sec
      FROM events WHERE event_type = 'view'
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 7200
                     THEN 1 ELSE 0 END AS is_new
      FROM hb WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    )
    SELECT user_id,
           count(DISTINCT session_seq) AS n_chains,
           count(*) AS n_heartbeats,
           cast(count(*) * 3600 as bigint) AS online_sec
    FROM sess GROUP BY user_id
    """,
)
def heartbeat_online_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_sec(spark, sf_dir).where(F.col("event_type") == "view")
    chains = stitch_heartbeats(ev, ["user_id"], "sec", 3600, "event_id")
    return chains.groupBy("user_id").agg(
        F.countDistinct("session_seq").alias("n_chains"),
        F.sum("n_heartbeats").cast("bigint").alias("n_heartbeats"),
        F.sum("online_sec").cast("bigint").alias("online_sec"),
    )


# --------------------------------------------------------------------------
# S1/P6/P7/§2.8 — raw-log parse path: build run-log-style "K V, K V" lines
# (deterministically from events), parse them back with str_to_map, map
# device-id ranges to terminal classes, aggregate.
# Parity: RunLogParser.transform (RunLogParser.scala:507-525), str_to_map
# (utils/LogUtils.scala:95-136), device ranges (etl/ReportLog.scala:424-445).
@query(
    "runlog_parse_terminals",
    oracle="""
    WITH lines AS (
      SELECT 'DA ' || cast(user_id as varchar)
             || ',DeviceId ' || cast((event_id * 37) % 100000 as varchar)
             || ',PlayS ' || cast(cast(floor(value) as bigint) as varchar) AS line
      FROM events
    ),
    parsed AS (
      SELECT cast(str_split(str_split(line, ',')[2], ' ')[2] as bigint) AS device_id,
             cast(str_split(str_split(line, ',')[3], ' ')[2] as bigint) AS plays
      FROM lines
    )
    SELECT CASE WHEN device_id < 20000 THEN 'stb'
                WHEN device_id < 40000 THEN 'ca'
                WHEN device_id < 60000 THEN 'mobile'
                WHEN device_id < 80000 THEN 'pad'
                ELSE 'pc' END AS terminal,
           count(*) AS n_plays,
           cast(sum(plays) as bigint) AS total_play_sec
    FROM parsed GROUP BY 1
    """,
)
def runlog_parse_terminals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    lines = ev.select(
        F.concat(
            F.lit("DA "),
            F.col("user_id").cast("string"),
            F.lit(",DeviceId "),
            ((F.col("event_id") * 37) % 100000).cast("string"),
            F.lit(",PlayS "),
            F.floor(F.col("value")).cast("bigint").cast("string"),
        ).alias("line")
    )
    parsed = lines.select(kv_string_to_map(F.col("line"), ",", " ").alias("kv")).select(
        F.col("kv").getItem("DeviceId").cast("bigint").alias("device_id"),
        F.col("kv").getItem("PlayS").cast("bigint").alias("plays"),
    )
    terminal = (
        F.when(F.col("device_id") < 20000, "stb")
        .when(F.col("device_id") < 40000, "ca")
        .when(F.col("device_id") < 60000, "mobile")
        .when(F.col("device_id") < 80000, "pad")
        .otherwise("pc")
    )
    return (
        parsed.withColumn("terminal", terminal)
        .groupBy("terminal")
        .agg(
            F.count(F.lit(1)).alias("n_plays"),
            F.sum("plays").cast("bigint").alias("total_play_sec"),
        )
    )


# --------------------------------------------------------------------------
# from_json with an explicit schema — the scalable JSON spelling: ONE parse
# per row into a typed struct (vs one get_json_object tree-walk per field,
# props_kv_extract above).  At 100 TB with wide props this is the
# difference between 1 and N parses of every payload.
@query(
    "props_struct_parse",
    oracle="""
    SELECT event_type,
           cast(json_extract_string(props, '$.k') as bigint) % 2 AS k_parity,
           count(*) AS n_events,
           count(DISTINCT user_id) AS n_users,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def props_struct_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy(
        "event_type", (F.col("p.k") % 2).alias("k_parity")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        dsum(F.col("value"), "sum_value"),
    )
