"""Streaming queries registered in the correctness contract.

``stream_hourly_event_counts`` drives a real Structured Streaming query
(file-replay source → watermark → tumbling window → memory sink) to
completion and returns the materialized result; the oracle is the batch
equivalent in plain SQL.  This pins the streaming machinery itself — window
assignment, watermark bookkeeping, complete-mode semantics — to the batch
truth, which is exactly the parity contract the reference maintained between
its realtime jobs and nightly repair jobs (SURVEY §2.9 T6).
"""

from __future__ import annotations

import math
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import session_dir, session_fixture
from ..sources.snapshots import SnapshotTable
from ..sources.tables import load_table
from ..streaming.jobs import hourly_event_counts, read_events_stream, run_stream_to_memory
from .analysis_queries import (
    HDR_QS,
    KMV_K,
    KMV_MAXH,
    SEG_A_SQL,
    SEG_B_SQL,
    _h40,
    _h40_sql,
    _HDR_B,
)
from .registry import query

# ---------------------------------------------------------------------------
# The one replayed-source drain of the foreachBatch stream queries.  The
# batch frame is staged as ``n_batches`` parquet files, the stand-in for the
# Kafka topic a production job would read, and drained one file per
# trigger.  The staged bytes are a pure function of (sf_dir, tag,
# n_batches), so they are written once per session through the
# `session_fixture` memo.  Only the immutable INPUT is reused: each call
# still runs its full drain (fresh checkpoint, fresh tables, every commit
# recomputed), so nothing the oracle checks is ever served from a cache.
def _drain(
    spark: SparkSession,
    sf_dir: str,
    tag: str,
    frame: DataFrame,
    order_col: str,
    n_batches: int,
    process_batch: Callable[[DataFrame, int], None],
) -> None:
    """Replay ``frame``, range-split on ``order_col`` into ``n_batches``
    micro-batches, through ``process_batch(batch_df, batch_id)``."""

    def stage() -> str:
        path = session_dir(spark, f"{tag}_src_")
        split = frame.repartitionByRange(n_batches, order_col)
        split.write.mode("overwrite").parquet(path)
        return path

    staged = session_fixture(spark, sf_dir, f"{tag}{n_batches}", stage)
    (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .writeStream.foreachBatch(process_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", session_dir(spark, f"{tag}_ckpt_"))
        .start()
        .awaitTermination()
    )


@query(
    "stream_sliding_window_counts",
    oracle="""
    WITH ev AS (
      SELECT event_type, value, epoch_us(ts)//1000000 AS sec FROM events
    ),
    w AS (
      SELECT event_type, value,
             unnest([(sec//3600)*3600, (sec//3600)*3600 - 3600]) AS win_start
      FROM ev
    )
    SELECT win_start, event_type,
           count(*) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM w GROUP BY 1, 2
    """,
)
def stream_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 sliding variant: 2-hour windows sliding hourly — every event lands
    in exactly two windows (the reference had no sliding windows; this is
    the Structured-Streaming-native generalization of its wall-clock
    ``timerange`` buckets)."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("event_time", "2 hours")
        .groupBy(F.window("event_time", "2 hours", "1 hour"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").cast("bigint").alias("win_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_channel_hourly_uv",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             coalesce(cast(json_extract_string(props, '$.k') as bigint), 0) % 10 AS channel_id,
             ((epoch_us(ts)//1000000)//3600)*3600 AS hour_start
      FROM events
    ),
    bounds AS (SELECT max(hour_start) AS last_hour FROM ev),
    dedup AS (SELECT DISTINCT hour_start, channel_id, user_id FROM ev)
    SELECT d.hour_start, d.channel_id, count(*) AS uv
    FROM dedup d, bounds b
    WHERE d.hour_start < b.last_hour  -- only windows closed by the watermark
    GROUP BY 1, 2
    """,
)
def stream_channel_hourly_uv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChannelLiveByRunLogRealTime parity (SURVEY §3.3): per-channel
    per-hour distinct viewers, as CHAINED stateful streaming operators —
    first a streaming user-grain aggregation (the keep-latest/dedup step the
    reference did with reduceByKey per batch), then the channel-grain count,
    in append mode with a zero-lateness watermark.

    Append mode only emits CLOSED windows (window_end <= watermark =
    max event time), so the final, still-open hour is withheld — the oracle
    excludes it the same way (`hour_start < last_hour`).  This is the
    documented contract difference vs the batch queries, which see all data.
    """
    events = read_events_stream(spark, sf_dir)
    k = F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0))
    user_grain = (
        events.withColumn("channel_id", k % 10)
        .withWatermark("event_time", "0 seconds")
        .groupBy(
            F.window("event_time", "1 hour"), F.col("channel_id"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    channel_grain = user_grain.groupBy("window", "channel_id").agg(
        F.count(F.lit(1)).alias("uv")
    )
    out = channel_grain.select(
        F.unix_timestamp("window.start").cast("bigint").alias("hour_start"),
        "channel_id",
        "uv",
    )
    return run_stream_to_memory(out, output_mode="append")


@query(
    "stream_static_segment_hourly",
    oracle="""
    SELECT ((epoch_us(e.ts)//1000000)//3600)*3600 AS hour_start,
           c.c_mktsegment,
           count(*) AS n_events,
           cast(cast(sum(cast(e.value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2
    """,
)
def stream_static_segment_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 stream-static join (UserStatusByRunLog.scala:182-186): each
    micro-batch joins the event stream against a static dimension snapshot
    — Spark re-plans the static side per batch, broadcasting it (dim is
    under the auto-broadcast threshold), so the streaming side never
    shuffles for the join.  The reference re-read MySQL dims every batch by
    hand; here it's the built-in stream-static join contract."""
    events = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = events.join(cust, events["user_id"] == cust["c_custkey"])
    agg = (
        joined.groupBy(F.window("event_time", "1 hour"), F.col("c_mktsegment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_timestamp("window.start").cast("bigint").alias("hour_start"),
            "c_mktsegment",
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_hourly_event_counts",
    oracle="""
    SELECT ((epoch_us(ts)//1000000)//3600)*3600 AS hour_start,
           event_type,
           count(*) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def stream_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = read_events_stream(spark, sf_dir)
    agg = hourly_event_counts(events)
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_online_user_state",
    oracle="""
    SELECT user_id,
           max(epoch_us(ts)//1000000) AS last_seen_sec,
           cast(count(*) as bigint) AS n_events,
           cast(sum(cast(floor(value*1000000 + 0.5) as bigint)) as double)/1000000.0
             AS total_value
    FROM events GROUP BY user_id
    """,
)
def stream_online_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 keyed state (UserStatusByRunLog parity) as a registry entry: the
    applyInPandasWithState job runs to completion and the final per-user
    snapshot is returned (keep-latest over the update-mode emissions).

    Replay-determinism golden (was rows-only until r4): the oracle is the
    batch per-user fold over the same replayed input — max(sec), count,
    and the value total in half-up MICRO-UNITS summed as integers inside
    the state (jobs.online_user_state), so the emitted double is identical
    for any batch/row order and hash-compares exactly.  The sf replay is a
    single availableNow batch and no key sits idle past the event-time
    timeout mid-replay, so the final snapshot equals the global fold; the
    expiry emission (watermark jumping to end-of-stream) repeats the same
    totals and dedups away.

    Reset-on-expiry contract (see online_user_state docstring): a key idle
    past the idle timeout loses its running totals; reappearance restarts
    from zero, exactly like the reference's Phoenix TTL deletes.  Totals
    that must survive idle gaps come from composing the per-key snapshot
    sink (stream_foreachbatch_latest), not from keeping dead keys in
    memory — that trade is what bounds state at 100 TB.  Mid-replay expiry
    resets are exercised by the multi-batch pytest
    (tests/test_streaming.py::test_state_accumulates_across_microbatches),
    not by this single-batch oracle."""
    from pyspark.sql import Window

    from ..streaming.jobs import online_user_state

    events = read_events_stream(spark, sf_dir)
    # size_state_partitions=False: applyInPandasWithState is
    # Python-stateful — its cost is per-group Arrow/Python compute that
    # wants core-count parallelism, not fewer state-store instances
    # (see run_stream_to_memory)
    out = run_stream_to_memory(
        online_user_state(events), output_mode="update", size_state_partitions=False
    )
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "stream_dedup_hourly_users",
    oracle="""
    WITH dedup AS (
      SELECT DISTINCT user_id, ((epoch_us(ts)//1000000)//3600)*3600 AS hour_start
      FROM events
    )
    SELECT hour_start, count(*) AS uv FROM dedup GROUP BY 1
    """,
)
def stream_dedup_hourly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 per-batch keep-latest as the streaming-native dropDuplicates
    within a watermark: first occurrence of each (user, hour) survives,
    duplicates are discarded from state as the watermark passes — the
    bounded-state spelling of the reference's per-batch reduceByKey dedup
    (ChannelLiveByRunLogRealTime.scala:151-157)."""
    events = read_events_stream(spark, sf_dir)
    dedup = (
        events.withColumn(
            "hour_start",
            (F.unix_timestamp(F.date_trunc("hour", "event_time"))).cast("bigint"),
        )
        .withWatermark("event_time", "1 hour")
        .dropDuplicates(["user_id", "hour_start"])
    )
    agg = dedup.groupBy("hour_start").agg(F.count(F.lit(1)).alias("uv"))
    return run_stream_to_memory(agg, output_mode="complete")


@query(
    "stream_session_gap_spans",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts)//1000000 AS sec FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800
                     THEN 1 ELSE 0 END AS is_new
      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sess AS (
      SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY sec, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flagged
    ),
    bounds AS (SELECT max(sec) AS max_sec FROM ev)
    SELECT user_id, min(sec) AS session_start, max(sec) + 1800 AS session_end,
           cast(count(*) as bigint) AS n_events
    FROM sess, bounds
    GROUP BY user_id, session_seq, max_sec
    HAVING max(sec) + 1800 <= max_sec
    """,
)
def stream_session_gap_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window — the stateful generalization the reference
    never had (its sessions were nightly batch, SURVEY §2.9 note): per-user
    30-min-gap sessions maintained as merging state, emitted in append mode
    once the (zero-lateness) watermark passes the session end.  The oracle
    is the batch gap-sessionization truth restricted to watermark-closed
    sessions (`session_end <= max event time`) — the same closed-window
    contract as stream_channel_hourly_uv."""
    events = read_events_stream(spark, sf_dir)
    sess = (
        events.withWatermark("event_time", "0 seconds")
        .groupBy(F.session_window("event_time", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("session_window.start").cast("bigint").alias("session_start"),
            F.unix_timestamp("session_window.end").cast("bigint").alias("session_end"),
            "n_events",
        )
    )
    return run_stream_to_memory(sess, output_mode="append")


@query(
    "stream_stream_view_purchase",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts)//1000000 AS sec FROM events
    ),
    v AS (SELECT user_id, event_id AS view_id, sec AS view_sec FROM ev WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id AS purchase_id, sec AS purchase_sec FROM ev WHERE event_type = 'purchase')
    SELECT v.user_id, v.view_id, p.purchase_id, v.view_sec, p.purchase_sec
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p.purchase_sec >= v.view_sec
     AND p.purchase_sec <= v.view_sec + 600
    """,
)
def stream_stream_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — the Structured Streaming capability the
    reference's DStream stack could not express at all (it fell back to
    per-batch full-outer joins against Phoenix state, SURVEY §2.9 T4).
    Both sides carry watermarks and the join condition bounds purchase time
    to [view, view+10min], so each side's buffered state is evicted once
    the other side's watermark passes the bound — bounded memory at any
    scale.  Inner-join emission is eager (not watermark-gated), so the
    oracle is the full batch interval join."""
    views = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("event_time").alias("view_time"),
        )
        .withWatermark("view_time", "10 minutes")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("event_time").alias("purchase_time"),
        )
        .withWatermark("purchase_time", "10 minutes")
    )
    joined = views.join(
        purchases,
        F.expr(
            """
            user_id = p_user_id AND
            purchase_time >= view_time AND
            purchase_time <= view_time + interval 10 minutes
            """
        ),
    ).select(
        "user_id",
        "view_id",
        "purchase_id",
        F.unix_timestamp("view_time").cast("bigint").alias("view_sec"),
        F.unix_timestamp("purchase_time").cast("bigint").alias("purchase_sec"),
    )
    return run_stream_to_memory(joined, output_mode="append")


def _zone_max(t, col: str):
    """Max of ``col`` over every row the head files of snapshot table ``t``
    hold, live or DV-dead, read from the manifest's zone maps — no Spark
    job.  Merge-on-read commits and deletes never drop a file, so this is
    the running max over every row ever merged: a monotonic event-time
    horizon."""
    return max(
        (e["stats"][col]["max"] for e in t.pruned_entries() if e.get("n_rows")),
        default=None,
    )


def _run_keyed_upsert_stream(
    spark: SparkSession, sf_dir: str, retention_sec: int | None = None
) -> DataFrame:
    """Shared foreachBatch keyed-state pipeline (S10/T8, + S13 retention
    when ``retention_sec`` is set) — ONE implementation for both registry
    queries so the keep-latest tiebreaker and stream wiring cannot drift.

    The events replay as 4 micro-batches, each an event-time slice (range
    split on ``event_id``), which the file source picks up in file
    modification-time order — not necessarily event-time order.  Each
    batch is one ``commit_merge_on_read`` with the ``keep_greatest`` rule,
    keeping the newer (sec, event_id) per user, so an out-of-order or
    replayed batch can never overwrite newer state with older events.
    The retention cutoff is the running max of event time, read from the
    table's ``sec`` zone maps after each batch, so it is monotonic rather
    than batch-local; it is applied per batch as a ``commit_delete``, and
    a user it retires comes back when a later batch brings a newer
    event."""
    t = SnapshotTable(session_dir(spark, "upsert_state_"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t.commit_merge_on_read(
            batch_df, key="user_id", stats_cols=["sec"], batch_id=batch_id,
            keep_greatest=["sec", "event_id"],
        )
        if retention_sec is not None and (hmax := _zone_max(t, "sec")) is not None:
            t.commit_delete(batch_df.sparkSession, f"sec < {hmax - retention_sec}")

    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value", F.col("ts_sec").alias("sec")
    )
    _drain(spark, sf_dir, "upsert", events, "event_id", 4, process_batch)
    return t.read(spark)


@query(
    "stream_foreachbatch_latest",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts)//1000000 AS sec FROM events
    )
    SELECT user_id, event_id, event_type, value, sec
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY sec DESC, event_id DESC) AS rn
      FROM ev
    ) WHERE rn = 1
    """,
)
def stream_foreachbatch_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/T8 as a driven pipeline: every micro-batch upserts its per-user
    latest event into a keyed snapshot table via ``foreachBatch`` + a
    keep-greatest ``commit_merge_on_read`` — the reference's Phoenix
    overwrite-by-PK contract (UserStatusByRunLog.scala:296-300) with
    at-least-once batch semantics (idempotent: the batch id guard skips a
    replay, and a replayed row ties with its incumbent, which stays; see
    _run_keyed_upsert_stream).  The oracle is global keep-latest per
    user."""
    return _run_keyed_upsert_stream(spark, sf_dir)


@query(
    "stream_search_topn",
    oracle="""
    WITH searches AS (
      SELECT user_id,
             (epoch_us(ts)//1000000)//86400 AS day_num,
             'kw_' || cast(cast(json_extract_string(props, '$.k') as bigint) % 50 as varchar) AS search_key
      FROM events WHERE event_type = 'click'
    ),
    per_key AS (
      SELECT day_num, search_key, cast(count(*) as bigint) AS n_searches
      FROM searches GROUP BY 1, 2
    )
    SELECT day_num, search_key, n_searches,
           cast(dense_rank() OVER (PARTITION BY day_num
                                   ORDER BY n_searches DESC, search_key) as bigint) AS rnk
    FROM per_key
    QUALIFY dense_rank() OVER (PARTITION BY day_num
                               ORDER BY n_searches DESC, search_key) <= 3
    """,
)
def stream_search_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SearchReportRealTime parity (ocn/report/SearchReportRealTime.scala:55):
    the reference accumulated per-batch search-keyword counts and pushed a
    rank list to Redis every interval.  Here the counting is a streaming
    complete-mode aggregation driven to completion, and the rank step runs
    once on the materialized counts — the same agg-then-rank split (the rank
    is over the tiny per-(day,key) table, never the raw stream)."""
    from pyspark.sql import Window

    events = read_events_stream(spark, sf_dir)
    searches = events.where(F.col("event_type") == "click").select(
        (F.unix_timestamp("event_time").cast("bigint") / 86400)
        .cast("bigint")
        .alias("day_num"),
        F.concat(
            F.lit("kw_"),
            (F.get_json_object("props", "$.k").cast("bigint") % 50).cast("string"),
        ).alias("search_key"),
    )
    counts = searches.groupBy("day_num", "search_key").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_searches")
    )
    final = run_stream_to_memory(counts, output_mode="complete")
    w = Window.partitionBy("day_num").orderBy(F.desc("n_searches"), F.asc("search_key"))
    return (
        final.withColumn("rnk", F.dense_rank().over(w).cast("bigint"))
        .where(F.col("rnk") <= 3)
        .select("day_num", "search_key", "n_searches", "rnk")
    )


@query(
    "stream_foreachbatch_ttl",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts)//1000000 AS sec FROM events
    ),
    horizon AS (SELECT max(sec) - 86400 AS cutoff FROM ev),
    latest AS (
      SELECT user_id, event_id, event_type, value, sec
      FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY sec DESC, event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    )
    SELECT l.* FROM latest l, horizon h WHERE l.sec >= h.cutoff
    """,
)
def stream_foreachbatch_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/T8 retention driven end-to-end: the `stream_foreachbatch_latest`
    keyed-upsert pipeline PLUS the reference's per-batch retention DELETE
    (`homed/realtime/ChannelLive.scala:579-625` deletes rows older than the
    retention horizon every cycle) — here a ``commit_delete``, which kills
    the expired rows by deletion vector and rewrites no file.  The cutoff
    is a RUNNING max of seen event time minus 1 day (the reference's
    realtime tables kept exactly 1 day, BASELINE.md) — read from the
    table's zone maps, so it is monotonic even when batches arrive out of
    event-time order — and the final state equals
    keep-latest-per-key restricted to the retention window — exactly what
    the SQL oracle states (the 1-day horizon measurably drops idle users
    at every SF, so the delete path is exercised, not vacuous).  Pipeline
    shared with stream_foreachbatch_latest — see _run_keyed_upsert_stream
    for the multi-batch merge and monotonic-cutoff guarantees."""
    return _run_keyed_upsert_stream(spark, sf_dir, retention_sec=86400)


@query(
    "stream_user_status_by_user_log",
    oracle="""
    WITH ev AS (
      SELECT event_id, user_id, event_type, epoch_us(ts)//1000000 AS sec,
             coalesce(cast(json_extract_string(props,'$.k') as bigint), 0) AS k
      FROM events WHERE event_type IN ('view','click')
    ),
    kept AS (
      SELECT *, CASE WHEN event_type='click' THEN 1 ELSE 0 END AS is_report,
             k % 10 AS prog, k % 200 AS video, user_id*10 + k%3 AS device_id
      FROM ev
      WHERE (event_type='view' AND k%2 = 1) OR (event_type='click' AND k%3 != 0)
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY sec DESC, event_id DESC) AS rn
        FROM kept
      ) WHERE rn = 1
    ),
    bus AS (
      SELECT user_id, max(sec) AS bus_sec FROM kept WHERE is_report = 1
      GROUP BY user_id
    ),
    snap AS (
      SELECT l.user_id AS f_user_id, l.device_id AS f_device_id,
             l.prog AS f_program_id, l.video AS f_video_id,
             coalesce(b.bus_sec, 1) AS f_start_play_sec,
             CASE WHEN b.bus_sec = l.sec THEN 1 ELSE 0 END AS f_play_count,
             l.sec AS f_log_sec
      FROM latest l LEFT JOIN bus b USING (user_id)
    ),
    term AS (
      SELECT c_custkey*10 + j AS d_device_id,
             cast(1 + (c_custkey + j) % 3 as int) AS d_device_type
      FROM customer, (SELECT unnest(generate_series(0, 2)) AS j)
      WHERE c_custkey % 4 != 0
    )
    SELECT s.f_user_id, s.f_device_id, s.f_program_id, s.f_video_id,
           s.f_start_play_sec, cast(s.f_play_count as int) AS f_play_count,
           s.f_log_sec,
           'rg_' || cast(s.f_user_id % 20 as varchar) AS f_region_id,
           'live' AS f_service_type,
           cast(1 as int) AS f_online_status,
           coalesce(t.d_device_type, 0) AS f_terminal
    FROM snap s LEFT JOIN term t ON t.d_device_id = s.f_device_id
    """,
)
def stream_user_status_by_user_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second stateful streaming job (T4b): user-REPORT-log-driven online
    state (`homed/realtime/UserStatusByUserLog.scala:48-142` — see
    streaming/jobs.user_status_by_user_log for the semantics delta vs the
    run-log variant).  Oracle-exact under the same replay-determinism
    golden as stream_online_user_state: all-integer state, single
    availableNow batch, keep-latest over the update-mode emissions; the
    terminal dim left-join + nvl(0) (:120-122) runs on the final snapshot
    as a broadcast batch join."""
    from pyspark.sql import Window

    from ..streaming.jobs import user_status_by_user_log

    events = read_events_stream(spark, sf_dir)
    # Python-stateful (applyInPandasWithState): keep core-count
    # parallelism, see stream_online_user_state
    out = run_stream_to_memory(
        user_status_by_user_log(events),
        output_mode="update",
        size_state_partitions=False,
    )
    w = Window.partitionBy("f_user_id").orderBy(
        F.col("f_log_sec").desc(), F.col("f_play_count").desc()
    )
    snap = (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    term = (
        cust.where(F.col("c_custkey") % 4 != 0)
        .select(
            "c_custkey", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j")
        )
        .select(
            (F.col("c_custkey") * 10 + F.col("j")).alias("d_device_id"),
            (F.lit(1) + (F.col("c_custkey") + F.col("j")) % 3)
            .cast("int")
            .alias("d_device_type"),
        )
    )
    return (
        snap.join(F.broadcast(term), snap["f_device_id"] == term["d_device_id"], "left")
        .select(
            "f_user_id", "f_device_id", "f_program_id", "f_video_id",
            "f_start_play_sec", "f_play_count", "f_log_sec",
            F.concat(F.lit("rg_"), (F.col("f_user_id") % 20).cast("string")).alias(
                "f_region_id"
            ),
            F.lit("live").alias("f_service_type"),
            F.lit(1).cast("int").alias("f_online_status"),
            F.coalesce(F.col("d_device_type"), F.lit(0)).alias("f_terminal"),
        )
    )


# --------------------------------------------------------------------------
# Streaming incremental dedup: document ingest as micro-batches folded into
# a persisted fingerprint index — the streaming spelling of the dedup
# family (T1/S10 × dedup_exact), i.e. what a continuous training-data ingest
# actually runs.  Each batch folds its rows to one partial per text_hash
# (keeper = min doc_id with its source, copies = sum) and lands it as one
# blind, batch-id-stamped append; the index is the same fold over every
# landed partial, taken at read.  Two delivery guarantees, covered by two
# distinct mechanisms (associativity alone is NOT a replay guarantee):
# - OUT-OF-ORDER batches: the fold is associative and commutative, so the
#   index is independent of arrival order;
# - REPLAYED batches (foreachBatch is at-least-once — a micro-batch can
#   re-run after a failure): the append is stamped with its batch_id, and
#   the table skips a replayed id whole.  The append publishes atomically,
#   so a crash mid-commit leaves nothing half-applied for the replay.
# Stored rows grow as batches × distinct hashes per batch until something
# folds them; ``t.commit_rewrite(dedup_fold(t.read(spark)))`` bounds them
# with the table's existing verbs when an ingest needs it.
def dedup_fold(rows: DataFrame) -> DataFrame:
    """Fold (text_hash, keeper_id, keeper_source, n_copies) rows to one row
    per text_hash: a batch's documents on the write side, the landed
    partials on the read side."""
    return rows.groupBy("text_hash").agg(
        F.min("keeper_id").alias("keeper_id"),
        F.min_by("keeper_source", "keeper_id").alias("keeper_source"),
        F.sum("n_copies").cast("bigint").alias("n_copies"),
    )


def dedup_commit_batch(t: SnapshotTable, batch_df: DataFrame, batch_id: int) -> None:
    """Land one ingest micro-batch's partial in the fingerprint index
    ``t``; a replay of an already-committed ``batch_id`` commits nothing,
    so it cannot double-count ``n_copies``."""
    docs = batch_df.select(
        F.md5("text").alias("text_hash"),
        F.col("doc_id").alias("keeper_id"),
        F.col("source").alias("keeper_source"),
        F.lit(1).cast("bigint").alias("n_copies"),
    )
    t.commit_append(dedup_fold(docs), batch_id=batch_id)


@query(
    "stream_incremental_dedup",
    oracle="""
    WITH h AS (
      SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id,
             cast(count(*) as bigint) AS n_copies
      FROM documents GROUP BY 1
    ),
    k AS (SELECT h.*, d.source AS keeper_source
          FROM h JOIN documents d ON d.doc_id = h.keeper_id)
    SELECT keeper_source,
           cast(count(*) as bigint) AS n_unique_docs,
           cast(sum(n_copies) as bigint) AS n_total_docs,
           cast(sum(n_copies) - count(*) as bigint) AS n_dups_absorbed
    FROM k GROUP BY keeper_source
    """,
)
def stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = SnapshotTable(session_dir(spark, "dedup_index_"))
    # 4 staged batches: the single-file fixture would otherwise collapse to
    # one batch and test nothing incremental
    _drain(
        spark, sf_dir, "dedup",
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "source"),
        "doc_id", 4, lambda df, batch_id: dedup_commit_batch(t, df, batch_id),
    )
    return dedup_fold(t.read(spark)).groupBy("keeper_source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unique_docs"),
        F.sum("n_copies").cast("bigint").alias("n_total_docs"),
        (F.sum("n_copies") - F.count(F.lit(1)))
        .cast("bigint")
        .alias("n_dups_absorbed"),
    )


# --------------------------------------------------------------------------
# The SURVEY §3.3 flagship realtime job, end-to-end: the streaming analog
# of `homed/realtime/ChannelLiveByRunLogRealTime.scala:110-300`, stringing
# together every component the reference's per-RDD loop ran —
#   heartbeat filter      (`:128-129` — HEARTBREATH + live-service lines;
#                          here event_type='view', the heartbeat stand-in)
#   per-batch keep-latest (T3, `:137-157` reduceByKey newest-wins)
#   terminal dim join     (J9, `:174-176` left join + `nvl(type,-1)`
#                          fallback; here a broadcast stream-static join
#                          with COALESCE(terminal, 0))
#   keyed snapshot upsert (S10, the Phoenix overwrite-by-PK — here a
#                          keep-greatest merge-on-read commit into a
#                          snapshot table, newest-wins so batch
#                          order/replay cannot regress state)
#   retention delete      (T8/S13, `deleteHistChannelRate` — one
#                          commit_delete after the drain, on the
#                          event-time horizon read from the zone maps)
#   dual-grain report     (`:197-215` per-channel counts + `:252-266`
#                          all-channel region rollup, the reference's
#                          f_date/f_hour/f_timerange grain — here the
#                          channel grain re-aggregated to the region
#                          grain, channel -1 marking the rollup rows)
# The oracle is the equivalent batch pipeline over the same events — the
# same parity contract the reference kept between its realtime jobs and
# nightly repair jobs.  Deterministic at any batch split because the
# snapshot merge is global keep-latest per user (sec DESC, event_id DESC)
# and the grain columns derive from each user's last-seen second, not the
# wall clock.
@query(
    "stream_channel_live_counts",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id,
             epoch_us(ts)//1000000 AS sec,
             coalesce(cast(json_extract_string(props, '$.k') as bigint), 0) % 10
               AS channel_id,
             user_id % 20 AS region_id,
             user_id * 10 + event_id % 3 AS device_id,
             cast(floor(value*1000000 + 0.5) as bigint) AS pt_micro
      FROM events WHERE event_type = 'view'
    ),
    horizon AS (SELECT max(sec) - 86400 AS cutoff FROM ev),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY sec DESC, event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    ),
    live AS (SELECT l.* FROM latest l, horizon h WHERE l.sec >= h.cutoff),
    term AS (
      SELECT c_custkey*10 + j AS d_device_id,
             cast(1 + (c_custkey + j) % 3 as int) AS d_device_type
      FROM customer, (SELECT unnest([0,1,2]) AS j)
      WHERE c_custkey % 4 != 0
    ),
    enr AS (
      SELECT live.sec // 86400 AS f_day,
             (live.sec % 86400) // 3600 AS f_hour,
             (live.sec % 86400) // 1800 AS f_timerange,
             live.region_id AS f_region_id,
             coalesce(t.d_device_type, 0) AS f_terminal,
             live.channel_id AS f_channel_id,
             live.pt_micro AS pt_micro
      FROM live LEFT JOIN term t ON live.device_id = t.d_device_id
    ),
    chan AS (
      SELECT f_day, f_hour, f_timerange, f_region_id, f_terminal, f_channel_id,
             cast(count(*) as bigint) AS f_online_users,
             cast(sum(pt_micro) as bigint) AS pt_sum
      FROM enr GROUP BY 1, 2, 3, 4, 5, 6
    ),
    reg AS (
      SELECT f_day, f_hour, f_timerange, f_region_id, f_terminal,
             cast(-1 as bigint) AS f_channel_id,
             cast(sum(f_online_users) as bigint) AS f_online_users,
             cast(sum(pt_sum) as bigint) AS pt_sum
      FROM chan GROUP BY 1, 2, 3, 4, 5
    ),
    u AS (SELECT * FROM chan UNION ALL SELECT * FROM reg)
    SELECT f_day, f_hour, f_timerange, f_region_id, f_terminal, f_channel_id,
           f_online_users, cast(pt_sum as double)/1000000.0 AS f_play_time
    FROM u
    """,
)
def stream_channel_live_counts(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    """ChannelLiveByRunLogRealTime end-to-end (see block comment above).

    Scale shape: each micro-batch is one merge-on-read commit that reads
    only the key-range-pruned incumbents, the terminal dim is broadcast
    per batch (J9), the keep-greatest rule leaves one live snapshot row
    per active user, and the final dual-grain report is ONE scan of
    the snapshot — the region grain re-aggregates the channel grain (exact
    because keep-latest leaves one row per user), the A7 re-agg trick,
    so no second pass and no grouping-sets expansion of the fact.
    """
    term = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") % 4 != 0)
        .select(
            "c_custkey",
            F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("j"),
        )
        .select(
            (F.col("c_custkey") * 10 + F.col("j")).alias("d_device_id"),
            (F.lit(1) + (F.col("c_custkey") + F.col("j")) % 3)
            .cast("int")
            .alias("d_device_type"),
        )
        # materialize once: the dim is broadcast-joined in EVERY micro-batch,
        # and without this each batch re-reads + re-derives it from customer
        .localCheckpoint()
    )

    t = SnapshotTable(session_dir(spark, "chl_state_"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # heartbeat filter (P3 analog) + parse into the realtime columns
        parsed = batch_df.where(F.col("event_type") == "view").select(
            "user_id",
            "event_id",
            F.col("ts_sec").alias("sec"),
            (
                F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0))
                % 10
            ).alias("channel_id"),
            (F.col("user_id") % 20).alias("region_id"),
            (F.col("user_id") * 10 + F.col("event_id") % 3).alias("device_id"),
            F.floor(F.col("value") * 1000000 + F.lit(0.5))
            .cast("bigint")
            .alias("pt_micro"),
        )
        # J9: broadcast dim join with the reference's missing-device
        # fallback.  The T3 newest-wins dedup happens INSIDE the merge
        # (one window over batch ∪ touched state instead of two passes) —
        # enrichment is row-wise, so dedup-after-join ≡ dedup-before-join.
        enriched = (
            parsed.join(
                F.broadcast(term), parsed["device_id"] == term["d_device_id"], "left"
            )
            .select(
                "user_id",
                "event_id",
                "sec",
                "channel_id",
                "region_id",
                "device_id",
                "pt_micro",
                F.coalesce(F.col("d_device_type"), F.lit(0).cast("int")).alias(
                    "terminal"
                ),
            )
        )
        # S10+T3: one keep-greatest merge; the `sec` zone maps it records
        # give the retention horizon after the drain without a job
        t.commit_merge_on_read(
            enriched, key="user_id", stats_cols=["sec"], batch_id=batch_id,
            keep_greatest=["sec", "event_id"],
        )

    # the snapshot merge makes the result independent of the split — pinned
    # by test_channel_live_split_independent
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "props", "ts_sec"
    )
    _drain(spark, sf_dir, "chl", events, "event_id", n_batches, process_batch)

    # retention (S13): one DELETE against the final event-time horizon;
    # keep-latest then retention equals the oracle's latest ∩ window
    hmax = _zone_max(t, "sec")
    if hmax is not None:
        t.commit_delete(spark, f"sec < {hmax - 86400}")

    # dual-grain report off the final snapshot: channel grain, then the
    # region (all-channel) grain re-aggregated from it, channel_id = -1
    snap = t.read(spark)
    base = snap.select(
        F.expr("sec div 86400").alias("f_day"),
        F.expr("(sec % 86400) div 3600").alias("f_hour"),
        F.expr("(sec % 86400) div 1800").alias("f_timerange"),
        F.col("region_id").alias("f_region_id"),
        F.col("terminal").alias("f_terminal"),
        F.col("channel_id").alias("f_channel_id"),
        "pt_micro",
    )
    chan = base.groupBy(
        "f_day", "f_hour", "f_timerange", "f_region_id", "f_terminal", "f_channel_id"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("f_online_users"),
        F.sum("pt_micro").cast("bigint").alias("pt_sum"),
    )
    reg = (
        chan.groupBy("f_day", "f_hour", "f_timerange", "f_region_id", "f_terminal")
        .agg(
            F.sum("f_online_users").cast("bigint").alias("f_online_users"),
            F.sum("pt_sum").cast("bigint").alias("pt_sum"),
        )
        .withColumn("f_channel_id", F.lit(-1).cast("bigint"))
    )
    cols = [
        "f_day", "f_hour", "f_timerange", "f_region_id", "f_terminal",
        "f_channel_id", "f_online_users", "pt_sum",
    ]
    return (
        chan.select(*cols)
        .unionByName(reg.select(*cols))
        .withColumn(
            "f_play_time", F.col("pt_sum").cast("double") / F.lit(1000000.0)
        )
        .drop("pt_sum")
    )


# ---------------------------------------------------------------------------
# CDC oplog apply — MERGE-with-tombstones onto a keyed snapshot table.
# Absent in the reference (its realtime jobs only ever overwrote rows by
# PK; none processed deletes), but the standard shape of a lakehouse
# ingestion pipeline: a change feed of upserts and deletes folded into a
# queryable snapshot (Delta/Hudi `MERGE WHEN MATCHED DELETE`).  The key
# design point is that tombstones are STATE, not filters: a delete row is
# merged and kept in the table so that an older update replayed later
# (at-least-once delivery, out-of-order batches) loses to it under the
# same (sec, event_id) newest-wins rule as everything else — filtering
# deletes at ingest would resurrect the row.  Deletes are dropped only at
# READ time.  Per-batch I/O is the merge's O(batch ∪ key-range-pruned
# incumbents); at 100 TB the tombstone population is bounded by the S13
# retention pass (commit_delete on the tombstone flag + horizon), same
# machinery as TTL.
@query(
    "stream_cdc_apply",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_id, epoch_us(ts)//1000000 AS sec, value,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
      FROM events
    ),
    last AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id
                                     ORDER BY sec DESC, event_id DESC) AS rn
        FROM ev
      ) WHERE rn = 1
    )
    SELECT user_id, event_id AS last_event_id, sec AS last_sec,
           value AS last_value
    FROM last WHERE op <> 'D'
    """,
)
def stream_cdc_apply(
    spark: SparkSession, sf_dir: str, n_batches: int = 3
) -> DataFrame:
    """Fold a replayed CDC feed (upserts + deletes) into the live snapshot.

    The events table plays the change feed: ``error`` rows are delete
    tombstones, everything else is an upsert.  Each micro-batch is one
    keep-greatest ``commit_merge_on_read`` — newest (sec, event_id) wins,
    tombstones merge like any row — and the final read drops keys whose
    WINNING op is a delete.  The oracle is the equivalent batch fold:
    global keep-latest per user, minus users whose last op was a delete.
    Split-independent (max is associative and commutative) and
    replay-idempotent (batch id guard; a replayed row ties, and the
    incumbent stays).
    """
    t = SnapshotTable(session_dir(spark, "cdc_state_"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        ops = batch_df.select(
            "user_id",
            "event_id",
            F.col("ts_sec").alias("sec"),
            "value",
            F.when(F.col("event_type") == "error", F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
        )
        t.commit_merge_on_read(
            ops, key="user_id", batch_id=batch_id, keep_greatest=["sec", "event_id"]
        )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    _drain(spark, sf_dir, "cdc", events, "event_id", n_batches, process_batch)

    # tombstones drop at READ time, never at ingest
    return (
        t.read(spark)
        .where(F.col("op") != "D")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("sec").alias("last_sec"),
            F.col("value").alias("last_value"),
        )
    )


# --------------------------------------------------------------------------
# Streaming EXACTLY-ONCE sink through the snapshot table: each micro-batch
# lands as one atomic manifest commit stamped with its batch_id, so a
# replayed batch (foreachBatch is at-least-once; a crash can land between
# the sink write and the checkpoint) is SKIPPED by the table itself — the
# manifest is simultaneously the commit point and the dedup record, which
# is exactly how Delta's txn/idempotent-writes option works.  The query
# replays the poisoned proof inline: after the stream drains, batch 0 is
# re-committed with a 1-row frame that would add a bogus event_type and a
# 5th version — the oracle's n_versions=4 literal and the clean group set
# prove the replay produced NOTHING.  Per-batch cost is one append commit
# (files + a kilobyte manifest); version count is bounded by vacuum.
@query(
    "stream_snapshot_commits",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n_events,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double) AS sum_value,
           cast(4 as bigint) AS n_versions
    FROM events GROUP BY event_type
    """,
)
def stream_snapshot_commits(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    t = SnapshotTable(session_dir(spark, "snapstream_tbl_"))
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts_sec"
    )
    _drain(
        spark, sf_dir, "snapstream", events, "event_id", n_batches,
        lambda df, batch_id: t.commit_append(df, batch_id=batch_id),
    )

    # replay batch 0 with a POISONED frame: a working idempotency guard
    # commits nothing; a broken one adds a bogus group AND a 5th version,
    # failing the oracle loudly on both columns
    poison = spark.createDataFrame(
        [(-1, -1, "__replayed__", 1.0, 0)],
        "event_id bigint, user_id bigint, event_type string, value double, ts_sec bigint",
    )
    t.commit_append(poison, n_files=1, batch_id=0)

    return (
        t.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .withColumn("n_versions", F.lit(len(t.versions())).cast("bigint"))
    )


# --------------------------------------------------------------------------
# Exactly-once across TWO sinks — the multi-table shape where Delta's txn
# log earns its keep: each micro-batch commits the SAME batch_id to a fact
# table (raw rows) AND a per-batch aggregate table.  foreachBatch is
# at-least-once, and a crash can land BETWEEN the two table commits, so
# each table keeps its own idempotency record; on replay, the table that
# already committed skips while the other catches up — both converge with
# no double-commit and no coordination beyond the shared batch_id.  The
# query replays the poisoned proof against BOTH tables after the stream
# drains: the oracle's n_versions literals (4 each) and the equality of
# the two tables' aggregates (fact recount == stored batch partials) prove
# neither table absorbed the replay.  Per-batch cost is two O(files)
# manifest commits; the aggregate table's rows are batch×type grain.
@query(
    "stream_dual_snapshot_commits",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n_fact,
           cast(count(*) as bigint) AS n_agg,
           cast(4 as bigint) AS n_versions_fact,
           cast(4 as bigint) AS n_versions_agg
    FROM events GROUP BY event_type
    """,
)
def stream_dual_snapshot_commits(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    fact = SnapshotTable(session_dir(spark, "snapdual_fact_"))
    agg = SnapshotTable(session_dir(spark, "snapdual_agg_"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        fact.commit_append(batch_df, batch_id=batch_id)
        partial = batch_df.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n")
        )
        agg.commit_append(partial, batch_id=batch_id)

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    _drain(spark, sf_dir, "snapdual", events, "event_id", n_batches, process_batch)

    # the poisoned replay, against BOTH tables: a working guard commits
    # nothing anywhere; a broken one adds a bogus group and a 5th version
    # on whichever table absorbed it
    poison = spark.createDataFrame(
        [(-1, "__replayed__", 1.0)], "event_id bigint, event_type string, value double"
    )
    process_batch(poison, 0)

    fact_counts = (
        fact.read(spark)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_fact"))
    )
    agg_counts = (
        agg.read(spark)
        .groupBy("event_type")
        .agg(F.sum("n").cast("bigint").alias("n_agg"))
    )
    return (
        fact_counts.join(agg_counts, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("n_fact", F.lit(0)).alias("n_fact"),
            F.coalesce("n_agg", F.lit(0)).alias("n_agg"),
        )
        .withColumn("n_versions_fact", F.lit(len(fact.versions())).cast("bigint"))
        .withColumn("n_versions_agg", F.lit(len(agg.versions())).cast("bigint"))
    )


# --------------------------------------------------------------------------
# Streaming CDC UPSERT into a lakehouse table with merge-on-read — the
# Delta `foreachBatch + MERGE` recipe with all three production properties
# at once: (1) EXACTLY-ONCE: each merge is stamped with its batch_id and a
# replayed id is skipped whole (no DV, no files — the poisoned replay after
# the drain proves it via the n_versions=4 literal); (2) NO REWRITE
# AMPLIFICATION: losing rows die by deletion vector, so every batch writes
# O(batch rows) and each version carries ALL prior data files
# (n_files_total=4 — one per batch — is the zero-rewrite pin); (3)
# SPLIT-INDEPENDENT state: the upsert is conditional — the merge's
# keep-greatest rule ranks the batch's rows against the CURRENT table rows
# for those keys and only the (ts, event_id)-max row survives — so the
# final table equals the GLOBAL keep-latest per user no matter how the
# stream was batched, which is what makes a batching-blind SQL oracle
# possible.  Per batch: one merge commit, whose single window over the
# batch and its key-range-pruned incumbents writes the deletion vector.
@query(
    "stream_mor_upsert",
    oracle="""
    WITH latest AS (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY epoch_us(ts)//1000000 DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT cast(count(*) as bigint) AS n_users,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double)
             AS sum_last_value,
           cast(4 as bigint) AS n_versions,
           cast(4 as bigint) AS n_files_total
    FROM latest WHERE rn = 1
    """,
)
def stream_mor_upsert(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    t = SnapshotTable(session_dir(spark, "morups_tbl_"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        t.commit_merge_on_read(
            batch_df, key="user_id", batch_id=batch_id,
            keep_greatest=["ts_sec", "event_id"],
        )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value", "ts_sec"
    )
    _drain(spark, sf_dir, "morups", events, "event_id", n_batches, process_batch)

    # poisoned replay of batch 0: a working guard merges NOTHING — a broken
    # one would plant an absurd-timestamp row on user -1, add a 5th version
    # and a 5th file, failing the oracle on three columns at once
    poison = spark.createDataFrame(
        [(-1, -1, 1.0e9, 10**12)],
        "event_id bigint, user_id bigint, value double, ts_sec bigint",
    )
    process_batch(poison, 0)

    return t.read(spark).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum(F.col("value").cast("decimal(27,6)"))
        .cast("double")
        .alias("sum_last_value"),
        F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
        F.lit(len(t.files())).cast("bigint").alias("n_files_total"),
    )


# --------------------------------------------------------------------------
# Date-partitioned streaming snapshot sink — the canonical production
# lakehouse ingestion shape: each micro-batch's per-(day, type) partial
# counts land as ONE atomic, batch-id-stamped, HIVE-PARTITIONED commit
# (`partition_by=["day"]` — day=N/ directories under data/, partition
# values recorded per manifest entry), so day-scoped consumers schedule
# exactly one partition's files via manifest partition pruning (tier 1,
# before any file IO — the S2/S8 day-partitioned-fact story with streaming
# freshness).  Appends keep the layout (the mixed-layout guard enforces
# same partition keys every batch); the poisoned replay proves the
# batch-id guard holds for partitioned commits too (n_versions=4, clean
# type set).  Downstream re-aggregation of batch partials is exact
# because counts are map-combinable.
@query(
    "stream_partitioned_snapshot_sink",
    oracle="""
    SELECT epoch_us(ts)//1000000//86400 AS day,
           event_type,
           cast(count(*) as bigint) AS n_events,
           cast(4 as bigint) AS n_versions
    FROM events GROUP BY 1, 2
    """,
)
def stream_partitioned_snapshot_sink(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    t = SnapshotTable(session_dir(spark, "snappart_tbl_"))

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        partial = (
            batch_df.withColumn(
                "day", (F.col("ts_sec") / F.lit(86400)).cast("bigint")
            )
            .groupBy("day", "event_type")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        )
        t.commit_append(partial, partition_by=["day"], batch_id=batch_id)

    events = load_table(spark, sf_dir, "events").select("event_id", "event_type", "ts_sec")
    _drain(spark, sf_dir, "snappart", events, "event_id", n_batches, process_batch)

    # poisoned replay of batch 0 (absurd day + bogus type): a working
    # batch-id guard commits nothing for partitioned appends too
    poison = spark.createDataFrame(
        [(-1, "__replayed__", 10**12)],
        "event_id bigint, event_type string, ts_sec bigint",
    )
    process_batch(poison, 0)

    return (
        t.read(spark)
        .groupBy("day", "event_type")
        .agg(F.sum("n").cast("bigint").alias("n_events"))
        .select(
            F.col("day").cast("bigint").alias("day"),
            "event_type",
            "n_events",
            F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
        )
    )


# --------------------------------------------------------------------------
# Streaming INCREMENTAL VIEW MAINTENANCE with retractions — the
# Flink-retract-stream / Materialize shape, distinct from every other
# streaming sink here: the maintained state is an AGGREGATE view
# (per-type count + sum), not keyed latest rows, and the changelog carries
# DELETES that must subtract exactly what their inserts added.  Per batch:
# signed deltas (+1/+value insert, -1/-value retract) are summed per type
# and the partial lands as one blind append stamped with the batch_id for
# exactly-once; the view sums the landed partials per type at read.
# Because addition commutes, the view is BATCHING-INDEPENDENT — which is
# what makes the batching-blind SQL oracle possible — and sums ride
# decimal(27,6) so a retraction cancels its insert bit-exactly.  Groups
# that fold to zero are dropped by the view, not by the fold: the
# synthetic '__temp__' group is fully inserted then fully retracted
# in-stream, so a broken zero-drop (or a lost retraction) surfaces as an
# extra oracle row.  The poisoned replay of batch 0 after the drain pins
# the idempotency guard via the n_versions=4 literal.  Stored rows grow as
# batches × touched groups until something folds them;
# ``t.commit_rewrite(ivm_fold(t.read(spark)))`` bounds them with the
# table's existing verbs when a stream needs it.
def ivm_fold(rows: DataFrame) -> DataFrame:
    """Sum (event_type, n_live, s_live) rows per event_type: a batch's
    signed deltas on the write side, the landed partials on the read side.
    A group that folds to n_live = 0 is kept."""
    return rows.groupBy("event_type").agg(
        F.sum("n_live").cast("bigint").alias("n_live"),
        F.sum("s_live").cast("decimal(27,6)").alias("s_live"),
    )


def ivm_commit_batch(t: SnapshotTable, batch_df: DataFrame, batch_id: int) -> None:
    """Land one changelog micro-batch's (seq, event_type, value, sign) rows
    in ``t`` as a per-type partial; a replayed ``batch_id`` commits
    nothing."""
    deltas = batch_df.select(
        "event_type",
        F.col("sign").cast("bigint").alias("n_live"),
        (F.col("sign") * F.col("value").cast("decimal(27,6)")).alias("s_live"),
    )
    t.commit_append(ivm_fold(deltas), batch_id=batch_id)


def ivm_view(spark: SparkSession, t: SnapshotTable) -> DataFrame:
    """The maintained view: the partials folded per type, zero-count
    groups dropped."""
    return ivm_fold(t.read(spark)).where(F.col("n_live") != 0)


@query(
    "stream_ivm_aggregates",
    oracle="""
    SELECT event_type,
           cast(count(*) as bigint) AS n_live,
           cast(cast(sum(cast(value as decimal(27,6))) as varchar) as double)
             AS sum_live,
           cast(4 as bigint) AS n_versions
    FROM events WHERE event_id % 5 <> 0 GROUP BY event_type
    """,
)
def stream_ivm_aggregates(
    spark: SparkSession, sf_dir: str, n_batches: int = 4
) -> DataFrame:
    # changelog synthesis: every event is inserted; events with
    # event_id % 5 == 0 are retracted LATER (seq pushes all deletes after
    # all inserts under the range batching); the '__temp__' group is born
    # and fully killed inside the stream.
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    big = F.lit(1 << 40)
    inserts = ev.select(
        F.col("event_id").alias("seq"),
        "event_type",
        "value",
        F.lit(1).alias("sign"),
    )
    deletes = ev.where(F.col("event_id") % 5 == 0).select(
        (F.col("event_id") + big).alias("seq"),
        "event_type",
        "value",
        F.lit(-1).alias("sign"),
    )
    tmp_rows = spark.createDataFrame(
        [(-3, "__temp__", 1.25, 1), (-2, "__temp__", 2.5, 1), (-1, "__temp__", 4.0, 1)],
        "seq bigint, event_type string, value double, sign int",
    )
    tmp_dels = tmp_rows.select(
        (F.col("seq") + big + big).alias("seq"), "event_type", "value",
        F.lit(-1).alias("sign"),
    )
    changelog = inserts.unionByName(deletes).unionByName(tmp_rows).unionByName(tmp_dels)

    t = SnapshotTable(session_dir(spark, "ivmagg_tbl_"))
    _drain(
        spark, sf_dir, "ivmagg", changelog, "seq", n_batches,
        lambda df, batch_id: ivm_commit_batch(t, df, batch_id),
    )

    # poisoned replay of batch 0: a working guard folds nothing — a broken
    # one would plant a '__replayed__' group and a 5th version
    poison = spark.createDataFrame(
        [(0, "__replayed__", 1.0, 1)],
        "seq bigint, event_type string, value double, sign int",
    )
    ivm_commit_batch(t, poison, 0)

    return ivm_view(spark, t).select(
        "event_type",
        "n_live",
        F.col("s_live").cast("double").alias("sum_live"),
        F.lit(len(t.versions())).cast("bigint").alias("n_versions"),
    )


# --------------------------------------------------------------------------
# Streaming KMV sketch maintenance: the mergeable-sketch property as a
# stream job.  KMV/theta sketches merge exactly — union the value sets,
# keep the K smallest — so maintaining one incrementally over micro-batches
# MUST reproduce the batch sketch bit-for-bit (the oracle below is the same
# SQL as kmv_audience_overlap's sketch columns, computed over the whole
# table at once).  The merged top-K is a subset of the union of the
# per-batch top-Ks, so each batch lands at most K (seg, h) rows per segment
# as one batch-id-stamped append, and the readout keeps the K smallest
# distinct hashes per segment over at most K × batches rows.  Sketch union
# is idempotent and commutative, so a replayed or reordered batch could not
# change the converged sketch even without the table's batch-id guard.
#
# At 100 TB this is the shape of every streaming distinct-cardinality
# dashboard: per-batch work is one scan + a TakeOrderedAndProject cut to
# K rows, and the exact same sketch rows can be unioned ACROSS
# streams/partitions/days later (the DataSketches set-operation contract).
# Stored rows grow as K × batches until something folds them;
# ``commit_rewrite`` of the readout's K rows per segment bounds them.
KMV_SEGMENTS = (("a", SEG_A_SQL), ("b", SEG_B_SQL))


def kmv_commit_batch(t: SnapshotTable, batch_df: DataFrame, batch_id: int) -> None:
    """Land one batch's K smallest distinct user hashes per segment in
    ``t`` as (seg, h) rows."""
    parts = [
        batch_df.where(F.expr(pred))
        .select(F.lit(seg).alias("seg"), _h40(F.col("user_id")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(KMV_K)
        for seg, pred in KMV_SEGMENTS
    ]
    t.commit_append(parts[0].unionByName(parts[1]), batch_id=batch_id)


def kmv_sketches(spark: SparkSession, t: SnapshotTable) -> dict[str, list[int]]:
    """Each segment's sketch: the K smallest distinct hashes over every
    landed (seg, h) row, ascending."""
    hashes: dict[str, set[int]] = {seg: set() for seg, _ in KMV_SEGMENTS}
    for r in t.read(spark).collect():
        hashes[r["seg"]].add(r["h"])
    return {seg: sorted(hs)[:KMV_K] for seg, hs in hashes.items()}


@query(
    "stream_kmv_sketch_merge",
    # oracle interpolates the SAME constants (KMV_K/KMV_MAXH/SEG_*_SQL/
    # _h40_sql) the Spark side imports from analysis_queries, mirroring
    # kmv_audience_overlap — a change to the shared constants can never
    # desync this oracle silently
    oracle=f"""
    WITH sega AS (SELECT DISTINCT user_id FROM events WHERE {SEG_A_SQL}),
    segb AS (SELECT DISTINCT user_id FROM events WHERE {SEG_B_SQL}),
    ha AS (SELECT DISTINCT {_h40_sql("cast(user_id as varchar)")} AS h FROM sega),
    hb AS (SELECT DISTINCT {_h40_sql("cast(user_id as varchar)")} AS h FROM segb),
    ska AS (SELECT h FROM ha ORDER BY h LIMIT {KMV_K}),
    skb AS (SELECT h FROM hb ORDER BY h LIMIT {KMV_K}),
    sa AS (SELECT count(*) AS n_sketch_a, max(h) AS kth_a FROM ska),
    sb AS (SELECT count(*) AS n_sketch_b, max(h) AS kth_b FROM skb),
    st AS (
      SELECT n_sketch_a, n_sketch_b,
             CASE WHEN n_sketch_a < {KMV_K} THEN {KMV_MAXH} ELSE kth_a END AS theta_a,
             CASE WHEN n_sketch_b < {KMV_K} THEN {KMV_MAXH} ELSE kth_b END AS theta_b
      FROM sa, sb
    ),
    st2 AS (SELECT *, least(theta_a, theta_b) AS theta FROM st),
    ni AS (
      SELECT count(*) AS n_inter_sketch
      FROM ska JOIN skb USING (h), st2 WHERE ska.h < st2.theta
    )
    SELECT cast({KMV_K} as bigint) AS k,
           cast(n_sketch_a as bigint) AS n_sketch_a,
           cast(n_sketch_b as bigint) AS n_sketch_b,
           cast(theta as bigint) AS theta,
           cast(n_inter_sketch as bigint) AS n_inter_sketch,
           cast(CASE WHEN n_sketch_a < {KMV_K} THEN n_sketch_a
                     ELSE ({KMV_K - 1} * {KMV_MAXH}) // theta_a END as bigint) AS est_a,
           cast(CASE WHEN n_sketch_b < {KMV_K} THEN n_sketch_b
                     ELSE ({KMV_K - 1} * {KMV_MAXH}) // theta_b END as bigint) AS est_b,
           cast(CASE WHEN theta = {KMV_MAXH} THEN n_inter_sketch
                     ELSE (n_inter_sketch * {KMV_MAXH}) // theta END as bigint)
             AS est_inter
    FROM st2, ni
    """,
)
def stream_kmv_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = SnapshotTable(session_dir(spark, "kmv_tbl_"))
    # narrow projection: the sketch needs nothing but the segment predicate
    # columns
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    _drain(
        spark, sf_dir, "kmv", events, "event_id", 4,
        lambda df, batch_id: kmv_commit_batch(t, df, batch_id),
    )

    # readout: the same exact-bigint estimator arithmetic as the batch
    # query, over the converged sketches (sketch-sized driver math)
    sketches = kmv_sketches(spark, t)
    ska, skb = sketches["a"], sketches["b"]
    th_a = KMV_MAXH if len(ska) < KMV_K else ska[-1]
    th_b = KMV_MAXH if len(skb) < KMV_K else skb[-1]
    theta = min(th_a, th_b)
    inter = [h for h in set(ska) & set(skb) if h < theta]
    est_a = len(ska) if len(ska) < KMV_K else ((KMV_K - 1) * KMV_MAXH) // th_a
    est_b = len(skb) if len(skb) < KMV_K else ((KMV_K - 1) * KMV_MAXH) // th_b
    est_i = len(inter) if theta == KMV_MAXH else (len(inter) * KMV_MAXH) // theta
    return spark.createDataFrame(
        [(KMV_K, len(ska), len(skb), theta, len(inter), est_a, est_b, est_i)],
        "k bigint, n_sketch_a bigint, n_sketch_b bigint, theta bigint, "
        "n_inter_sketch bigint, est_a bigint, est_b bigint, est_inter bigint",
    )


# --------------------------------------------------------------------------
# Streaming HDR-histogram sketch maintenance: the ADDITIVE-merge
# counterpart of stream_kmv_sketch_merge.  Bucket counts merge by
# addition, which — unlike KMV set-union — is NOT idempotent, so this job
# leans on the T7 exactly-once contract: each batch's (bucket, lower_fp,
# cnt) frame lands as one batch-id-stamped append, and the table skips a
# replayed id whole (`sources/snapshots.py::commit_append`).  The query
# re-plays batch 0 through the sink after convergence and pins that no
# version was committed.  Per-batch work: one combinable groupBy cut to
# the O(64·2^p) bucket frame; the readout sums the counts per bucket and
# must reproduce the whole-table batch sketch bucket-for-bucket (the
# oracle is the same SQL as hdr_histogram_quantiles' sketch walk).  Stored
# rows grow as buckets × batches until something folds them;
# ``commit_rewrite`` of the summed buckets bounds them.
def hdr_commit_batch(t: SnapshotTable, batch_df: DataFrame, batch_id: int) -> None:
    """Land one batch's HDR bucket counts of ``value`` in ``t``."""
    buckets = (
        batch_df.select(F.expr("cast(floor(value * 100) as bigint)").alias("v"))
        .where(F.col("v") >= 1)
        .select(
            F.expr(_HDR_B["bucket"]).alias("bucket"),
            F.expr(_HDR_B["lower"]).alias("lower_fp"),
        )
        .groupBy("bucket", "lower_fp")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t.commit_append(buckets, batch_id=batch_id)


def hdr_buckets(spark: SparkSession, t: SnapshotTable) -> list[tuple[int, int]]:
    """(lower_fp, count) per bucket, summed over every landed batch and
    ordered by lower bound."""
    rows = (
        t.read(spark)
        .groupBy("bucket", "lower_fp")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()  # bounded: O(64 * 2^p) bucket rows, never data-sized
    )
    return sorted((r["lower_fp"], r["cnt"]) for r in rows)


@query(
    "stream_hdr_sketch_merge",
    oracle=f"""
    WITH fp AS (
      SELECT cast(floor(value * 100) as bigint) AS v FROM events
      WHERE floor(value * 100) >= 1
    ),
    sketch AS (
      SELECT {_HDR_B['bucket']} AS bucket, {_HDR_B['lower']} AS lower_fp, count(*) AS cnt
      FROM fp GROUP BY 1, 2
    ),
    cum AS (
      SELECT bucket, lower_fp, cnt,
             sum(cnt) OVER (ORDER BY lower_fp) AS cum_cnt
      FROM sketch
    ),
    tot AS (SELECT cast(count(*) as bigint) AS n FROM fp),
    qs AS (SELECT cast(unnest([{', '.join(str(q) for q in HDR_QS)}]) as double) AS q),
    ranks AS (SELECT q, cast(ceil(q * n) as bigint) AS r, n FROM qs, tot),
    est AS (
      SELECT r.q, r.r, r.n, min(c.lower_fp) AS est_fp
      FROM ranks r JOIN cum c ON c.cum_cnt >= r.r
      GROUP BY 1, 2, 3
    )
    SELECT q,
           cast(n as bigint) AS n_total,
           cast(r as bigint) AS rank_r,
           cast(est_fp as double) / 100.0 AS est_value,
           cast((SELECT count(*) FROM sketch) as bigint) AS n_buckets,
           cast(4 as bigint) AS n_batches,
           true AS replay_safe
    FROM est
    """,
)
def stream_hdr_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = SnapshotTable(session_dir(spark, "hdr_tbl_"))
    events = load_table(spark, sf_dir, "events").select("event_id", "value")
    _drain(
        spark, sf_dir, "hdr", events, "event_id", 4,
        lambda df, batch_id: hdr_commit_batch(t, df, batch_id),
    )

    # replay probe: push a committed batch id through the sink again, with
    # a frame that would add a bogus bucket — the batch-id guard must
    # commit no version
    head = t.versions()
    poison = spark.createDataFrame([(-1, 1.0e6)], "event_id bigint, value double")
    hdr_commit_batch(t, poison, 0)
    replay_safe = t.versions() == head

    # sketch-sized driver readout, same arithmetic as the batch oracle
    buckets = hdr_buckets(spark, t)
    n = sum(c for _, c in buckets)
    n_batches = len(t.committed_batch_ids())
    out = []
    for qq in HDR_QS:
        r = math.ceil(qq * n)
        cum = 0
        est_fp = None
        for lo, c in buckets:
            cum += c
            if cum >= r:
                est_fp = lo
                break
        out.append((qq, n, r, est_fp / 100.0, len(buckets), n_batches, replay_safe))
    return spark.createDataFrame(
        out,
        "q double, n_total bigint, rank_r bigint, est_value double, "
        "n_buckets bigint, n_batches bigint, replay_safe boolean",
    )


# --------------------------------------------------------------------------
# Streaming SESSION WINDOWS — the native dynamic-gap windowing the
# reference never had (its sessions are batch-derived lead() pairings,
# SURVEY §2.9 "no session windows"): per-user sessions that extend while
# events keep arriving within the gap and close when the event-time
# watermark passes the session end (an event at EXACTLY gap distance
# extends the session — Spark's boundary is inclusive, pinned by the
# sf0.1 gate where a real 1800-second-exact pair exists).  Event time is
# floored to integral
# seconds BEFORE windowing (the registry's cross-engine time contract —
# the raw microsecond timestamps would make gap comparisons
# sub-second-sensitive and unportable).  Append mode emits only
# watermark-finalized sessions, so sessions still open at end-of-stream
# (end > the final watermark = max event time) are withheld — the oracle
# applies the same cut.  At 100 TB this is the native stateful shape for
# the reference's online-session estimation: state is per-OPEN-session
# (bounded by the watermark), merged by Spark's session-merge operator,
# no shuffle beyond the user keying.
@query(
    "stream_session_windows",
    oracle="""
    WITH ev AS (
      SELECT user_id, epoch_us(ts)//1000000 AS sec FROM events
    ),
    mx AS (SELECT max(sec) AS max_sec FROM ev),
    s AS (
      SELECT user_id, sec,
             CASE WHEN lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                       IS NULL
                  OR sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec)
                       > 1800
                  THEN 1 ELSE 0 END AS brk
      FROM ev
    ),
    g AS (
      SELECT user_id, sec,
             sum(brk) OVER (PARTITION BY user_id ORDER BY sec
                            ROWS UNBOUNDED PRECEDING) AS sid
      FROM s
    ),
    sess AS (
      SELECT user_id,
             min(sec) AS session_start,
             max(sec) + 1800 AS session_end,
             count(*) AS n_events
      FROM g GROUP BY user_id, sid
    )
    SELECT cast(user_id as bigint) AS user_id,
           cast(session_start as bigint) AS session_start,
           cast(session_end as bigint) AS session_end,
           cast(n_events as bigint) AS n_events
    FROM sess, mx WHERE session_end <= max_sec
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).withColumn(
        "event_sec", F.timestamp_seconds(F.col("ts_sec"))
    )
    agg = (
        ev.withWatermark("event_sec", "0 seconds")
        .groupBy(F.session_window("event_sec", "30 minutes"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            F.unix_timestamp("session_window.start")
            .cast("bigint")
            .alias("session_start"),
            F.unix_timestamp("session_window.end")
            .cast("bigint")
            .alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )
    return run_stream_to_memory(agg, output_mode="append")
