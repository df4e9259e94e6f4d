"""The reference's daily ETL chain end-to-end (SURVEY §3.1), Spark-first.

RunLogParser.main → orc_video_play re-expressed as a single declarative
pipeline over the synthetic events table:

1. raw run-log text lines      (S1; grammar RunLogParser.scala:507-525)
2. blacklist pre-filter        (P3; newFilter RunLogParser.scala:548-560)
3. regex + k-v parse           (P6; transform :507-525, str_to_map)
4. play/behavior split         (J10; LogParser.scala:119-120 — here two
                                complementary filters over one cached scan,
                                not .except)
5. Success→Finished pairing    (W1; calcVideoPlayTimeNew :419-439)
6. playtype normalization      (P6; tr/ts/kts → timeshift,
                                BusinessVisitCount.scala:170-172)
7. device-range → terminal     (P7; ReportLog.scala:424-445)
8. region dim join             (J1; LogParser.scala:263-270, broadcast)
9. report aggregation          (A1/A2; per playtype × region)

Every step is a pure DataFrame function so each is unit-testable; the
composed chain is oracle-checked (plans registry: ``video_play_report``).

Scale: steps 1-3,6,7 are narrow projections; the only shuffles are the
pairing window (keyed on user+device — high cardinality, even) and the
final aggregation.  The dim join broadcasts.  That is the minimal shuffle
set for these semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.maps import kv_string_to_map
from ..operators.enrich import dim_join
from ..operators.sessionize import pair_start_end
from ..operators.setops import split_by_predicate
from ..session import session_dir, session_fixture
from ..sources.tables import load_table

# event_type → run-log keyword (play-start / play-end / behavior / junk)
KEYWORD_MAP = {
    "signup": "Success",
    "purchase": "Finished",
    "click": "ProgramEnter",
    "view": "HeartBeat",
    "error": "BINARYC",  # blacklist family (RunLogParser.scala:548-560)
}

PLAY_METHODS = ["live", "vod", "tr", "ts", "kts"]


def build_raw_lines(events: DataFrame) -> DataFrame:
    """Step 1: deterministic run-log lines from the events table.

    ``[pid]yyyy-MM-dd HH:mm:ss - [INFO] - KeyWord, DA u, DeviceId d,
    ProgramMethod m, ProgramID p, PlayS s`` — the reference grammar
    (RunLogParser.scala:507-525) with values derived from event columns.
    """
    keyword = F.col("event_type")
    for k, v in KEYWORD_MAP.items():
        keyword = F.when(F.col("event_type") == k, v).otherwise(keyword)
    method_idx = (
        F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0)) % 5
    ).cast("int")
    method = F.element_at(F.array(*[F.lit(m) for m in PLAY_METHODS]), method_idx + 1)
    ts_str = F.date_format(F.timestamp_seconds(F.col("ts_sec")), "yyyy-MM-dd HH:mm:ss")
    line = F.concat(
        F.lit("["),
        # the reference's [pid] slot; carrying the full event id here makes
        # the text roundtrip lossless, so the parse can recover a unique
        # deterministic tiebreaker from the raw line itself (the reference
        # relied on Spark 1.6's unstable sort order — we do not)
        F.col("event_id").cast("string"),
        F.lit("]"),
        ts_str,
        F.lit(" - [INFO] - "),
        keyword,
        F.lit(", DA "),
        F.col("user_id").cast("string"),
        F.lit(", DeviceId "),
        # a small stable set of devices per user (so Success→Finished pairing
        # has real per-(user,device) event chains), ids spread across the
        # terminal ranges of ReportLog.scala:424-445
        (((F.col("user_id") * 3 + F.col("event_id") % 3) * 33311) % 100000).cast("string"),
        F.lit(", ProgramMethod "),
        method,
        F.lit(", ProgramID "),
        F.coalesce(F.get_json_object("props", "$.k"), F.lit("0")),
        F.lit(", PlayS "),
        F.floor(F.col("value")).cast("bigint").cast("string"),
    )
    return events.select(F.col("event_id"), line.alias("line"))


BLACKLIST = ("BINARYC", "PlayCount")


def filter_blacklist(lines: DataFrame) -> DataFrame:
    """Step 2: cheap substring pre-filter before the regex parse — the one
    manual optimization Catalyst can't infer (SURVEY §4)."""
    cond = None
    for word in BLACKLIST:
        c = ~F.col("line").contains(word)
        cond = c if cond is None else (cond & c)
    return lines.where(cond)


def parse_lines(lines: DataFrame) -> DataFrame:
    """Step 3: regex header parse + str_to_map k-v body — all native
    expressions, no Python (RunLogParser.transform parity).

    Everything, including the ``event_id`` tiebreaker, is recovered from the
    ``line`` text alone, so this parses equally from staged raw-log files
    (the reference's actual input shape) and from an inline-built column."""
    header_re = r"^\[(\d+)\](\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}) - \[INFO\] - ([A-Za-z]+), (.*)$"
    parsed = lines.select(
        F.regexp_extract("line", header_re, 1).try_cast("bigint").alias("event_id"),
        F.regexp_extract("line", header_re, 2).alias("ts_str"),
        F.regexp_extract("line", header_re, 3).alias("keyword"),
        F.regexp_extract("line", header_re, 4).alias("body"),
    ).where(F.col("keyword") != "")
    # pair delimiter: the grammar emits exactly ", " between pairs, so pass
    # the literal two-char delimiter — str_to_map compiles its delimiters as
    # regexes, and a quantified pattern like ", *" measured ~8x slower per
    # row than the literal (2.7s vs 0.35s per 100k lines on local[32])
    # try_cast/try_to_timestamp: raw logs are untrusted input — under
    # Spark 4's default ANSI mode a malformed number/timestamp would fail
    # the whole batch with a plain cast
    kv = parsed.withColumn("kv", kv_string_to_map(F.col("body"), ", ", " "))
    return kv.select(
        "event_id",
        F.unix_timestamp(
            F.expr("try_to_timestamp(ts_str, 'yyyy-MM-dd HH:mm:ss')")
        ).alias("sec"),
        "keyword",
        F.col("kv").getItem("DA").try_cast("bigint").alias("user_id"),
        F.col("kv").getItem("DeviceId").try_cast("bigint").alias("device_id"),
        F.col("kv").getItem("ProgramMethod").alias("method"),
        F.col("kv").getItem("ProgramID").try_cast("bigint").alias("program_id"),
        F.col("kv").getItem("PlayS").try_cast("bigint").alias("plays"),
    )


def split_play_behavior(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Step 4: play events vs behavior events — complementary filters over
    one scan (replaces the reference's .except shuffle, LogParser.scala:119)."""
    return split_by_predicate(parsed, F.col("keyword").isin("Success", "Finished"))


def normalize_playtype(col: F.Column) -> F.Column:
    """Step 6: tr/ts/kts → timeshift, vod → demand (the canonicalization in
    BusinessVisitCount.scala:170-172 and LogParser playType UDF — here a
    when-chain, no UDF)."""
    return (
        F.when(col.isin("tr", "ts", "kts"), "timeshift")
        .when(col == "vod", "demand")
        .otherwise(col)
    )


def terminal_of_device(col: F.Column) -> F.Column:
    """Step 7: device-id range → terminal class (ReportLog.scala:424-445)."""
    return (
        F.when(col < 20000, "stb")
        .when(col < 40000, "ca")
        .when(col < 60000, "mobile")
        .when(col < 80000, "pad")
        .otherwise("pc")
    )


def _runlog_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the synthetic run-log lines as a REAL text dataset once per
    (session, sf) and parse from disk — the reference's S1 input was raw
    HDFS log directories (`etl/RunLogParser.scala:69`), not an in-plan
    expression.  Besides fidelity, the file boundary stops the optimizer
    from inlining the expensive line-building expression (concat +
    get_json_object) into every downstream filter/extract consumer, which
    measured ~4x slower than parsing staged text on local[32]."""
    import os

    def build():
        path = os.path.join(session_dir(spark, "homed_runlog_"), "runlog")
        events = load_table(spark, sf_dir, "events").repartition(
            spark.sparkContext.defaultParallelism
        )
        build_raw_lines(events).select("line").write.mode("overwrite").text(path)
        return path

    return session_fixture(spark, sf_dir, "runlog", build)


def build_video_play(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Steps 1-8 composed: the orc_video_play analog.

    Reads the staged raw-log text (many files → many scan splits, so the
    CPU-bound regex/timestamp parse spreads across cores — the same effect
    the reference got from `repartition(nums)` RunLogParser.scala:192)."""
    lines = spark.read.text(_runlog_path(spark, sf_dir)).withColumnRenamed("value", "line")
    parsed = parse_lines(filter_blacklist(lines))
    play, _behavior = split_play_behavior(parsed)
    sessions = pair_start_end(
        play,
        key_cols=["user_id", "device_id"],
        ts_sec_col="sec",
        kind_col="keyword",
        start_kinds=["Success"],
        end_kinds=["Finished"],
        tiebreak_col="event_id",
    ).where(F.col("end_ts").isNotNull())
    fact = sessions.select(
        "user_id",
        "device_id",
        terminal_of_device(F.col("device_id")).alias("terminal"),
        normalize_playtype(F.col("method")).alias("playtype"),
        "program_id",
        "start_ts",
        "end_ts",
        (F.col("end_ts") - F.col("start_ts")).alias("playtime"),
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    user_dim = dim_join(cust, nation, cust["c_nationkey"] == nation["n_nationkey"], "inner")
    return dim_join(fact, user_dim, fact["user_id"] + 1 == user_dim["c_custkey"], "left")


def video_play_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step 9: the daily report — per playtype × region totals (the
    BusinessVisitCount report grain)."""
    fact = build_video_play(spark, sf_dir)
    return fact.groupBy("playtype", F.coalesce("n_name", F.lit("-")).alias("region")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("playtime").cast("bigint").alias("total_playtime_sec"),
    )
