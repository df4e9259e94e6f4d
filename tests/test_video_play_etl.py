"""Per-stage unit tests for the video_play ETL chain + sink semantics."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from bigdata_homed_spark.reports.video_play_etl import (
    build_raw_lines,
    build_video_play,
    filter_blacklist,
    normalize_playtype,
    parse_lines,
    split_play_behavior,
    terminal_of_device,
)
from bigdata_homed_spark.sources.sinks import write_partitioned_fact
from bigdata_homed_spark.sources.tables import load_table


def test_line_roundtrip(spark, sf_dir):
    """parse(build(x)) recovers the source fields exactly."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    parsed = parse_lines(filter_blacklist(build_raw_lines(ev))).select(
        "event_id",
        F.col("user_id").alias("p_user_id"),
        F.col("sec").alias("p_sec"),
        F.col("plays").alias("p_plays"),
    )
    joined = parsed.join(ev, "event_id", "inner")
    bad = joined.where(
        (F.col("p_user_id") != F.col("user_id"))
        | (F.col("p_sec") != F.col("ts_sec"))
        | (F.col("p_plays") != F.floor("value").cast("bigint"))
    )
    assert bad.count() == 0
    # blacklist: error events never survive
    assert parsed.join(ev.where(F.col("event_type") == "error"), "event_id", "inner").count() == 0


def test_split_is_complementary(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").limit(500)
    parsed = parse_lines(filter_blacklist(build_raw_lines(ev)))
    play, behavior = split_play_behavior(parsed)
    assert play.count() + behavior.count() == parsed.count()
    assert play.where(~F.col("keyword").isin("Success", "Finished")).count() == 0


def test_normalizations(spark):
    df = spark.createDataFrame(
        [("tr",), ("ts",), ("kts",), ("vod",), ("live",)], ["m"]
    ).select(normalize_playtype(F.col("m")).alias("p"))
    assert {r.p for r in df.collect()} == {"timeshift", "demand", "live"}
    dev = spark.createDataFrame([(0,), (25000,), (45000,), (65000,), (99999,)], ["d"]).select(
        terminal_of_device(F.col("d")).alias("t")
    )
    assert [r.t for r in dev.collect()] == ["stb", "ca", "mobile", "pad", "pc"]


def test_build_video_play_sessions_positive(spark, sf_dir):
    fact = build_video_play(spark, sf_dir)
    rows = fact.collect()
    assert rows, "no sessions paired"
    assert all(r.playtime >= 0 for r in rows)
    assert all(r.end_ts >= r.start_ts for r in rows)


def test_dynamic_partition_overwrite(spark, tmp_path):
    """S7 semantics: overwriting one day must not clobber other days."""
    base = str(tmp_path / "t")
    df1 = spark.createDataFrame([("d1", 1), ("d2", 2)], ["day", "v"])
    write_partitioned_fact(df1, base, ["day"])
    df2 = spark.createDataFrame([("d2", 99)], ["day", "v"])
    write_partitioned_fact(df2, base, ["day"])  # dynamic: only d2 replaced
    got = {(r.day, r.v) for r in spark.read.parquet(base).collect()}
    assert got == {("d1", 1), ("d2", 99)}


def test_text_file_multipath_read_matches_inline(spark, sf_dir, tmp_path):
    """S1 parity with REAL files: the reference read day-globbed text dirs
    via comma multi-path (`etl/RunLogParser.scala:69`, path calc
    :688-697).  Write the built lines to two directories, read both with
    one spark.read.text([p1, p2]) call, run the same parse chain, and the
    result must equal the inline path row-for-row."""
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.reports.video_play_etl import (
        build_raw_lines,
        filter_blacklist,
        parse_lines,
    )
    from bigdata_homed_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    lines = build_raw_lines(ev)
    half1 = lines.where(F.col("event_id") % 2 == 0)
    half2 = lines.where(F.col("event_id") % 2 == 1)
    p1 = os.path.join(str(tmp_path), "day1")
    p2 = os.path.join(str(tmp_path), "day2")
    half1.select("line").write.mode("overwrite").text(p1)
    half2.select("line").write.mode("overwrite").text(p2)

    # the line text itself carries the event id (the [pid] slot), so the
    # file path and the inline path must agree on EVERY parsed column,
    # including the deterministic tiebreaker
    from_files = spark.read.text([p1, p2]).withColumnRenamed("value", "line")
    cols = ["event_id", "sec", "keyword", "user_id", "device_id", "method", "program_id", "plays"]
    parsed_files = parse_lines(filter_blacklist(from_files)).select(*cols)
    parsed_inline = parse_lines(filter_blacklist(lines.select("line"))).select(*cols)

    a = sorted(map(tuple, parsed_files.collect()))
    b = sorted(map(tuple, parsed_inline.collect()))
    assert a == b and len(a) > 0
