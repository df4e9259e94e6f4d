"""ChannelReport — the reference's largest report job (SURVEY §3.2),
re-expressed Spark-first.

Reference chain (`homed/repots/ChannelReport.scala`):
scan day's live sessions → split to half-hours (RDD loop :1466-1520) →
interval-join EPG (:68-73) → per-program uv/playtime aggregation →
dense_rank topN per channel (:220-251) → pack with collect_set (:227) →
region→city→province re-aggregation (:266-273) → Phoenix.

Here: the EPG is a deterministic synthetic program guide (2-hour programs
per channel tiling the events time range), the interval join is the
equi+range hash join from operators/enrich.py, ratings/topN/packing are
single-pass window + collect_set, and the multi-grain pass is a rollup.

Scale: the EPG join broadcasts the guide (a real EPG is ~1e5 rows);
the only fact shuffles are the per-program aggregation and the final
channel grain — both keyed on (channel, program), high-cardinality even
keys.  No driver-side loops anywhere (the reference's half-hour splitter
and EPG map lookups were driver/closure-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.aggregate import top_n_per_group
from ..operators.enrich import interval_join
from ..sources.tables import load_table

N_CHANNELS = 10
PROGRAM_SEC = 7200  # 2-hour programs
GUIDE_START = 1704067200  # 2024-01-01 00:00:00 UTC
GUIDE_END = 1706745600  # 2024-02-01 00:00:00 UTC


def build_epg(spark: SparkSession) -> DataFrame:
    """Synthetic EPG: per channel, 2-hour programs tiling January 2024
    (the homed_eit_schedule_history analog; ChannelReport.scala:1321-1332
    derived program end = start + duration the same way)."""
    channels = spark.range(N_CHANNELS).select(F.col("id").alias("channel_id"))
    starts = F.sequence(
        F.lit(GUIDE_START), F.lit(GUIDE_END - PROGRAM_SEC), F.lit(PROGRAM_SEC)
    )
    return channels.select(
        "channel_id", F.explode(starts).alias("prog_start")
    ).select(
        "channel_id",
        "prog_start",
        (F.col("prog_start") + PROGRAM_SEC).alias("prog_end"),
        F.concat(
            F.lit("prog_"),
            F.col("channel_id").cast("string"),
            F.lit("_"),
            ((F.col("prog_start") - GUIDE_START) / PROGRAM_SEC).cast("long").cast("string"),
        ).alias("event_name"),
    )


def build_plays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watch points from events: channel from the props key, watch seconds
    from value (the live-play slice of the behavior fact)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0))
    return ev.select(
        "user_id",
        "event_id",
        (k % N_CHANNELS).alias("channel_id"),
        F.col("ts_sec").alias("watch_start"),
        F.least(F.floor(F.col("value") * 10).cast("bigint"), F.lit(PROGRAM_SEC)).alias(
            "watch_sec"
        ),
    )


def channel_report(spark: SparkSession, sf_dir: str, top_n: int = 3) -> DataFrame:
    """Per-channel report: program count, channel UV, total watch time, and
    the packed topN program list (by program UV, ties by name)."""
    plays = build_plays(spark, sf_dir)
    epg = build_epg(spark)
    watched = interval_join(
        plays,
        epg,
        equi_keys=[("channel_id", "channel_id")],
        point_col="watch_start",
        range_start_col="prog_start",
        range_end_col="prog_end",
        how="inner",
        broadcast_right=True,
    ).drop(epg["channel_id"])
    # program end is exclusive: a watch at exactly prog_end belongs to the
    # next program; drop the boundary row the inclusive join kept
    watched = watched.where(F.col("watch_start") < F.col("prog_end"))
    per_prog = watched.groupBy("channel_id", "event_name").agg(
        F.countDistinct("user_id").alias("prog_uv"),
        F.count(F.lit(1)).alias("prog_views"),
        F.sum("watch_sec").cast("bigint").alias("prog_watch_sec"),
    )
    top = top_n_per_group(
        per_prog,
        ["channel_id"],
        [F.col("prog_uv").desc(), F.col("event_name").asc()],
        top_n,
        rank_col="rnk",
        dense=True,
    )
    packed = top.groupBy("channel_id").agg(
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_set(F.concat_ws("&", F.col("event_name"), F.col("prog_uv")))
            ),
        ).alias("top_programs")
    )
    per_channel = watched.groupBy("channel_id").agg(
        F.countDistinct("event_name").alias("n_programs"),
        F.countDistinct("user_id").alias("channel_uv"),
        F.sum("watch_sec").cast("bigint").alias("total_watch_sec"),
    )
    return per_channel.join(packed, "channel_id", "left")


# ---------------------------------------------------------------------------
# Full-fidelity ChannelReport: the COMPLETE column set of the reference's
# groupByCategory_NEW (`homed/repots/ChannelReport.scala:122-454`), not just
# the chain's shape: per-grain uv (df_0), browse/hobby/steady user tiers
# (df_1, thresholds 600/3600 sec-per-day), per-program playtime (df_2),
# program rating = playtime/(uv*days*86400) with dense_rank topN and the
# packed `concat_ws('&',relevance,program,name,rating,start)` array (df_3),
# and the region → city → province grain union where coarser grains
# RE-AGGREGATE the finer ones (city uv = SUM of region uvs — the
# reference's deliberate approximation at :266-273/:360-367, reproduced
# faithfully) with '-1' placeholders for collapsed columns (:349/:445).
#
# Deviations (deterministic refinements of unspecified reference behavior):
# the packed rating is integer-exact (truncated at the 8th digit, see
# `_rating_pack`) and the collect_set pack is array_sort'ed before
# concat_ws (the reference's set order is undefined).
#
# Scale: every dim join is a broadcast.  The three grains are ONE pipeline:
# each aggregate family is a single grouping-sets aggregate (the Data Cube
# operator, Gray et al. ICDE 1996) over the region, city and province key
# sets, and rank/pack/join run once, keyed on (grain, geo, channel).  The
# fact feeds two aggregations — per-user and per-program, both keyed on
# high-cardinality composites — and one 1-row broadcast of the
# day-count/report-date scalars (no driver collect).  Nothing is cached:
# the result is lazy and all work runs in the caller's action, so the fact
# is scanned once per consumer — four scans, of which only the per-user
# and per-program ones parse the props JSON (uv and the scalars need no
# channel and read just the timestamp and user columns).

_REG = ["f_terminal", "f_region_id", "f_city_id", "f_province_id"]
_CH = ["f_channel_id"]
_PROG = ["f_program_id"]
# the city and province grains collapse the finer geo ids (grouping sets
# null them; the report writes -1); grain = number of collapsed levels
_GRAIN_SETS = (
    _REG,
    ["f_terminal", "f_city_id", "f_province_id"],
    ["f_terminal", "f_province_id"],
)
_KEYS = ["grain", *_REG]
# the 1-row day-count/report-date scalars: ONE aggregate, crossed onto the
# uv and tier inputs and carried through both as constant grouping keys
_SCAL = ["tg", "f_date_label"]


def build_channel_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The t_chanel_data_base analog: one row per watch event — but NARROW.

    Every name/program-attribute column of the reference's base table is
    FUNCTIONAL on an id already present here (f_region_name = 'rg_'+id,
    f_channel_name = 'ch_'+id, program name/relevance/start_time all derive
    from f_program_id, city/province names are 25/5-row dim lookups), so
    this base carries only the 9 numeric columns.  Names are derived or
    broadcast-joined AFTER aggregation (end of `channel_report_full`) — at
    100 TB that keeps repeated strings out of every one of the report's
    shuffles instead of hashing/sorting them billions of times.  Geo ids
    come from the customer→nation dims (broadcast, tiny)."""
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    k = F.coalesce(F.get_json_object("props", "$.k").cast("bigint"), F.lit(0))
    plays = ev.select(
        "user_id",
        F.col("ts_sec"),
        (k % N_CHANNELS).alias("f_channel_id"),
        F.least(F.floor(F.col("value") * 10).cast("bigint"), F.lit(PROGRAM_SEC)).alias(
            "f_play_sec"
        ),
    ).where(
        (F.col("ts_sec") >= GUIDE_START) & (F.col("ts_sec") < GUIDE_END)
    )
    slot = F.floor((F.col("ts_sec") - GUIDE_START) / PROGRAM_SEC).cast("bigint")
    geo = plays.join(F.broadcast(cust), "user_id").join(
        F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey")
    )
    region_id = (F.col("n_nationkey").cast("bigint") * 10 + F.col("user_id") % 4)
    prog_id = F.col("f_channel_id") * 10000 + slot
    return geo.select(
        F.floor(F.col("ts_sec") / 86400).cast("bigint").alias("f_date"),
        (F.lit(1) + F.col("user_id") % 3).alias("f_terminal"),
        region_id.alias("f_region_id"),
        F.col("n_nationkey").cast("bigint").alias("f_city_id"),
        F.col("n_regionkey").cast("bigint").alias("f_province_id"),
        "f_channel_id",
        prog_id.alias("f_program_id"),
        F.col("user_id").alias("f_user_id"),
        "f_play_sec",
    )


# program attributes are pure arithmetic on f_program_id (slot count is 372
# per month, far under the 10000 packing radix)
def _prog_slot() -> F.Column:
    return F.col("f_program_id") % 10000


def _prog_name() -> F.Column:
    return F.concat(
        F.lit("prog_"),
        (F.col("f_program_id") / 10000).cast("bigint").cast("string"),
        F.lit("_"),
        _prog_slot().cast("string"),
    )


def _grains(df: DataFrame, extra: list[str], *aggs: F.Column) -> DataFrame:
    """One aggregate at all three grains: grouping sets over the region,
    city and province key sets (each plus ``extra``), keyed on
    ``_KEYS + extra`` with the collapsed geo ids written as -1."""
    grain = F.grouping("f_region_id") + F.grouping("f_city_id")
    return (
        df.groupingSets([[*k, *extra] for k in _GRAIN_SETS], *_REG, *extra)
        .agg(*aggs, grain.alias("grain"))
        .withColumns(
            {c: F.coalesce(c, F.lit(-1)) for c in ("f_region_id", "f_city_id")}
        )
    )


def _tier_counts(per_user: DataFrame) -> DataFrame:
    """df_1: browse/hobby/steady user counts from per-user playtime/day
    (ChannelReport.scala:166-180).  A coarser grain counts the region-grain
    per-user rows, i.e. sums the region counts like the reference."""
    avg_sec = F.col("upt") / F.col("tg")
    return _grains(
        per_user,
        _CH + _SCAL,
        F.sum(F.when(avg_sec < 600, 1).otherwise(0)).cast("bigint").alias(
            "f_browse_user_count"
        ),
        F.sum(F.when((avg_sec >= 600) & (avg_sec < 3600), 1).otherwise(0))
        .cast("bigint")
        .alias("f_hobby_user_count"),
        F.sum(F.when(avg_sec >= 3600, 1).otherwise(0)).cast("bigint").alias(
            "f_steady_user_count"
        ),
    )


def _rating_pack(cat: DataFrame, keys: list[str], top_n: int) -> DataFrame:
    """df_3: rating>0 → dense_rank ≤ topN per (grain, geo, channel) → sorted
    collect_set pack (ChannelReport.scala:220-251).

    The reference's ``round(playtime/(uv*days*86400), 8)`` is a double
    round whose half-cases (which DO occur — the denominator is a product
    of small integers) round differently across engines (HALF_UP vs
    half-even).  Here the rating is exact integer arithmetic instead —
    truncation at the 8th digit, identical in every engine, same ranking
    semantics.  The ×1e8 scaling is done as THREE-STEP long division
    (÷, then two ×1e4 remainder steps) so it cannot overflow int64 even
    for a planet-scale group: each step multiplies a remainder < denom by
    1e4, so the intermediate stays < denom×1e4, and denom = uv·days·86400
    is < 2^63/1e4 for any real uv·days (a naive playtime×1e8 overflows —
    and wraps silently with ANSI off — once a (grain, program) group
    exceeds ~9.2e10 play-seconds, i.e. ~1.3e7 viewers of one 2-hour
    program)."""
    from pyspark.sql import Window

    long_div_e8 = (
        "((f_program_play_time DIV (f_uv * tg * 86400)) * 100000000L"
        " + ((f_program_play_time % (f_uv * tg * 86400)) * 10000L"
        "    DIV (f_uv * tg * 86400)) * 10000L"
        " + ((f_program_play_time % (f_uv * tg * 86400)) * 10000L"
        "    % (f_uv * tg * 86400)) * 10000L DIV (f_uv * tg * 86400))"
    )
    rated = cat.withColumn("rating_e8", F.expr(long_div_e8)).where(
        F.col("rating_e8") > 0
    )
    w = Window.partitionBy(*keys).orderBy(F.col("rating_e8").desc())
    top = rated.withColumn("f_rank", F.dense_rank().over(w)).where(
        F.col("f_rank") <= top_n
    )
    rating_str = F.concat(
        F.expr("rating_e8 DIV 100000000").cast("string"),
        F.lit("."),
        F.lpad((F.col("rating_e8") % 100000000).cast("string"), 8, "0"),
    )
    # relevance id / program name / start time are arithmetic on the packed
    # f_program_id — derived here, at the ≤topN·groups row count, instead of
    # being carried as strings through the fact shuffles
    pack = F.concat_ws(
        "&",
        (F.lit(5000000) + F.col("f_program_id")),
        F.col("f_program_id"),
        _prog_name(),
        rating_str,
        (F.lit(GUIDE_START) + _prog_slot() * PROGRAM_SEC),
    )
    return top.groupBy(*keys).agg(
        F.concat_ws(",", F.array_sort(F.collect_set(pack))).alias("f_rating_arr")
    )


def channel_report_full(spark: SparkSession, sf_dir: str, top_n: int = 3) -> DataFrame:
    """groupByCategory_NEW full column parity: f_date, terminal, 3-level
    geo ids+names, channel, packed rating array, packed user-type tiers —
    one row family per grain (region, city with region='-1', province with
    region=city='-1'), ChannelReport.scala:122-454.

    Lazy: returns the plan; every aggregation runs in the caller's action."""
    base = build_channel_base(spark, sf_dir)
    scal = F.broadcast(
        base.agg(
            F.countDistinct("f_date").alias("tg"),
            F.max("f_date").cast("string").alias("f_date_label"),
        )
    )

    # TWO fact aggregations: per-user (region, channel, user → playtime)
    # for df_1's tiers and per-program for df_2's playtime.  df_0's uv needs
    # no channel, so it counts users straight off the fact's narrow columns
    # (no props parse).  Each family covers all three grains in one
    # grouping-sets aggregate (`_grains`).
    #
    # Measured rejection (r11): collapsing these two into ONE exchange at
    # the finer (geo, channel, program, user) grain was tried and REVERTED
    # — on this corpus the fact barely reduces at that grain (sf1:
    # 1 000 000 base rows -> 991 350, vs 149 860 at user grain / 581 346
    # at program grain), so the single exchange moved ~0.99 fact + the
    # 0.74-fact re-agg exchanges where the two-exchange shape moves
    # ~0.73 fact in partials; job probe 52 -> 54 jobs, wall flat
    # (7.44 -> 7.39 s min-of-3 at sf1).  Events here don't repeat a
    # (user, program-slot), and users scale with data, so the grain never
    # densifies at ANY SF — see OPTIMIZATION_r11.md.
    pu = base.groupBy(*_REG, *_CH, "f_user_id").agg(
        F.sum("f_play_sec").alias("upt")
    ).crossJoin(scal)
    # a coarser grain's uv is the SUM of its region uvs (the reference's
    # approximation): each user counts once per region-grain geo
    df0 = _grains(
        base.crossJoin(scal),
        _SCAL,
        F.countDistinct("f_region_id", "f_city_id", "f_user_id").alias("f_uv"),
    )
    df1 = _tier_counts(pu)
    df2 = _grains(
        base,
        _CH + _PROG,
        F.sum("f_play_sec").cast("bigint").alias("f_program_play_time"),
    )
    df3 = _rating_pack(df0.join(df2, _KEYS), _KEYS + _CH, top_n)
    df4 = df1.join(df3, _KEYS + _CH)

    # city/province display names are 25/5-row dim lookups — broadcast
    # joined onto the AGGREGATED rows (thousands), never onto the fact
    nat_names = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").cast("bigint").alias("f_city_id"),
            F.col("n_name").alias("__city_name"),
        )
    )
    reg_names = F.broadcast(
        load_table(spark, sf_dir, "region").select(
            F.col("r_regionkey").cast("bigint").alias("f_province_id"),
            F.col("r_name").alias("f_province_name"),
        )
    )
    user_type = F.concat(
        F.lit("1:"),
        F.col("f_browse_user_count"),
        F.lit(",2:"),
        F.col("f_hobby_user_count"),
        F.lit(",3:"),
        F.col("f_steady_user_count"),
    )
    # the province grain's city id is -1: no name row, so the left join
    # leaves its name null and it renders as '-1' like the region name
    return (
        df4.join(reg_names, ["f_province_id"])
        .join(nat_names, ["f_city_id"], "left")
        .select(
            F.col("f_date_label").alias("f_date"),
            "f_terminal",
            F.col("f_region_id").cast("string").alias("f_region_id"),
            F.col("f_city_id").cast("string").alias("f_city_id"),
            F.col("f_province_id").cast("string").alias("f_province_id"),
            F.when(
                F.col("grain") == 0,
                F.concat(F.lit("rg_"), F.col("f_region_id").cast("string")),
            )
            .otherwise(F.lit("-1"))
            .alias("f_region_name"),
            F.coalesce("__city_name", F.lit("-1")).alias("f_city_name"),
            "f_province_name",
            F.col("f_channel_id").cast("string").alias("f_channel_id"),
            F.concat(F.lit("ch_"), F.col("f_channel_id").cast("string")).alias(
                "f_channel_name"
            ),
            "f_rating_arr",
            user_type.alias("f_user_type"),
        )
    )
