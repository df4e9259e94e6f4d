"""Source/sink interface tests (JDBC gated — no database in container)."""

from __future__ import annotations

import pytest

from bigdata_homed_spark.sources.jdbc import (
    jdbc_partitioned_options,
    jdbc_subquery_options,
)
from bigdata_homed_spark.sources.tables import TABLES, load_tables, register_views


def test_jdbc_interface():
    opts = jdbc_subquery_options(
        "jdbc:mysql://host/db", "select DA, region_id from account_info", "u", "p"
    )
    assert opts["dbtable"].startswith("(") and opts["dbtable"].endswith(") as t")
    popts = jdbc_partitioned_options(
        "jdbc:mysql://host/db", "t_user", "DA", 1, 99999999, 5, "u", "p"
    )
    assert popts["numPartitions"] == "5" and popts["partitionColumn"] == "DA"


def test_jdbc_roundtrip_embedded_derby(spark):
    """S3/S4/S9 against a real (embedded, in-JVM) JDBC database: the Derby
    jars ship with Spark, so the gated MySQL path can be exercised
    end-to-end — sink write, pushdown-subquery read, range-partitioned
    parallel read, and filter pushdown into the JDBCRelation scan.
    Reference contract: `utils/DBUtils.scala:56-63,75-112`."""
    import uuid

    import pytest

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.jdbc import (
        jdbc_partitioned_options,
        jdbc_subquery_options,
        load_jdbc,
    )
    from bigdata_homed_spark.sources.sinks import write_jdbc

    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    try:
        spark._jvm.java.lang.Class.forName(driver)
    except Exception:
        pytest.skip("Derby driver not on the Spark classpath")

    url = f"jdbc:derby:memory:t{uuid.uuid4().hex[:8]};create=true"
    dim = spark.range(0, 25).selectExpr(
        "cast(id as int) as id", "concat('n_', id) as name"
    )
    # S9: the report sink (coalesced write parallelism)
    write_jdbc(dim, url, "dim_nation", num_partitions=2, properties={"driver": driver})

    # S3: pushdown subquery — the DB computes the filter, Spark scans the
    # result (Spark's JDBC writer creates case-sensitive quoted columns,
    # so the subquery quotes them — same as MySQL backtick hygiene)
    sub = load_jdbc(
        spark,
        jdbc_subquery_options(
            url,
            'select "id", "name" from dim_nation where "id" < 10',
            user="",
            password="",
            driver=driver,
        ),
    )
    assert sub.count() == 10 and set(sub.columns) == {"id", "name"}

    # S4: range-partitioned parallel read — one cursor per stride
    part = load_jdbc(
        spark,
        jdbc_partitioned_options(url, "dim_nation", "id", 0, 25, 4, "", "")
        | {"driver": driver},
    )
    assert part.rdd.getNumPartitions() == 4
    assert part.count() == 25

    # predicate pushdown reaches the JDBC scan
    filt = part.where(F.col("id") < 5)
    plan = filt._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan" in plan
    assert filt.count() == 5


def test_catalog_loads_all_tables(spark, sf_dir):
    dfs = load_tables(spark, sf_dir)
    assert set(dfs) == set(TABLES)
    for name, df in dfs.items():
        assert df.columns, name
    views = register_views(spark, sf_dir)
    assert spark.table("lineitem").columns == views["lineitem"].columns
    # events gains the derived epoch-seconds column
    assert "ts_sec" in dfs["events"].columns


def test_events_ts_sec_epoch_range(spark, sf_dir):
    """Pin the events time-unit contract: ts is parquet timestamp[us]
    (TIMESTAMP_NTZ on Spark 4.x) and ts_sec is UTC epoch seconds — the
    generated data lives in Jan 2024, so any unit/timezone slip (the round-1
    nanos bug collapsed 30 days into 43 minutes) lands far outside this
    window and fails loudly."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.tables import load_table

    # sabotage the session tz the way a vanilla driver session might
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Shanghai")
        ev = load_table(spark, sf_dir, "events")
        lo, hi = ev.agg(F.min("ts_sec"), F.max("ts_sec")).collect()[0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    jan1_2024, mar1_2024 = 1704067200, 1709251200
    assert jan1_2024 <= lo <= hi <= mar1_2024, (lo, hi)


def test_stream_event_time_epoch_range(spark, sf_dir):
    """Same pin for the streaming source: event_time must be real 2024
    wall-clock (round 1 divided microseconds by 1000 → Jan 1970)."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.streaming.jobs import (
        read_events_stream,
        run_stream_to_memory,
    )

    ev = read_events_stream(spark, sf_dir)
    out = run_stream_to_memory(
        ev.groupBy().agg(
            F.min("event_time").alias("lo"), F.max("event_time").alias("hi")
        ),
        "complete",
    ).collect()[0]
    assert out.lo.year == 2024 and out.hi.year == 2024, out


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path_factory):
    """Co-located bucketed join: both sides bucketed+sorted on the join key
    → SortMergeJoin with no Exchange and no per-task Sort in the plan."""
    from bigdata_homed_spark.sources.sinks import write_bucketed
    from bigdata_homed_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 8, sort_cols=["l_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bo, bl = spark.table("b_orders"), spark.table("b_lineitem")
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"])
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        expect = (
            orders.join(li, orders["o_orderkey"] == li["l_orderkey"]).count()
        )
        assert joined.count() == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_partitioned_state_store_merge_latest(spark, tmp_path):
    """The keep-greatest merge-on-read commit is the keyed state path: the
    greatest (keep_greatest) row wins per key, intra-batch duplicates
    collapse, untouched keys survive, an out-of-order batch cannot regress
    newer state, and a replayed batch is a no-op — also through a fresh
    ``SnapshotTable`` instance on the same path (restart: the state is
    found from the manifests, never re-loaded over)."""
    import os

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    path = os.path.join(str(tmp_path), "state")
    t = SnapshotTable(path)

    def snap():
        return {r.user_id: (r.sec, r.v) for r in t.read(spark).collect()}

    schema = "user_id long, sec long, v string"
    # intra-batch duplicate keys: only the newest survives
    t.commit_merge_on_read(
        spark.createDataFrame([(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], schema),
        "user_id",
        keep_greatest=["sec"],
    )
    assert snap() == {1: (20, "b"), 2: (5, "c")}

    # out-of-order batch: older row for user 1 must not regress the state
    late = spark.createDataFrame([(1, 15, "z"), (3, 7, "d")], schema)
    t.commit_merge_on_read(late, "user_id", keep_greatest=["sec"])
    assert snap() == {1: (20, "b"), 2: (5, "c"), 3: (7, "d")}

    # a full tie on sec keeps the incumbent row
    tie = spark.createDataFrame([(2, 5, "tie")], schema)
    t.commit_merge_on_read(tie, "user_id", keep_greatest=["sec"])
    assert snap() == {1: (20, "b"), 2: (5, "c"), 3: (7, "d")}

    # at-least-once replay of the same batch, after a restart: a no-op
    t = SnapshotTable(path)
    t.commit_merge_on_read(late, "user_id", keep_greatest=["sec"])
    assert snap() == {1: (20, "b"), 2: (5, "c"), 3: (7, "d")}


def test_table_inventory(spark, sf_dir):
    """HDFSFileVolumeCollect parity: per-table file counts and byte volume
    via the Hadoop FS API (works for single files and partitioned dirs)."""
    from bigdata_homed_spark.sources.inventory import table_inventory

    inv = {
        r["table_name"]: r
        for r in table_inventory(
            spark, sf_dir, ["lineitem", "events", "nope"]
        ).collect()
    }
    assert inv["lineitem"]["n_files"] == 1 and inv["lineitem"]["total_bytes"] > 0
    assert inv["events"]["total_bytes"] > 0
    assert inv["nope"]["n_files"] == 0 and inv["nope"]["total_bytes"] == 0


def test_partitioned_state_store_model_based(spark, tmp_path):
    """Model check of the keyed state path (keep-greatest
    ``commit_merge_on_read`` + ``commit_delete`` retention): arbitrary
    interleavings of batches with intra-batch duplicate and out-of-order
    keys, retention cutoffs, and replays of the last batch under its own
    batch id (skipped) or a new one (every row ties, the incumbent stays)
    must leave the table equal to a plain-dict model (hypothesis drives
    the sequences; failures shrink to a minimal op list)."""
    import os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    op = st.one_of(
        st.tuples(
            st.just("merge"),
            st.lists(
                st.tuples(st.integers(0, 7), st.integers(0, 9)),
                min_size=1,
                max_size=6,
                unique=True,
            ),
        ),
        st.tuples(st.just("delete"), st.integers(0, 9)),
        st.tuples(st.just("replay"), st.booleans()),
    )

    case_n = [0]

    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=5))
    def run(ops):
        case_n[0] += 1
        t = SnapshotTable(os.path.join(str(tmp_path), f"model_state_{case_n[0]}"))
        model: dict[int, tuple[int, str]] = {}
        last = None  # (batch id, rows) of the latest merge
        next_id = 0

        def merge(batch_id, rows):
            t.commit_merge_on_read(
                spark.createDataFrame(rows, "k long, sec long, v string"),
                "k",
                batch_id=batch_id,
                keep_greatest=["sec"],
            )
            for k, sec, v in sorted(rows, key=lambda r: -r[1]):
                # the batch's greatest row per key wins a strictly greater
                # sec only; a full tie keeps the incumbent
                if k not in model or sec > model[k][0]:
                    model[k] = (sec, v)

        for kind, arg in ops:
            if kind == "merge":
                # v names the batch, so which side won a full tie shows
                last = (next_id, [(k, sec, f"b{next_id}") for k, sec in arg])
                merge(*last)
                next_id += 1
            elif kind == "replay" and last is not None:
                if arg:  # same id: skipped whole, the model is unchanged
                    n_versions = len(t.versions())
                    t.commit_merge_on_read(
                        spark.createDataFrame(last[1], "k long, sec long, v string"),
                        "k",
                        batch_id=last[0],
                        keep_greatest=["sec"],
                    )
                    assert len(t.versions()) == n_versions
                else:  # a new id: relabelled, so a tie shows its winner
                    merge(next_id, [(k, sec, f"b{next_id}") for k, sec, _ in last[1]])
                    next_id += 1
            elif kind == "delete" and t.versions():
                t.commit_delete(spark, f"sec < {arg}")
                model = {k: r for k, r in model.items() if r[0] >= arg}
        if t.versions():
            got = {r.k: (r.sec, r.v) for r in t.read(spark).collect()}
            assert got == model, (ops, got, model)

    run()


def test_orc_partitioned_roundtrip(spark, sf_dir, tmp_path):
    """S8 format parity: the reference wrote ORC facts; the sink must
    produce a partitioned ORC table whose pruned read-back matches the
    parquet path row-for-row (and actually contains .orc files)."""
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.sinks import write_partitioned_fact
    from bigdata_homed_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format(F.timestamp_seconds(F.col("ts_sec")), "yyyyMMdd")
    )
    path = os.path.join(str(tmp_path), "orc_fact")
    write_partitioned_fact(ev, path, ["day"], output_files_per_partition=1, fmt="orc")

    one_day = [d for d in os.listdir(path) if d.startswith("day=")][0]
    assert any(
        f.endswith(".orc") for f in os.listdir(os.path.join(path, one_day))
    ), "sink did not write ORC files"

    back = spark.read.orc(path)
    day = one_day.split("=")[1]
    got = back.where(F.col("day") == day).count()
    want = ev.where(F.col("day") == day).count()
    assert got == want > 0
    # partition pruning reaches the ORC scan
    plan = back.where(F.col("day") == day)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_state_store_snapshot_retention_policy(spark, tmp_path):
    """NodeTime.scala:17-70 retention parity: the realtime node tables keep
    the CURRENT snapshot, the PREVIOUS one, and 24h of on-the-hour
    snapshots, deleting everything else.  The reference issued per-type
    raw DELETEs with stacked `f_date_time != …` predicates; here the same
    policy is ONE ``commit_delete`` predicate over the snapshot column —
    a deletion vector, no file rewrite, no driver loop."""
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(os.path.join(str(tmp_path), "nodes"))
    now = 200 * 3600 + 1800  # current snapshot: a half-hour mark
    prev = now - 1800
    # snapshots every 30 min for 3 days
    snaps = spark.range(0, 3 * 48).select(
        (F.lit(now) - F.col("id") * 1800).alias("snap_sec"),
        F.lit(1).alias("n_users"),
    )
    t.commit_append(snaps)
    keep = (
        (F.col("snap_sec") == now)
        | (F.col("snap_sec") == prev)
        | ((F.col("snap_sec") % 3600 == 0) & (F.col("snap_sec") > now - 86400))
    )
    t.commit_delete(spark, ~keep)
    left = {r.snap_sec for r in t.read(spark).collect()}
    assert now in left and prev in left
    hourly = {s for s in left if s not in (now, prev)}
    assert all(s % 3600 == 0 and s > now - 86400 for s in hourly)
    # 24 hour-marks survive in the window; one of them (720000) is also
    # `prev`, counted above, so 23 remain here
    assert len(hourly) == 23


def test_compact_small_files_reduces_count_preserves_data(spark, sf_dir, tmp_path):
    from bigdata_homed_spark.sources.sinks import compact_small_files
    from bigdata_homed_spark.sources.tables import load_table
    import pyspark.sql.functions as F

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    p = str(tmp_path / "frag")
    # simulate a micro-batch-fragmented table: 64 tiny files
    ev.repartition(64).write.parquet(p)
    want_rows = ev.count()
    want_sum = ev.agg(F.sum("event_id")).collect()[0][0]

    stats = compact_small_files(spark, p, target_bytes=64 << 20)
    assert stats["files_before"] >= 64
    assert stats["files_after"] < stats["files_before"] // 4

    got = spark.read.parquet(p)
    assert got.count() == want_rows
    assert got.agg(F.sum("event_id")).collect()[0][0] == want_sum


def test_compact_small_files_keeps_partition_dirs(spark, sf_dir, tmp_path):
    from bigdata_homed_spark.sources.sinks import compact_small_files
    from bigdata_homed_spark.sources.tables import load_table
    import pyspark.sql.functions as F
    import glob, os

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", (F.col("user_id") % 3).alias("part")
    )
    p = str(tmp_path / "fragp")
    ev.repartition(16).write.partitionBy("part").parquet(p)
    stats = compact_small_files(spark, p, partition_cols=["part"], target_bytes=64 << 20)
    assert stats["files_after"] < stats["files_before"]
    # partition layout survives (pruning still works)
    assert sorted(
        os.path.basename(d) for d in glob.glob(os.path.join(p, "part=*"))
    ) == ["part=0", "part=1", "part=2"]
    got = spark.read.parquet(p).where(F.col("part") == 1)
    assert got.count() == ev.where(F.col("part") == 1).count()


def test_compact_small_files_recovers_from_stale_swap_dirs(spark, sf_dir, tmp_path):
    """r5-advice regression: a crash between the two swap renames (or a
    killed previous run) leaves `__old` / `__compacting` behind; the next
    compaction must clear them and succeed instead of failing os.rename
    onto a non-empty directory."""
    import os

    import pyspark.sql.functions as F

    from bigdata_homed_spark.sources.sinks import compact_small_files
    from bigdata_homed_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    p = str(tmp_path / "frag")
    ev.repartition(16).write.parquet(p)
    want_rows = ev.count()

    # plant both stale scratch dirs, non-empty, as a crashed run would
    for stale in (p + "__old", p + "__compacting"):
        os.makedirs(stale)
        with open(os.path.join(stale, "leftover.parquet"), "w") as f:
            f.write("junk")

    stats = compact_small_files(spark, p, target_bytes=64 << 20)
    assert stats["files_after"] < stats["files_before"]
    assert not os.path.exists(p + "__old")
    assert not os.path.exists(p + "__compacting")
    assert spark.read.parquet(p).count() == want_rows


def test_merge_latest_tombstone_not_resurrected(spark, tmp_path):
    """CDC contract (stream_cdc_apply): a delete tombstone is merged STATE,
    so an older upsert replayed after the delete loses to it, and the
    read-time op filter is what hides the key — it never comes back."""
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    path = os.path.join(str(tmp_path), "state")
    t = SnapshotTable(path)
    schema = "user_id long, sec long, op string"

    upsert = spark.createDataFrame([(1, 10, "U"), (2, 11, "U")], schema)
    delete = spark.createDataFrame([(1, 20, "D")], schema)

    t.commit_merge_on_read(upsert, "user_id", keep_greatest=["sec"])
    t.commit_merge_on_read(delete, "user_id", keep_greatest=["sec"])
    # at-least-once: the ORIGINAL upsert batch arrives again, after the
    # delete, through a fresh instance (restart)
    t = SnapshotTable(path)
    t.commit_merge_on_read(upsert, "user_id", keep_greatest=["sec"])

    live = {
        r.user_id for r in t.read(spark).where(F.col("op") != "D").collect()
    }
    assert live == {2}, "replayed older upsert resurrected a deleted key"
    # the tombstone itself is still present in state (not filtered at ingest)
    assert {r.user_id: r.op for r in t.read(spark).collect()} == {1: "D", 2: "U"}


def test_snapshot_table_time_travel_and_atomicity(spark, tmp_path):
    """SnapshotTable commit protocol: every version stays exactly readable
    after later commits; a staged-but-unrenamed manifest or orphan data
    files (crash simulation) do NOT change any committed version."""
    import json
    import os

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    df1 = spark.range(0, 100).withColumnRenamed("id", "k")
    df2 = spark.range(100, 150).withColumnRenamed("id", "k")
    assert t.commit_append(df1, n_files=2) == 1
    assert t.commit_append(df2, n_files=1) == 2

    assert t.read(spark, 1).count() == 100
    assert t.read(spark, 2).count() == 150
    assert t.read(spark).count() == 150  # latest by default
    assert len(t.files(1)) == 2 and len(t.files(2)) == 3

    # crash simulation 1: orphan data files with no manifest — invisible
    df_orphan = spark.range(900, 950).withColumnRenamed("id", "k")
    t._write_data_files(df_orphan, 1)
    assert t.versions() == [1, 2]
    assert t.read(spark).count() == 150

    # crash simulation 2: a staged manifest that never got renamed
    stale = os.path.join(t.manifest_dir, "v3.json.tmp")
    with open(stale, "w") as f:
        json.dump({"version": 3, "files": []}, f)
    assert t.versions() == [1, 2]

    # the failed commit retries cleanly as the NEXT version
    assert t.commit_append(df_orphan, n_files=1) == 3
    assert t.read(spark, 3).count() == 200


def test_snapshot_table_compaction_preserves_readers(spark, tmp_path):
    """commit_rewrite publishes the same rows under a new manifest without
    touching the parent version's files — an in-flight reader of v1 keeps
    a valid file list (the compact_small_files rename-swap hazard is
    structurally impossible here)."""
    import os

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    t.commit_append(df, n_files=8)
    v1_files = t.files(1)
    v1_sum = t.read(spark, 1).agg({"k": "sum"}).collect()[0][0]

    t.commit_rewrite(t.read(spark, 1), n_files=1)
    assert len(t.files(2)) == 1
    # parent's files all still on disk and still the same list
    assert t.files(1) == v1_files
    assert all(os.path.exists(p) for p in v1_files)
    # both versions agree on content
    assert t.read(spark, 1).agg({"k": "sum"}).collect()[0][0] == v1_sum
    assert t.read(spark, 2).agg({"k": "sum"}).collect()[0][0] == v1_sum

    # empty table read fails loudly, not with a silent empty frame
    t2 = SnapshotTable(str(tmp_path / "empty"))
    try:
        t2.read(spark)
        raise AssertionError("expected ValueError on commit-less table")
    except ValueError:
        pass


def test_snapshot_table_vacuum_retention(spark, tmp_path):
    """vacuum(keep_last=N) drops expired manifests first, then every data
    file unreferenced by a survivor — files SHARED through append lineage
    must survive while compacted-away files go; surviving versions stay
    byte-identical readable."""
    import os

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    a = spark.range(0, 100).withColumnRenamed("id", "k")
    b = spark.range(100, 150).withColumnRenamed("id", "k")
    t.commit_append(a, n_files=2)          # v1: 2 files
    t.commit_append(b, n_files=1)          # v2: v1's 2 + 1 (shared lineage)
    t.commit_rewrite(t.read(spark, 2), 1)  # v3: 1 fresh file
    t.commit_append(spark.range(150, 160).withColumnRenamed("id", "k"), 1)  # v4

    # keep v3+v4: v1/v2's three files are referenced by NO survivor -> gone
    res = t.vacuum(keep_last=2)
    assert res["expired_versions"] == [1, 2]
    assert res["removed_files"] == 3
    assert t.versions() == [3, 4]
    assert t.read(spark, 3).count() == 150
    assert t.read(spark, 4).count() == 160
    assert all(os.path.exists(p) for p in t.files(3) + t.files(4))

    # shared-lineage protection: v4 references v3's file, so keep_last=1
    # removes only v3's manifest, not the file v4 still lists
    v3_files = set(t.files(3))
    res2 = t.vacuum(keep_last=1)
    assert res2["expired_versions"] == [3]
    assert v3_files <= set(t.files(4))
    assert all(os.path.exists(p) for p in t.files(4))
    assert t.read(spark, 4).count() == 160

    try:
        t.vacuum(keep_last=0)
        raise AssertionError("expected ValueError for keep_last=0")
    except ValueError:
        pass


def test_snapshot_zone_map_pruning(spark, tmp_path):
    """Manifest zone maps: disjoint files are skipped, boundary-touching
    files are kept, files WITHOUT stats are never pruned (correctness over
    pruning), and an all-pruned read returns an empty frame with the full
    schema."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: (
        spark.range(lo, hi)
        .withColumnRenamed("id", "k")
        .selectExpr("k", "lpad(cast(k as string), 6, '0') AS s")
    )
    t.commit_append(mk(0, 100), n_files=1, stats_cols=["s"])
    t.commit_append(mk(100, 200), n_files=1, stats_cols=["s"])
    t.commit_append(mk(200, 300), n_files=1)  # NO stats: unprunable

    total = t.files()
    assert len(total) == 3

    # range inside file 2 only -> file 2 + the stat-less file survive
    surv = t.pruned_files("s", "000150", "000160")
    assert len(surv) == 2
    rows = (
        t.read_pruned(spark, "s", "000150", "000160")
        .where("s between '000150' and '000160'")
        .count()
    )
    assert rows == 11

    # boundary touch: hi == file 1's min ('000000'..'000099') keeps it
    assert len(t.pruned_files("s", "000099", "000100")) == 3  # f1 max==lo, f2 min==hi, f3 statless

    # all-pruned range (above every zone map): only the stat-less file
    surv3 = t.pruned_files("s", "000900", "000999")
    assert len(surv3) == 1
    # read_pruned with zero survivors still yields the schema, zero rows
    t2 = SnapshotTable(str(tmp_path / "snap2"))
    t2.commit_append(mk(0, 10), n_files=1, stats_cols=["s"])
    empty = t2.read_pruned(spark, "s", "zzz", "zzzz")
    assert empty.columns == ["k", "s"] and empty.count() == 0

    # append preserves the parent's stats entries (pruning still works on
    # files committed two versions ago)
    assert len(t.pruned_files("s", "000000", "000010", version=3)) == 2


def test_snapshot_commit_merge_copy_on_write(spark, tmp_path):
    """commit_merge rewrites ONLY files containing matched keys: untouched
    files carry over path-identical (stats intact), a partially-matched
    file is rewritten without its matched rows, a fully-matched file
    disappears, and updates (matched + new keys) land as fresh files."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: (
        spark.range(lo, hi)
        .selectExpr("id AS k", "cast(id * 10 as double) AS v",
                    "lpad(cast(id as string), 6, '0') AS s")
    )
    t.commit_append(mk(0, 100), n_files=1, stats_cols=["s"])     # file A
    t.commit_append(mk(100, 200), n_files=1, stats_cols=["s"])   # file B
    t.commit_append(mk(200, 300), n_files=1, stats_cols=["s"])   # file C
    before = t.files(3)

    # updates: half of B (partial rewrite), ALL of C (file disappears),
    # plus brand-new keys 300-309
    upd = (
        spark.range(100, 150).union(spark.range(200, 300)).union(spark.range(300, 310))
        .selectExpr("id AS k", "cast(-1.0 as double) AS v",
                    "lpad(cast(id as string), 6, '0') AS s")
    )
    v4 = t.commit_merge(upd, key="k", n_new_files=1, stats_cols=["s"])
    after = t.files(v4)

    # CoW minimality: A carried path-identical; B rewritten; C gone
    assert before[0] in after
    assert before[1] not in after and before[2] not in after
    assert len(after) == 3  # A + rewritten-B + new

    rows = {r.k: r.v for r in t.read(spark, v4).collect()}
    assert len(rows) == 310
    assert rows[0] == 0.0 and rows[99] == 990.0          # A untouched
    assert rows[150] == 1500.0 and rows[100] == -1.0     # B: half kept, half upserted
    assert rows[250] == -1.0 and rows[305] == -1.0       # C + inserts replaced
    # pre-merge version still reads the old state (time travel intact)
    old = {r.k: r.v for r in t.read(spark, 3).collect()}
    assert len(old) == 300 and old[100] == 1000.0

    # stats survive on carried entries and exist on rewritten/new ones ->
    # pruning still works across the merge
    assert len(t.pruned_files("s", "000000", "000050", version=v4)) == 1

    # merge into an empty table degrades to a plain append
    t2 = SnapshotTable(str(tmp_path / "snap2"))
    assert t2.commit_merge(mk(0, 5), key="k") == 1
    assert t2.read(spark).count() == 5


def test_snapshot_batch_id_idempotent_commits(spark, tmp_path):
    """commit_append(batch_id=) is the exactly-once streaming sink guard:
    a replayed id commits NOTHING (even with different data), ids dedupe
    across later versions, and id-less commits are never deduped."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    a = spark.range(0, 10).withColumnRenamed("id", "k")
    b = spark.range(10, 30).withColumnRenamed("id", "k")

    assert t.commit_append(a, batch_id=0) == 1
    # replay with DIFFERENT data: skipped, version unchanged, data intact
    assert t.commit_append(b, batch_id=0) == 1
    assert t.versions() == [1]
    assert t.read(spark).count() == 10

    assert t.commit_append(b, batch_id=1) == 2
    # stale replay after newer commits: still skipped
    assert t.commit_append(a, batch_id=0) == 2
    assert t.read(spark).count() == 30

    # id-less commits never dedupe
    assert t.commit_append(a) == 3
    assert t.commit_append(a) == 4
    assert t.read(spark).count() == 50
    assert t.committed_batch_ids() == {0, 1}


def test_snapshot_restore_is_forward_commit(spark, tmp_path):
    """restore(v) publishes a NEW version pointing at v's files: no data
    moves, the bad version stays readable for post-mortems, and restoring
    a vacuumed-away version fails loudly instead of publishing a manifest
    over missing files."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    good = spark.range(0, 100).withColumnRenamed("id", "k")
    bad = spark.range(0, 3).withColumnRenamed("id", "k")
    t.commit_rewrite(good, n_files=2)
    t.commit_rewrite(bad, n_files=1)
    v3 = t.restore(1)

    assert v3 == 3 and t.versions() == [1, 2, 3]
    assert t.files(3) == t.files(1)          # manifest-only, zero data moved
    assert t.read(spark).count() == 100      # head is the good build again
    assert t.read(spark, 2).count() == 3     # history never rewritten

    # vacuum away v1/v2 (v3 still references v1's files -> they survive),
    # then restoring the vacuumed v2 must fail loudly
    t.vacuum(keep_last=1)
    assert t.read(spark).count() == 100
    try:
        t.restore(2)
        raise AssertionError("expected restore of vacuumed version to fail")
    except (ValueError, FileNotFoundError):
        pass


def test_snapshot_schema_evolution_merge_read(spark, tmp_path):
    """Additive evolution: a later commit carries an extra column; a
    merge-schema read surfaces NULLs for pre-evolution rows, the default
    read still works, and old files are never rewritten."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    t.commit_append(spark.createDataFrame([(1, 10.0)], "k bigint, v double"))
    f_before = t.files(1)
    t.commit_append(
        spark.createDataFrame([(2, 20.0, "x")], "k bigint, v double, tag string")
    )

    df = t.read(spark, merge_schema=True)
    assert set(df.columns) == {"k", "v", "tag"}
    rows = {r.k: r.tag for r in df.collect()}
    assert rows == {1: None, 2: "x"}
    # evolution rewrote nothing
    assert f_before[0] in t.files(2)
    # a pinned pre-evolution read keeps the narrow schema
    assert t.read(spark, version=1).columns == ["k", "v"]


def test_snapshot_clustering_rewrite_improves_pruning(spark, tmp_path):
    """The OPTIMIZE story end-to-end: a hash-scattered layout defeats zone
    maps (every file spans the key domain -> nothing prunes); a clustered
    commit_rewrite of the SAME rows makes the same point lookup touch ONE
    file.  Data identical before/after — only the layout changed."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    base = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.lpad(F.col("id").cast("string"), 6, "0").alias("s"),
    )
    # scattered: 4 files by k % 4 — each spans the whole key domain
    scattered = base.repartition(4, F.col("k") % 4)
    t.commit_rewrite(scattered, n_files=4, stats_cols=["s"])
    # NB: repartition(4, expr) then repartition(n_files) inside
    # _write_data_files would reshuffle; assert the zone maps really
    # overlap instead of assuming
    assert len(t.pruned_files("s", "000100", "000100")) >= 1

    # clustered: quartile files via ntile over the key order (deterministic)
    from pyspark.sql import Window

    clustered = base.withColumn(
        "q", F.ntile(4).over(Window.orderBy("k"))
    )
    t2 = SnapshotTable(str(tmp_path / "snap2"))
    for qi in range(1, 5):
        t2.commit_append(
            clustered.where(F.col("q") == qi).drop("q"),
            n_files=1,
            stats_cols=["s"],
        )
    assert len(t2.files()) == 4
    # the same point lookup now touches exactly one file
    assert len(t2.pruned_files("s", "000100", "000100")) == 1
    # and both layouts agree on the data
    a = t.read(spark).agg({"k": "sum"}).collect()[0][0]
    b = t2.read(spark).agg({"k": "sum"}).collect()[0][0]
    assert a == b == 499500


def test_snapshot_commit_conflict_detection(spark, tmp_path):
    """Optimistic concurrency: a commit prepared against version N must
    fail with CommitConflictError if another writer advanced the head in
    the meantime — appending 'parent files + mine' over the moved head
    would silently drop the interleaved commit (lost update)."""
    import json
    import os

    from bigdata_homed_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "snap"))
    df = spark.range(0, 10).withColumnRenamed("id", "k")
    t.commit_append(df)

    # simulate the interleaved writer: stage data + publish v2 manually
    # between this commit's parent capture and its publish
    entries = t._write_data_files(spark.range(10, 20).withColumnRenamed("id", "k"), 1)
    prev = list(t._manifest(1)["files"])
    other = prev + t._write_data_files(
        spark.range(20, 30).withColumnRenamed("id", "k"), 1
    )
    t._publish(other)  # head moves to v2
    try:
        t._publish(prev + entries, expected_parent=1)
        raise AssertionError("expected CommitConflictError")
    except CommitConflictError:
        pass
    # the losing writer retries against the new head and succeeds
    fresh = list(t._manifest(t.versions()[-1])["files"])
    v3 = t._publish(fresh + entries, expected_parent=2)
    assert v3 == 3
    assert t.read(spark).count() == 30

    # sanity: a stale manifest json never harmed prior versions
    with open(os.path.join(t.manifest_dir, "v1.json")) as f:
        assert json.load(f)["version"] == 1


def test_snapshot_commit_point_is_put_if_absent(spark, tmp_path):
    """A writer that listed a stale head prepares a version another writer
    has already published.  The commit point must refuse it with
    CommitConflictError; overwriting that ``v<N>.json`` would lose the
    other writer's commit without an error."""
    import os

    from bigdata_homed_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    path = str(tmp_path / "snap")
    t = SnapshotTable(path)
    t.commit_append(spark.range(0, 10).withColumnRenamed("id", "k"))
    stale = SnapshotTable(path)
    stale.versions = lambda: [1]  # listed the head before v2 landed
    assert t.commit_append(spark.range(10, 20).withColumnRenamed("id", "k")) == 2
    v2 = os.path.join(t.manifest_dir, "v2.json")
    with open(v2) as f:
        published = f.read()

    with pytest.raises(CommitConflictError):
        stale.commit_append(spark.range(100, 105).withColumnRenamed("id", "k"))
    with open(v2) as f:
        assert f.read() == published
    assert sorted(os.listdir(t.manifest_dir)) == ["v1.json", "v2.json"]
    rows = SnapshotTable(path).read(spark).collect()
    assert sorted(r.k for r in rows) == list(range(20))


def test_snapshot_incremental_read_append_only_contract(spark, tmp_path):
    """incremental_files returns exactly the files added after the
    checkpoint version; a rewrite inside the range breaks the append-only
    precondition and must fail loudly (file subtraction is not row-level
    change data across rewrites)."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")
    t.commit_append(mk(0, 100), n_files=2)
    t.commit_append(mk(100, 150), n_files=1)
    t.commit_append(mk(150, 160), n_files=1)

    inc = t.read_incremental(spark, 1)
    assert inc.count() == 60
    assert {r.k for r in inc.collect()} == set(range(100, 160))
    assert len(t.incremental_files(1, 2)) == 1
    # same-version increment: empty frame, schema intact
    same = t.read_incremental(spark, 3, 3)
    assert same.columns == ["k"] and same.count() == 0

    # a compaction rewrite breaks append-only lineage -> loud failure
    t.commit_rewrite(t.read(spark, 3), n_files=1)
    try:
        t.incremental_files(1, 4)
        raise AssertionError("expected ValueError across a rewrite")
    except ValueError:
        pass
    # but increments measured FROM the rewrite work again
    t.commit_append(mk(160, 170), n_files=1)
    assert t.read_incremental(spark, 4).count() == 10


def test_snapshot_relative_path_normalized(spark, tmp_path, monkeypatch):
    """A SnapshotTable built with a RELATIVE path must behave identically
    to an absolute one: manifest entries are matched against
    input_file_name() (always absolute) inside commit_merge and
    _attach_stats, so an un-normalized relative path would silently (a)
    drop zone-map stats at commit and (b) never remove matched rows on
    merge — duplicate keys with no error."""
    import os

    import pytest

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    monkeypatch.chdir(tmp_path)
    t = SnapshotTable("rel_snap")  # relative on purpose
    assert os.path.isabs(t.path)

    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    t.commit_append(df, n_files=2, stats_cols=["k"])
    # (a) stats attached => the absolute-path match found every file
    assert all("stats" in e for e in t._manifest(1)["files"])

    upd = spark.createDataFrame([(2, "B"), (4, "d")], "k int, v string")
    t.commit_merge(upd, "k")
    rows = sorted((r.k, r.v) for r in t.read(spark).collect())
    # (b) exactly one row per key — the matched row was really removed
    assert rows == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]

    # empty-table reads fail descriptively, not with IndexError
    t2 = SnapshotTable(str(tmp_path / "never_committed"))
    with pytest.raises(ValueError, match="no commits"):
        t2.pruned_files("k", "0", "9")
    with pytest.raises(ValueError, match="no commits"):
        t2.incremental_files(1)


def test_snapshot_vacuum_preserves_batch_id_dedup(spark, tmp_path):
    """Exactly-once must survive retention: vacuum() folds expired
    manifests' batch_ids into the _txn.json sidecar, so a DELAYED replay
    of a batch older than the retention window is still skipped (Delta
    keeps txn appId/version info under a separate retention for exactly
    this).  Without the sidecar, vacuum would silently re-admit the
    replayed batch and duplicate its rows."""
    import pytest

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")
    for b in range(4):
        t.commit_append(mk(b * 10, (b + 1) * 10), batch_id=b)
    t.vacuum(keep_last=1)  # expires v1-v3 (batches 0-2)
    assert t.committed_batch_ids() == {0, 1, 2, 3}

    head = t.versions()[-1]
    v = t.commit_append(mk(0, 10), batch_id=0)  # delayed replay of batch 0
    assert v == head  # skipped: nothing committed
    assert t.read(spark).count() == 40

    # sidecar survives and merges across further commits + vacuums
    t.commit_append(mk(40, 50), batch_id=4)
    t.vacuum(keep_last=1)
    assert t.committed_batch_ids() == {0, 1, 2, 3, 4}

    # vacuumed time-travel reads fail descriptively ("expired"), not
    # with FileNotFoundError
    with pytest.raises(ValueError, match="expired"):
        t.read(spark, version=1)


def test_snapshot_rewrite_occ_guard(spark, tmp_path, monkeypatch):
    """commit_rewrite must carry the same lost-update guard as
    append/merge: a compaction derived from version N publishing over a
    head that moved to N+1 would silently drop the interleaved commit.
    Simulated by landing a second writer's append while the rewrite is
    staging its files."""
    import pytest

    from bigdata_homed_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")
    t.commit_append(mk(0, 10))
    compacted = t.read(spark)  # derived from v1

    other = SnapshotTable(t.path)
    orig = t._write_data_files

    def interleaved(df, *args, **kwargs):
        entries = orig(df, *args, **kwargs)
        other.commit_append(mk(10, 20))  # second writer lands mid-staging
        return entries

    monkeypatch.setattr(t, "_write_data_files", interleaved)
    with pytest.raises(CommitConflictError):
        t.commit_rewrite(compacted)
    # the interleaved commit survived (nothing was lost)
    assert t.read(spark).count() == 20

    # retry against the new head succeeds (restore shares the guard path)
    monkeypatch.setattr(t, "_write_data_files", orig)
    t.commit_rewrite(t.read(spark), n_files=1)
    assert t.read(spark).count() == 20
    v = t.restore(t.versions()[-1] - 1)
    assert v == t.versions()[-1] and t.read(spark).count() == 20


def test_snapshot_partitioned_commit_and_pruning(spark, tmp_path):
    """Hive-partitioned snapshot commits: partition values are recorded
    per manifest entry (from the col=value path segments), partition
    pruning drops non-matching entries without opening any file, the
    partitioned read re-derives the partition column via basePath, and
    zone maps (footer-derived) still compose on top for a second tier of
    skipping."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    df = spark.range(0, 300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("bucket"),
        (F.col("id") * 2).alias("v"),
    )
    t.commit_append(df, stats_cols=["k"], partition_by=["bucket"])

    entries = t._manifest(1)["files"]
    assert len(entries) == 3  # one file per partition value
    assert {e["partitions"]["bucket"] for e in entries} == {"0", "1", "2"}
    # footer zone maps attach to the data column, not the path column
    assert all("k" in e.get("stats", {}) for e in entries)
    assert all("bucket" not in e.get("stats", {}) for e in entries)

    # partition pruning: no file IO needed to drop 2 of 3 entries
    pruned = t.pruned_entries(partitions={"bucket": 1})
    assert len(pruned) == 1 and pruned[0]["partitions"]["bucket"] == "1"
    got = t.read_pruned(spark, partitions={"bucket": 1})
    assert got.count() == 100
    assert {r.bucket for r in got.select("bucket").distinct().collect()} == {1}

    # two-tier: partition + zone map (k < 100 only in part of bucket 1)
    both = t.pruned_entries(col="k", lo=0, hi=98, partitions={"bucket": [1, 2]})
    assert len(both) == 2  # buckets 1,2 survive partitions; zone maps keep both
    # full read round-trips with the partition column restored
    full = t.read(spark)
    assert full.count() == 300 and "bucket" in full.columns
    assert full.where("k = 7").collect()[0].bucket == 1

    # vacuum handles the partition subdirs (no os.remove-on-dir crash)
    t.commit_rewrite(full.where("bucket < 2"), partition_by=["bucket"])
    res = t.vacuum(keep_last=1)
    assert res["removed_files"] == 3  # v1's three files orphaned
    assert t.read(spark).count() == 200


def test_snapshot_footer_stats_numeric_compare(spark, tmp_path):
    """Footer-derived zone maps keep native numeric types, so pruning on
    an int column compares numerically (9 < 10 prunes correctly where the
    old string stats would have needed zero-padding)."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: spark.range(lo, hi).withColumnRenamed("id", "k")
    t.commit_append(mk(0, 10), stats_cols=["k"])     # min 0, max 9
    t.commit_append(mk(10, 1000), stats_cols=["k"])  # min 10, max 999
    st = t._manifest(2)["files"][0]["stats"]["k"]
    assert isinstance(st["min"], int)
    # lexicographic would keep file 1 ("9" > "100"); numeric prunes it
    assert len(t.pruned_files(col="k", lo=100, hi=200)) == 1
    assert t.read_pruned(spark, col="k", lo=100, hi=200).count() == 990


def test_snapshot_dual_sink_partial_crash_convergence(spark, tmp_path):
    """The multi-table exactly-once failure mode: a crash lands BETWEEN
    the fact-table commit and the aggregate-table commit of the same
    batch.  On restart, foreachBatch replays the batch; the fact table's
    batch_id record makes its commit a no-op while the aggregate table
    catches up — both converge to exactly-once with no double-commit and
    no cross-table coordination."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    fact = SnapshotTable(str(tmp_path / "fact"))
    agg = SnapshotTable(str(tmp_path / "agg"))

    def commit_both(df, batch_id, crash_between=False):
        fact.commit_append(df, batch_id=batch_id)
        if crash_between:
            return  # simulated crash: agg never sees the batch
        agg.commit_append(
            df.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
            batch_id=batch_id,
        )

    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 2).cast("string").alias("t")
    )
    commit_both(mk(0, 10), 0)
    commit_both(mk(10, 30), 1, crash_between=True)  # crash mid-batch
    assert len(fact.versions()) == 2 and len(agg.versions()) == 1

    commit_both(mk(10, 30), 1)  # restart replays batch 1 to BOTH
    # fact skipped (no 3rd version, no duplicate rows); agg caught up
    assert len(fact.versions()) == 2 and len(agg.versions()) == 2
    assert fact.read(spark).count() == 30
    total_agg = agg.read(spark).agg(F.sum("n")).collect()[0][0]
    assert total_agg == 30

    # a second full replay is a no-op everywhere
    commit_both(mk(10, 30), 1)
    assert len(fact.versions()) == 2 and len(agg.versions()) == 2


def test_snapshot_deletion_vector_delete(spark, tmp_path):
    """Merge-on-read DELETE: the matching rows disappear from reads, but
    every data file survives untouched in the manifest (write cost is the
    DV, not a rewrite); a no-match delete is a version-free no-op; time
    travel to the pre-delete version still sees every row."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "dv"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit_append(df.where("k < 50"), n_files=2)
    t.commit_append(df.where("k >= 50"), n_files=2)

    v3 = t.commit_delete(spark, "k % 10 = 0")
    assert v3 == 3
    assert t.read(spark).count() == 90
    assert t.read(spark).where("k % 10 = 0").count() == 0
    assert t.files(3) == t.files(2)  # zero rewrite amplification
    assert t.read(spark, 2).count() == 100  # time travel unaffected
    # no-op delete: no new version, nothing written
    assert t.commit_delete(spark, "k = 424242") == 3
    # a second delete stacks its DV on the first
    v4 = t.commit_delete(spark, "k = 1")
    assert v4 == 4 and t.read(spark).count() == 89


def test_snapshot_merge_on_read_vs_copy_on_write(spark, tmp_path):
    """commit_merge_on_read carries EVERY parent data file (DV kills the
    matched rows) and produces the same table state a copy-on-write merge
    would; commit_rewrite afterwards folds the DVs into a clean manifest;
    incremental_files refuses to treat the DV commit as append-only; CoW
    commit_merge folds existing DVs into its survivor rewrite."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "mor"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t.commit_append(df, n_files=4)
    upd = spark.createDataFrame(
        [(1, -1), (2, -1), (3, -1), (1000, 7)], "k long, v long"
    )
    v2 = t.commit_merge_on_read(upd, "k")
    assert v2 == 2
    assert set(t.files(1)) <= set(t.files(2))  # all parent files carried
    got = {r["k"]: r["v"] for r in t.read(spark).where("k <= 3 or k = 1000").collect()}
    assert got == {0: 0, 1: -1, 2: -1, 3: -1, 1000: 7}
    assert t.read(spark).count() == 101
    with pytest.raises(ValueError, match="deletion vectors"):
        t.incremental_files(1, 2)
    # CoW merge over the DV-carrying table: dead rows are subtracted in
    # the survivor rewrite (never resurrected), new matches fold in
    upd2 = spark.createDataFrame([(4, -2), (2000, 8)], "k long, v long")
    t.commit_merge(upd2, "k")
    got2 = {
        r["k"]: r["v"]
        for r in t.read(spark).where("k in (1,2,3,4,1000,2000)").collect()
    }
    assert got2 == {1: -1, 2: -1, 3: -1, 4: -2, 1000: 7, 2000: 8}
    assert t.read(spark).count() == 102
    v3 = t.commit_rewrite(t.read(spark), n_files=2)
    m = json.load(open(os.path.join(t.manifest_dir, f"v{v3}.json")))
    assert "delete_files" not in m  # OPTIMIZE purged the DVs
    assert t.read(spark).count() == 102


def test_snapshot_merge_on_read_leaves_keys_outside_the_batch(spark, tmp_path):
    """The merge-on-read DV decides only the keys the batch holds: rows of
    other keys survive even when they duplicate each other, with or
    without the keep_greatest rule (a NULL batch key matches nothing)."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    schema = "k long, sec long, v string"
    t = SnapshotTable(str(tmp_path / "untouched"))
    t.commit_append(
        spark.createDataFrame([(5, 1, "a"), (5, 2, "b"), (6, 1, "c")], schema),
        stats_cols=["k"],
    )
    t.commit_merge_on_read(
        spark.createDataFrame([(None, 9, "n"), (6, 3, "d")], schema), "k"
    )
    t.commit_merge_on_read(
        spark.createDataFrame([(None, 9, "m"), (7, 1, "e")], schema),
        "k",
        keep_greatest=["sec"],
    )
    assert sorted(r.v for r in t.read(spark).collect()) == [
        "a", "b", "d", "e", "m", "n"
    ]


def test_snapshot_cow_merge_skips_file_whose_match_is_dv_dead(spark, tmp_path):
    """Copy-on-write hit detection reads LIVE rows: a key whose only old
    row a deletion vector already killed does not mark its file as hit, so
    a merge re-inserting that key carries both files untouched (no
    needless rewrite) and the rows still equal a dict model."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "cow_dv"))
    for lo, hi in ((1, 6), (6, 11)):
        t.commit_append(
            spark.range(lo, hi).select(
                F.col("id").alias("k"), (F.col("id") * 10).alias("v")
            ),
            stats_cols=["k"],
        )
    originals = t.files()
    assert len(originals) == 2
    t.commit_delete(spark, "k = 3")
    t.commit_merge(spark.createDataFrame([(3, -3)], "k long, v long"), "k")
    assert set(originals) <= set(t.files())
    model = {k: k * 10 for k in range(1, 11)}
    model[3] = -3
    assert {r.k: r.v for r in t.read(spark).collect()} == model


def test_snapshot_dv_restore_append_and_vacuum(spark, tmp_path):
    """DVs ride through the rest of the lifecycle: an append on a DV'd
    table carries the vectors (old rows stay dead, new rows appear);
    restore() to a DV'd version re-pins its vectors; vacuum keeps DV files
    any surviving manifest references and sweeps the rest."""
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "dvlife"))
    df = spark.range(50).select(F.col("id").alias("k"))
    t.commit_append(df, n_files=2)                        # v1: 50
    t.commit_delete(spark, "k < 10")                      # v2: 40
    t.commit_append(
        spark.range(100, 110).select(F.col("id").alias("k"))
    )                                                     # v3: 50
    assert t.read(spark).count() == 50
    assert t.read(spark).where("k < 10").count() == 0     # append kept DVs

    t.commit_rewrite(t.read(spark), n_files=1)            # v4: clean
    v5 = t.restore(2)                                     # re-pin v2 + its DVs
    assert t.read(spark, v5).count() == 40

    res = t.vacuum(keep_last=1)                           # only v5 survives
    assert t.read(spark).count() == 40
    # v5 references v2's DV, so _deletes is non-empty after the sweep
    assert any(os.scandir(t.delete_dir))
    assert res["removed_files"] > 0                       # v4's clean file went


def test_snapshot_dv_fraction_and_auto_compact(spark, tmp_path):
    """dv_fraction counts dead rows from parquet FOOTERS only; the
    maybe_compact housekeeping verb no-ops below threshold and folds the
    DVs into a clean rewrite at/above it — the bounded-read-cost loop the
    DV design depends on."""
    import json
    import os

    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "frac"))
    t.commit_append(spark.range(100).select(F.col("id").alias("k")), n_files=2)
    assert t.dv_fraction() == 0.0
    assert t.maybe_compact(spark, threshold=0.05) is None  # clean: no-op

    t.commit_delete(spark, "k < 5")  # 5% dead
    assert abs(t.dv_fraction() - 0.05) < 1e-9
    assert t.maybe_compact(spark, threshold=0.10) is None  # below: no-op
    assert t.versions()[-1] == 2

    t.commit_delete(spark, "k >= 90")  # 15% dead total
    v = t.maybe_compact(spark, threshold=0.10)
    assert v == 4
    m = json.load(open(os.path.join(t.manifest_dir, f"v{v}.json")))
    assert "delete_files" not in m
    assert t.dv_fraction() == 0.0
    assert t.read(spark).count() == 85

    with pytest.raises(ValueError):
        t.maybe_compact(spark, threshold=0.0)


def test_snapshot_merge_on_read_batch_id_idempotent(spark, tmp_path):
    """A replayed batch_id skips the WHOLE merge-on-read commit — no new
    version, no DV, no data file — including the first-commit append path."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "moridem"))
    df = spark.range(10).select(
        F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
    )
    assert t.commit_merge_on_read(df, "k", batch_id=0) == 1  # append path
    upd = spark.createDataFrame([(1, 99), (100, 99)], "k long, v long")
    assert t.commit_merge_on_read(upd, "k", batch_id=1) == 2
    files_before = t.files()
    # replays of both ids: version and file set unchanged, state unchanged
    assert t.commit_merge_on_read(upd, "k", batch_id=1) == 2
    assert t.commit_merge_on_read(df, "k", batch_id=0) == 2
    assert t.files() == files_before
    assert t.read(spark).count() == 11
    assert t.read(spark).where("k = 1 and v = 99").count() == 1


def test_snapshot_write_audit_publish(spark, tmp_path):
    """WAP protocol: a staged commit is invisible to readers (head
    unchanged, read() unaffected); read_staged shows the would-be state;
    abort removes files and leaves NO version; publish is atomic and
    OCC-guarded against a head that moved after staging; vacuum never
    sweeps staged-but-unaudited files."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "wap"))
    t.commit_append(spark.range(100).select(F.col("id").alias("k")))
    sid = t.stage_commit(
        spark.range(100, 150).select(F.col("id").alias("k"))
    )
    # invisible until published
    assert t.versions() == [1]
    assert t.read(spark).count() == 100
    assert t.read_staged(spark, sid).count() == 150
    # vacuum does not eat staged files (they are referenced by no version
    # manifest — only the staged manifest protects them)
    t.commit_append(spark.range(150, 160).select(F.col("id").alias("k")))
    t.vacuum(keep_last=2)
    assert t.read_staged(spark, sid).count() == 150
    # the head moved after staging -> OCC refuses the publish
    with pytest.raises(CommitConflictError):
        t.publish_staged(sid)
    removed = t.abort_staged(sid)
    assert removed > 0 and t.staged_ids() == []
    with pytest.raises(ValueError, match="no staged commit"):
        t.read_staged(spark, sid)

    # happy path: stage -> audit -> publish
    sid2 = t.stage_commit(spark.range(200, 210).select(F.col("id").alias("k")))
    assert t.read_staged(spark, sid2).count() == 120
    v = t.publish_staged(sid2)
    assert t.read(spark, v).count() == 120
    assert t.staged_ids() == []

    # rewrite-mode staging replaces instead of appending
    sid3 = t.stage_commit(
        spark.range(5).select(F.col("id").alias("k")), mode="rewrite"
    )
    assert t.read_staged(spark, sid3).count() == 5
    assert t.read(spark).count() == 120  # still invisible
    t.publish_staged(sid3)
    assert t.read(spark).count() == 5


def test_snapshot_diff_across_dv_commit(spark, tmp_path):
    """A key-level diff between a pre-DV and post-DV version sees the
    deletion-vector kills as removed keys — DV commits are row-level
    change data, invisible to file arithmetic but fully visible to
    DV-applied reads."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "dvdiff"))
    t.commit_append(
        spark.range(20).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    )
    t.commit_delete(spark, "k < 3")
    old = t.read(spark, 1).select("k")
    new = t.read(spark, 2).select("k")
    removed = sorted(r["k"] for r in old.join(new, "k", "left_anti").collect())
    assert removed == [0, 1, 2]


def test_snapshot_dv_model_based(spark, tmp_path):
    """Model check for the snapshot verbs: arbitrary interleavings of
    append / DV-delete / MoR-merge / OPTIMIZE / EVOLVE-APPEND (partition
    evolution) / RENAME (column mapping, toggling the key column's logical
    name) / CHECK-constraint add+drop (with batches the constraint must
    refuse) / generated-column declaration probes / shallow CLONE /
    RESTORE (to a sampled surviving version — data, mapping, constraints,
    and layout state roll back as one new commit) / VACUUM must leave
    read() equal to a plain-dict model — and the files_table/
    partitions_table metadata tables must account for exactly the live
    rows (footer rows minus DV dead rows) at the converged state — plus
    version-pinned time travel (delta-chain reconstruction across
    checkpoints) and clone isolation (a mid-sequence clone still reads
    its at-clone state after the source keeps mutating).  The zero-
    rewrite invariant (append/delete/merge never drop a manifest data
    file) is checked at every step.  This harness found the r8
    partition-evolution type-narrowing crash; the op mix was widened in
    r9 because all three r8-judged bugs lived in verb COMPOSITIONS, not
    single verbs.  Depth is env-tunable: SNAPSHOT_FUZZ_EXAMPLES=200 for a
    deep soak (default 10 keeps CI fast)."""
    import os

    import pytest
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import (
        ConstraintViolationError,
        SnapshotTable,
    )

    kv = st.tuples(st.integers(0, 15), st.integers(0, 9))
    op = st.one_of(
        st.tuples(st.just("append"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("delete"), st.integers(0, 9)),
        st.tuples(st.just("merge"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("optimize"), st.just(None)),
        st.tuples(st.just("evolve_append"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("rename_toggle"), st.just(None)),
        st.tuples(st.just("constraint_toggle"), st.just(None)),
        st.tuples(st.just("bad_append"), st.just(None)),
        st.tuples(st.just("gencol_probe"), st.just(None)),
        st.tuples(st.just("clone"), st.just(None)),
        st.tuples(st.just("vacuum"), st.just(None)),
        st.tuples(st.just("wap"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("restore"), st.integers(0, 9)),
        st.tuples(st.just("tag"), st.just(None)),
    )

    case_n = [0]

    @settings(
        max_examples=int(os.environ.get("SNAPSHOT_FUZZ_EXAMPLES", "10")),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=6))
    def run(ops):
        case_n[0] += 1
        t = SnapshotTable(os.path.join(str(tmp_path), f"dvm_{case_n[0]}"))
        model: dict[int, int] = {}
        appended = 0   # keys are made unique per append via an offset
        kname = "k"    # current LOGICAL name of the key column
        cons_active = False
        travel: list[tuple[int, dict, str]] = []   # (version, model, kname)
        clones: list[tuple[SnapshotTable, dict, str]] = []

        def snap():
            if t.versions():
                travel.append((t.versions()[-1], dict(model), kname))

        for kind, arg in ops:
            if kind == "append":
                # appends are NOT upserts: give each append its own key
                # space (disjoint from the 0..15 merge/delete keys and
                # from every other append), deduped within the batch
                appended += 1
                rows = list({k + appended * 100: v for k, v in arg}.items())
                # evolve=True: a flat append is legal onto ANY layout when
                # evolution is declared (the guard's own semantics are
                # pinned by test_snapshot_partition_evolution)
                t.commit_append(
                    spark.createDataFrame(rows, f"{kname} long, v long"),
                    n_files=1,
                    evolve=True,
                )
                model.update(dict(rows))
                snap()
            elif kind == "evolve_append":
                # partition evolution: land this append Hive-partitioned by
                # v regardless of the table's current layout; readers must
                # union the layout generations transparently
                appended += 1
                rows = list({k + appended * 100: v for k, v in arg}.items())
                t.commit_append(
                    spark.createDataFrame(rows, f"{kname} long, v long"),
                    n_files=1,
                    partition_by=["v"],
                    evolve=True,
                )
                model.update(dict(rows))
                snap()
            elif kind == "delete":
                if not t.versions():
                    continue
                files_before = set(t.files())
                t.commit_delete(spark, f"v < {arg}")
                model = {k: v for k, v in model.items() if v >= arg}
                assert set(t.files()) == files_before  # zero rewrite
                snap()
            elif kind == "merge":
                if cons_active and any(v < 0 for _, v in arg):
                    continue  # generator range is 0..9, but stay explicit
                dedup = dict(arg)  # updates must be unique on key
                files_before = set(t.files())
                t.commit_merge_on_read(
                    spark.createDataFrame(
                        list(dedup.items()), f"{kname} long, v long"
                    ),
                    key=kname,
                )
                model.update(dedup)
                assert files_before <= set(t.files())  # all parents carried
                snap()
            elif kind == "optimize":
                if t.versions():
                    t.commit_rewrite(t.read(spark), n_files=1)
                    snap()
            elif kind == "rename_toggle":
                # column mapping interleaved with everything else: the key
                # column's LOGICAL name flips; physical files never change
                if not t.versions():
                    continue
                files_before = set(t.files())
                new_name = "k2" if kname == "k" else "k"
                t.rename_column(spark, kname, new_name)
                kname = new_name
                assert set(t.files()) == files_before  # metadata-only
                snap()
            elif kind == "constraint_toggle":
                if not t.versions():
                    continue
                if cons_active:
                    t.drop_constraint("v_nonneg")
                    cons_active = False
                elif all(v >= 0 for v in model.values()):
                    t.add_constraint(spark, "v_nonneg", "v >= 0")
                    cons_active = True
                else:
                    # head holds a violating row: declaration must be
                    # refused whole (metadata unchanged)
                    vcount = len(t.versions())
                    with pytest.raises(ConstraintViolationError):
                        t.add_constraint(spark, "v_nonneg", "v >= 0")
                    assert len(t.versions()) == vcount
                snap()
            elif kind == "bad_append":
                if not t.versions():
                    continue
                appended += 1
                bad = spark.createDataFrame(
                    [(appended * 100, -1)], f"{kname} long, v long"
                )
                if cons_active:
                    vcount = len(t.versions())
                    with pytest.raises(ConstraintViolationError):
                        t.commit_append(bad, n_files=1, evolve=True)
                    assert len(t.versions()) == vcount  # refused whole
                else:
                    t.commit_append(bad, n_files=1, evolve=True)
                    model[appended * 100] = -1
                    snap()
            elif kind == "gencol_probe":
                # declaring a generated column over live rows that LACK it
                # must be refused (they could never conform); on an
                # all-dead or unborn table there is nothing to probe
                if not t.versions() or not model:
                    continue
                vcount = len(t.versions())
                with pytest.raises(ValueError, match="generated column"):
                    t.set_generated_column(spark, "g", "v + 1")
                assert len(t.versions()) == vcount
            elif kind == "wap":
                # write-audit-publish interleaved with everything else:
                # stage (validated vs the constraints at stage time),
                # publish or abort decided by the batch; aborts leave no
                # trace.  First arg's v parity picks the outcome.
                if not t.versions():
                    continue
                appended += 1
                rows = list({k + appended * 100: v for k, v in arg}.items())
                sid = t.stage_commit(
                    spark.createDataFrame(rows, f"{kname} long, v long"),
                    n_files=1,
                )
                if arg[0][1] % 2 == 0:
                    t.publish_staged(sid, spark)
                    model.update(dict(rows))
                    snap()
                else:
                    t.abort_staged(sid)
            elif kind == "restore":
                # Delta RESTORE interleaved with everything else: rolls
                # data, column mapping, constraints, and layout state back
                # to a sampled surviving version as a NEW commit (history
                # never rewritten); the model adopts that snapshot whole
                if not travel:
                    continue
                v, expect, kn = travel[arg % len(travel)]
                t.restore(v)
                model = dict(expect)
                kname = kn
                cons_active = "v_nonneg" in t.constraints()
                snap()
            elif kind == "tag":
                # Iceberg-refs tag on the current head: a retention-exempt
                # pin — the tagged version must stay time-travelable
                # through every later vacuum until released
                if not t.versions():
                    continue
                t.tag(f"tg{len(t.tags())}")
            elif kind == "clone":
                if not t.versions():
                    continue
                clones.append(
                    (
                        t.clone_to(
                            os.path.join(
                                str(tmp_path),
                                f"dvm_{case_n[0]}_clone{len(clones)}",
                            )
                        ),
                        dict(model),
                        kname,
                    )
                )
            elif kind == "vacuum":
                if len(t.versions()) < 2:
                    continue
                t.vacuum(keep_last=2)
                # expired versions are gone for time travel — but TAGGED
                # versions are retention-exempt, so filter by the actual
                # surviving set, not a boundary; clones hold their OWN
                # manifests but may reference collected files — drop
                # clones whose backing files a source vacuum removed
                alive = set(t.versions())
                travel = [s for s in travel if s[0] in alive]
                clones = [
                    c
                    for c in clones
                    if all(os.path.exists(p) for p in c[0].files())
                ]

        if model:
            got = {r[kname]: r["v"] for r in t.read(spark).collect()}
            assert got == model, (ops, got, model)
            # metadata-table invariants at the converged state: files_table
            # row/dead-row accounting must reproduce the live-row count, and
            # the partitions_table rollup must sum to the per-file table —
            # under every verb composition (DVs, evolution, restore, ...)
            fmeta = t.files_table(spark).collect()
            assert sum(r["n_rows"] for r in fmeta) - sum(
                r["n_dead_rows"] for r in fmeta
            ) == len(model), (ops, fmeta)
            assert {r["path"] for r in fmeta} == set(t.files()), ops
            pmeta = t.partitions_table(spark).collect()
            assert sum(r["n_files"] for r in pmeta) == len(fmeta), ops
            assert sum(r["n_rows"] for r in pmeta) == sum(
                r["n_rows"] for r in fmeta
            ), ops
        # version-pinned time travel: a sampled mid-sequence state must
        # reconstruct exactly (delta replay across checkpoint boundaries)
        if travel:
            v, expect, kn = travel[len(travel) // 2]
            if expect:
                got = {r[kn]: r["v"] for r in t.read(spark, version=v).collect()}
                assert got == expect, (ops, v, got, expect)
        # clone isolation: every surviving clone still reads its at-clone
        # state no matter what the source did afterwards
        for c, expect, kn in clones:
            if expect:
                got = {r[kn]: r["v"] for r in c.read(spark).collect()}
                assert got == expect, (ops, got, expect)

    run()


def test_snapshot_compact_small_binpack_with_dvs(spark, tmp_path):
    """Bin-packing OPTIMIZE: only sub-threshold files are rewritten (the
    big file is carried path-identical), DV'd rows in the rewritten set
    vanish for good, and the deletion vectors are trimmed to positions in
    carried files — table state identical before/after."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "binpack"))
    big = spark.range(50000).select(F.col("id").alias("k"))
    t.commit_append(big, n_files=1)                      # v1: one big file
    for lo in (100000, 100010, 100020):                  # v2-v4: 3 tiny files
        t.commit_append(
            spark.range(lo, lo + 10).select(F.col("id").alias("k"))
        )
    # DV spanning the big file AND a small file
    t.commit_delete(spark, "k < 5 or k in (100000, 100001)")  # v5
    before = sorted(r["k"] for r in t.read(spark).collect())
    big_path = t.files(1)[0]
    threshold = 64 * 1024
    import os

    assert os.path.getsize(big_path) >= threshold

    v = t.commit_compact_small(spark, threshold_bytes=threshold, n_files=1)
    assert v == 6
    files = t.files(v)
    assert big_path in files                   # big file carried, zero IO
    assert len(files) == 2                     # 3 tiny -> 1 packed
    after = sorted(r["k"] for r in t.read(spark).collect())
    assert after == before                     # state identical
    # the trimmed DV still kills the big file's rows, and ONLY those
    assert t.read(spark).where("k < 5").count() == 0
    frac = t.dv_fraction()
    assert 0 < frac < 0.001                    # only the 5 big-file kills remain

    # idempotent-ish: nothing under threshold anymore -> no-op
    assert t.commit_compact_small(spark, threshold_bytes=threshold) in (v,)


def test_snapshot_layout_mismatch_guard(spark, tmp_path):
    """Mixing a Hive-partitioned commit with a flat parent (either
    direction, or different keys) silently LOSES rows at read (measured) —
    every appending verb must refuse instead; commit_rewrite legitimately
    changes the layout."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))

    t = SnapshotTable(str(tmp_path / "flat"))
    t.commit_append(df)
    with pytest.raises(ValueError, match="layout mismatch"):
        t.commit_append(df, partition_by=["p"])
    sid = t.stage_commit(df, partition_by=["p"])
    with pytest.raises(ValueError, match="layout mismatch"):
        t.publish_staged(sid)
    t.abort_staged(sid)

    tp = SnapshotTable(str(tmp_path / "part"))
    tp.commit_append(df, partition_by=["p"])
    with pytest.raises(ValueError, match="layout mismatch"):
        tp.commit_append(df)
    # MoR merge is EXEMPT from the guard: its update files land flat on
    # the partitioned parent and reads group the layout generations (the
    # grouped-scan upgrade) — the merge must succeed and upsert correctly
    upd = spark.createDataFrame([(1, 99)], "k long, p long")
    tp.commit_merge_on_read(upd, "k")
    got = {r["k"]: r["p"] for r in tp.read(spark).collect()}
    assert got[1] == 99 and len(got) == 10
    tp.commit_rewrite(tp.read(spark), partition_by=["p"])  # back to one layout
    # same keys: fine
    tp.commit_append(df.select((F.col("k") + 100).alias("k"), "p"), partition_by=["p"])
    assert tp.read(spark).count() == 20
    # rewrite may change the layout
    v = tp.commit_rewrite(tp.read(spark))
    assert tp.read(spark, v).count() == 20


def test_snapshot_merge_zone_map_routing(spark, tmp_path):
    """CoW MERGE routes hit detection through the key zone maps: on a
    key-clustered table, files whose [min,max] can't overlap the update
    batch's key range are never scanned (pruned_entries is the routing
    decision — asserted directly), and the merge result is identical."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "route"))
    df = spark.range(1000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    # 4 disjoint key-range files WITH key stats
    for lo in range(0, 1000, 250):
        t.commit_append(
            df.where((F.col("k") >= lo) & (F.col("k") < lo + 250)),
            stats_cols=["k"],
        )
    upd = spark.createDataFrame([(10, -1), (20, -2), (2000, 7)], "k long, v long")
    # the routing decision: update keys [10, 2000] overlap files 1..4 by
    # stats, but a batch confined to [10,20] overlaps only file 1
    assert len(t.pruned_entries(col="k", lo=10, hi=20)) == 1
    assert len(t.files()) == 4
    t.commit_merge(upd, key="k", stats_cols=["k"])
    got = {r["k"]: r["v"] for r in t.read(spark).where("k in (10,20,2000,30)").collect()}
    assert got == {10: -1, 20: -2, 2000: 7, 30: 60}
    assert t.read(spark).count() == 1001
    # carried: files 2..4 untouched (update range [10,2000] has stats
    # overlap with all, so the minimality claim here is key-match-based;
    # the ROUTING claim is the pruned_entries assertion above)
    assert len(set(t.files(4)) & set(t.files(5))) == 3

    # a tight-range merge scans (and rewrites) only its one file
    upd2 = spark.createDataFrame([(300, -3)], "k long, v long")
    t.commit_merge(upd2, key="k", stats_cols=["k"])
    assert t.read(spark).where("k = 300 and v = -3").count() == 1
    assert t.read(spark).count() == 1001


def test_snapshot_dv_verbs_occ_guard(spark, tmp_path, monkeypatch):
    """commit_delete and commit_merge_on_read carry the same lost-update
    guard as every publishing verb: a DV derived from version N must not
    publish over a head another writer moved to N+1 (the DV's positions
    were computed against N's live-row view)."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "dvocc"))
    mk = lambda lo, hi: spark.range(lo, hi).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    t.commit_append(mk(0, 10))

    other = SnapshotTable(t.path)
    orig = t._write_delete_files

    def interleaved(doomed):
        out = orig(doomed)
        other.commit_append(mk(10, 20))  # second writer lands mid-staging
        return out

    monkeypatch.setattr(t, "_write_delete_files", interleaved)
    with pytest.raises(CommitConflictError):
        t.commit_delete(spark, "k < 3")
    assert t.read(spark).count() == 20  # nothing lost, delete not applied

    with pytest.raises(CommitConflictError):
        t.commit_merge_on_read(
            spark.createDataFrame([(1, 99)], "k long, v long"), "k"
        )
    assert t.read(spark).count() == 30  # the interleaved appends survived

    # retries against the settled head succeed
    monkeypatch.setattr(t, "_write_delete_files", orig)
    t.commit_delete(spark, "k < 3")
    assert t.read(spark).count() == 27


def test_snapshot_update_inplace_verb(spark, tmp_path):
    """commit_update: matched rows restated in ONE atomic commit via DV +
    reinsert; unmatched rows untouched, all parent files carried, no-match
    update is a version-free no-op, time travel sees the pre-update rows."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "upd"))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    t.commit_append(df, n_files=2)
    v = t.commit_update(spark, "k < 10", {"v": F.col("v") + 1000.0})
    assert v == 2
    assert set(t.files(1)) <= set(t.files(2))
    got = {r["k"]: r["v"] for r in t.read(spark).where("k in (0, 9, 10)").collect()}
    assert got == {0: 1000.0, 9: 1009.0, 10: 10.0}
    assert t.read(spark).count() == 100
    assert t.read(spark, 1).where("v >= 1000").count() == 0  # time travel
    assert t.commit_update(spark, "k = 424242", {"v": F.lit(0.0)}) == 2  # no-op
    # stacked update over the DV'd head composes
    t.commit_update(spark, "k = 0", {"v": F.lit(-1.0)})
    assert t.read(spark).where("k = 0").collect()[0]["v"] == -1.0
    assert t.read(spark).count() == 100


def test_snapshot_history_metadata_table(spark, tmp_path):
    """history() exposes the commit lineage as a DataFrame — version,
    parent, file/DV counts, batch_id — reflecting every verb's footprint
    and shrinking with vacuum."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "hist"))
    t.commit_append(
        spark.range(10).select(F.col("id").alias("k")), batch_id=7
    )
    t.commit_delete(spark, "k < 2")
    t.commit_rewrite(t.read(spark))
    h = {r["version"]: r for r in t.history(spark).collect()}
    assert set(h) == {1, 2, 3}
    assert h[1]["parent"] is None and h[1]["batch_id"] == 7
    assert h[2]["parent"] == 1 and h[2]["n_delete_files"] == 1
    assert h[2]["n_files"] == h[1]["n_files"]          # DV commit: same files
    assert h[3]["n_delete_files"] == 0                 # OPTIMIZE folded DVs
    t.vacuum(keep_last=1)
    assert [r["version"] for r in t.history(spark).collect()] == [3]


def test_cluster_exact_disjoint_and_seed_insensitive(spark, tmp_path):
    """_cluster_exact buckets by exact percentile cut points: the lead
    cluster key's per-file [min,max] ranges are pairwise disjoint, the
    layout is identical no matter how many RDDs the session created
    before (the repartitionByRange sampler seed hazard), and every row
    survives."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    import pyarrow.parquet as pq

    df = spark.range(10000).select(
        (F.col("id") * 37 % 10007).alias("k"), F.col("id").alias("v")
    )

    def layout(name):
        t = SnapshotTable(str(tmp_path / name))
        t.commit_rewrite(df, n_files=4, stats_cols=["k"], cluster_by=["k"])
        total = sum(pq.ParquetFile(p).metadata.num_rows for p in t.files())
        ranges = sorted(
            (e["stats"]["k"]["min"], e["stats"]["k"]["max"])
            for e in t.pruned_entries()
        )
        return ranges, total

    first, total = layout("c1")
    assert total == 10000
    assert len(first) == 4
    for (lo1, hi1), (lo2, hi2) in zip(first, first[1:]):
        assert hi1 < lo2  # disjoint, ordered slices per FILE
    # churn the session's RDD/plan ids, then re-derive: identical layout
    for i in range(23):
        spark.range(50 + i).selectExpr("max(id)").collect()
    assert layout("c2") == (first, total)


def test_snapshot_partition_evolution(spark, tmp_path):
    """Iceberg-style partition evolution: old files keep their layout, new
    batches declare a new one with evolve=True; reads union the layout
    generations; DV deletes and MoR merges hit rows in BOTH layouts; time
    travel across the evolution boundary is exact; partition pruning on
    the new key keeps old-layout entries (skippable only by zone maps)."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "evo"))
    t.commit_append(
        spark.createDataFrame(
            [(1, 10, "a"), (2, 10, "b"), (3, 11, "c")], "id bigint, day bigint, v string"
        ),
        stats_cols=["day"],
    )
    # accidental mixing still fails loudly ...
    newer = spark.createDataFrame([(4, 11, "d"), (5, 12, "e")], "id bigint, day bigint, v string")
    with pytest.raises(ValueError, match="layout mismatch"):
        t.commit_append(newer, partition_by=["day"])
    # ... until evolution is declared
    t.commit_append(newer, partition_by=["day"], evolve=True)
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 2, 3, 4, 5]
    assert t.read(spark).columns == ["id", "day", "v"]

    # pruning on the evolved key: partitioned non-matching entries drop,
    # the flat generation survives partition pruning (unrecorded value)
    # and then dies by its zone map when the day range misses it
    pruned = t.pruned_entries(partitions={"day": 12})
    assert len(pruned) == 2 and any("partitions" not in e for e in pruned)
    assert len(t.pruned_entries(col="day", lo=12, hi=12, partitions={"day": 12})) == 1

    # DV + MoR merge span both layout generations
    t.commit_delete(spark, F.col("id").isin(2, 5))
    assert sorted(r.id for r in t.read(spark).collect()) == [1, 3, 4]
    t.commit_merge_on_read(
        spark.createDataFrame(
            [(1, 10, "A!"), (4, 11, "D!"), (9, 13, "new")], "id bigint, day bigint, v string"
        ),
        key="id",
    )
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got == {1: "A!", 3: "c", 4: "D!", 9: "new"}

    # once evolved, further single-layout appends are free (guard stands down)
    t.commit_append(
        spark.createDataFrame([(7, 14, "g")], "id bigint, day bigint, v string")
    )
    assert 7 in {r.id for r in t.read(spark).collect()}

    # time travel crosses the evolution boundary exactly
    assert sorted(r.id for r in t.read(spark, version=1).collect()) == [1, 2, 3]
    assert sorted(r.id for r in t.read(spark, version=2).collect()) == [1, 2, 3, 4, 5]


def test_schema_and_partition_evolution_compose(spark, tmp_path):
    """A table that evolves BOTH its schema (new column) and its partition
    layout reads back whole: the grouped scans union with
    allowMissingColumns under merge_schema, old rows null-backfill the
    new column, and partition values still come from the path."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "dual_evo"))
    t.commit_append(
        spark.createDataFrame([(1, 10), (2, 11)], "id bigint, day bigint")
    )
    # one commit evolves layout AND schema at once
    t.commit_append(
        spark.createDataFrame(
            [(3, 11, "x"), (4, 12, "y")], "id bigint, day bigint, tag string"
        ),
        partition_by=["day"],
        evolve=True,
    )
    got = {r["id"]: r for r in t.read(spark, merge_schema=True).collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[1]["tag"] is None and got[3]["tag"] == "x"
    assert got[4]["day"] == 12  # path-derived in the partitioned generation


def test_mor_mixture_does_not_disarm_layout_guard(spark, tmp_path):
    """A merge-on-read commit lands flat update files on a partitioned
    parent (legal), but that FORMAT mixture must not stand the accidental-
    append guard down: a later append that forgot partition_by still fails
    loudly, and one that matches the declared layout still commits."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "guard_mor"))
    df = spark.range(10).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    t.commit_append(df, partition_by=["p"])
    t.commit_merge_on_read(
        spark.createDataFrame([(1, 77)], "k long, p long"), key="k"
    )  # flat update files now coexist with the partitioned generation
    with pytest.raises(ValueError, match="layout mismatch"):
        t.commit_append(df)  # forgot partition_by: still an error
    t.commit_append(
        df.select((F.col("k") + 100).alias("k"), "p"), partition_by=["p"]
    )  # declared layout: fine
    got = {r["k"]: r["p"] for r in t.read(spark).collect()}
    assert got[1] == 77 and len(got) == 20


def test_dv_verbs_on_dual_evolved_table(spark, tmp_path):
    """DV deletes / MoR merges / updates work on a table that evolved BOTH
    schema and partition layout: the position scan null-fills the missing
    column across generations, a condition on the new column is null=false
    on old rows (correct), and read_pruned's merge_schema flag reads the
    pruned subset whole."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "dual_dv"))
    t.commit_append(
        spark.createDataFrame([(1, 10), (2, 11)], "id bigint, day bigint"),
        stats_cols=["day"],
    )
    t.commit_append(
        spark.createDataFrame(
            [(3, 11, "x"), (4, 12, "y")], "id bigint, day bigint, tag string"
        ),
        partition_by=["day"],
        evolve=True,
    )
    # delete by id spans both generations
    t.commit_delete(spark, F.col("id").isin(2, 4))
    assert sorted(r["id"] for r in t.read(spark, merge_schema=True).collect()) == [1, 3]
    # delete by the NEW column: old-generation rows are null=false, untouched
    t.commit_delete(spark, F.col("tag") == "x")
    assert sorted(r["id"] for r in t.read(spark, merge_schema=True).collect()) == [1]
    # MoR merge still lands (new-schema update row)
    t.commit_merge_on_read(
        spark.createDataFrame([(1, 10, "z")], "id bigint, day bigint, tag string"),
        key="id",
    )
    got = t.read(spark, merge_schema=True).collect()
    assert len(got) == 1 and got[0]["tag"] == "z"
    # pruned read with merge_schema on the evolved key
    pr = t.read_pruned(
        spark, col="day", lo=10, hi=10, partitions={"day": 10}, merge_schema=True
    )
    assert [r["id"] for r in pr.collect()] == [1]


def test_snapshot_partitioned_cow_merge(spark, tmp_path):
    """CoW MERGE on a Hive-partitioned table (the reference's
    day-partitioned fact shape, etl/LogDelayPatch.scala:43-54): survivor
    rewrites stay INSIDE their partition directory with their manifest
    partitions tag (tier-1 pruning survives), untouched partitions carry
    path-identical, and the update rows land partitioned by the declared
    layout."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "pmerge"))
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("day"),
        (F.col("id") * 10).alias("v"),
    )
    t.commit_append(df, partition_by=["day"], stats_cols=["k"])
    before = {e["path"]: e for e in t._manifest(1)["files"]}

    # updates touch day=0 and day=1 only; day=2 must carry path-identical
    upd = spark.createDataFrame(
        [(0, 0, -1), (3, 0, -1), (1, 1, -1), (900, 0, -2)],
        "k long, day long, v long",
    )
    v2 = t.commit_merge(upd, key="k", stats_cols=["k"])
    after = t._manifest(v2)["files"]
    after_by_path = {e["path"]: e for e in after}

    day2 = [p for p, e in before.items() if e["partitions"]["day"] == "2"]
    assert all(p in after_by_path for p in day2)  # untouched partition carried
    # every entry still carries a partitions tag, and rewritten/new files
    # physically live under their day=N directory
    assert all("partitions" in e for e in after)
    assert all(f"day={e['partitions']['day']}" in e["path"] for e in after)
    # tier-1 partition pruning still routes by manifest values
    assert {
        e["partitions"]["day"] for e in t.pruned_entries(partitions={"day": "2"})
    } == {"2"}

    rows = {r["k"]: r["v"] for r in t.read(spark, v2).collect()}
    assert len(rows) == 301
    assert rows[0] == -1 and rows[3] == -1 and rows[1] == -1 and rows[900] == -2
    assert rows[2] == 20 and rows[6] == 60  # survivors intact
    # partition column still reads back from the PATH for every row
    got_days = dict(
        t.read(spark, v2).groupBy("day").count().rdd.map(tuple).collect()
    )
    assert got_days == {0: 101, 1: 100, 2: 100}

    # updates missing the partition column fail loudly
    import pytest

    bad = spark.createDataFrame([(5, -9)], "k long, v long")
    with pytest.raises(ValueError, match="partition columns"):
        t.commit_merge(bad, key="k")


def test_snapshot_partitioned_merge_key_is_partition_col(spark, tmp_path):
    """When the merge key IS the partition column, hit detection reads no
    data file at all (manifest-only routing) and a matched partition's
    files disappear whole, replaced by the update rows."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "pkeymerge"))
    df = spark.range(90).select(
        (F.col("id") % 3).alias("day"), F.col("id").alias("v")
    )
    t.commit_append(df, partition_by=["day"])
    before = {e["path"]: e["partitions"]["day"] for e in t._manifest(1)["files"]}

    upd = spark.createDataFrame([(1, 777)], "day long, v long")
    v2 = t.commit_merge(upd, key="day")
    after = set(t.files(v2))
    # day=0 / day=2 carried path-identical; every day=1 file vanished
    for p, d in before.items():
        assert (p in after) == (d != "1")
    rows = t.read(spark, v2)
    assert rows.where("day = 1").count() == 1
    assert rows.where("day = 1").first()["v"] == 777
    assert rows.count() == 61  # 30+30 untouched + 1 replacement


def test_snapshot_partitioned_compact_small_binpack(spark, tmp_path):
    """Bin-pack OPTIMIZE on a Hive-partitioned table packs PER PARTITION:
    each partition's small files collapse into one packed file that still
    lives under its col=value directory with its manifest partitions tag
    (pruning tier intact), big files carry path-identical, and DV-dead
    rows in repacked files vanish for good."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "pcompact"))
    # 4 small files per partition (4 appends x 1 file per partition value)
    for i in range(4):
        chunk = spark.range(i * 50, (i + 1) * 50).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("day")
        )
        t.commit_append(chunk, partition_by=["day"], stats_cols=["k"])
    t.commit_delete(spark, F.col("k").isin(0, 1))  # one dead row per day
    assert len(t.files()) == 8

    v = t.commit_compact_small(spark, threshold_bytes=1 << 20, n_files=1)
    entries = t._manifest(v)["files"]
    assert len(entries) == 2  # one packed file per partition
    assert all("partitions" in e for e in entries)
    assert all(f"day={e['partitions']['day']}" in e["path"] for e in entries)
    # DVs folded in: manifest carries none, dead rows stay dead
    assert not t._manifest(v).get("delete_files")
    assert t.read(spark, v).count() == 198
    assert t.read(spark, v).where("k in (0, 1)").count() == 0
    # partition column still path-derived; per-partition counts intact
    got = dict(t.read(spark, v).groupBy("day").count().rdd.map(tuple).collect())
    assert got == {0: 99, 1: 99}
    # tier-1 pruning still works post-compaction
    assert len(t.pruned_entries(partitions={"day": "0"})) == 1


def test_maybe_compact_preserves_partition_layout(spark, tmp_path):
    """Auto-OPTIMIZE over a partitioned table re-partitions on the
    DECLARED layout instead of silently going flat."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "autopt"))
    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("day")
    )
    t.commit_append(df, partition_by=["day"])
    t.commit_delete(spark, F.col("k") < 50)  # 50% dead -> trips threshold
    v = t.maybe_compact(spark, threshold=0.1)
    assert v is not None
    m = t._manifest(v)
    assert m["layout"] == ["day"]
    assert all("partitions" in e for e in m["files"])
    assert t.read(spark, v).count() == 50
    assert not m.get("delete_files")


def test_wap_first_commit_declares_layout(spark, tmp_path):
    """publish_staged onto an EMPTY table declares the staged layout
    (mirrors commit_append's first commit) so the manifest never relies on
    the legacy entry-inference fallback; a rewrite-mode publish re-declares
    the layout wholesale like commit_rewrite."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    t = SnapshotTable(str(tmp_path / "wapfirst"))
    sid = t.stage_commit(df, partition_by=["p"])
    v = t.publish_staged(sid)
    assert t._manifest(v)["layout"] == ["p"]
    # follow-up append with the same layout sails through the guard
    t.commit_append(df.select((F.col("k") + 100).alias("k"), "p"),
                    partition_by=["p"])
    assert t.read(spark).count() == 40

    # rewrite-mode staged publish re-declares flat and clears evolution
    t.commit_append(df.select("k"), evolve=True)  # mixed layouts now
    sid2 = t.stage_commit(df.select("k"), mode="rewrite")
    v2 = t.publish_staged(sid2)
    m2 = t._manifest(v2)
    assert m2["layout"] == [] and not m2.get("evolved")


def test_restore_infers_layout_on_legacy_manifest(spark, tmp_path):
    """restore() of a version whose manifest predates the layout field
    infers the layout from the restored entries' partition keys — it must
    NOT hard-declare flat, which would spuriously reject a correct
    partitioned append afterwards."""
    import json
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    df = spark.range(20).select(
        F.col("id").alias("k"), (F.col("id") % 2).alias("p")
    )
    t = SnapshotTable(str(tmp_path / "legacyrestore"))
    t.commit_append(df, partition_by=["p"])
    t.commit_append(
        df.select((F.col("k") + 100).alias("k"), "p"), partition_by=["p"]
    )
    # simulate a legacy v1 manifest: strip the layout field
    p1 = os.path.join(t.manifest_dir, "v1.json")
    m1 = json.load(open(p1))
    m1.pop("layout", None)
    with open(p1, "w") as f:
        json.dump(m1, f)
    v3 = t.restore(1)
    assert t._manifest(v3)["layout"] == ["p"]
    # the guard now accepts a layout-matching append post-restore
    t.commit_append(
        df.select((F.col("k") + 200).alias("k"), "p"), partition_by=["p"]
    )
    assert t.read(spark).count() == 40


def test_manifest_checkpointing_bounds_commit_write(spark, tmp_path):
    """The O(files)-per-commit manifest ceiling is gone: between periodic
    checkpoints a commit writes only its add/remove delta (kilobytes at
    any table size), reconstruction replays the bounded chain exactly,
    and vacuum materializes the oldest survivor so no chain ever reaches
    an expired version.  1,000 cumulative files across 25 commits."""
    import json
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "ckpt"))
    for i in range(25):
        df = spark.range(i * 400, (i + 1) * 400).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        t.commit_append(df, n_files=40, batch_id=i)
    assert len(t.files()) == 1000

    raw = {
        v: json.load(open(os.path.join(t.manifest_dir, f"v{v}.json")))
        for v in t.versions()
    }
    # checkpoints exactly where the cadence says; everything else a delta
    for v, m in raw.items():
        if v == 1 or v % SnapshotTable.CHECKPOINT_EVERY == 0:
            assert "files" in m, v
        else:
            assert "files" not in m and len(m["adds"]) == 40, v
            assert "removes" not in m
    # the delta write is O(delta): a late delta manifest stays ~40-entry
    # sized while the head checkpoint carries hundreds of entries
    delta_sz = os.path.getsize(os.path.join(t.manifest_dir, "v23.json"))
    ckpt_sz = os.path.getsize(os.path.join(t.manifest_dir, "v24.json"))
    assert delta_sz * 5 < ckpt_sz

    # a DV-only commit is an EMPTY delta (no file-list bytes at all)
    t.commit_delete(spark, "k < 5")
    raw26 = json.load(open(os.path.join(t.manifest_dir, "v26.json")))
    assert raw26.get("adds") == [] and "files" not in raw26
    assert t.read(spark).count() == 9995

    # reconstruction is exact from a COLD instance (no publish-time cache)
    t2 = SnapshotTable(str(tmp_path / "ckpt"))
    assert t2.files(13) == t.files(13)
    assert len(t2.files(13)) == 13 * 40
    assert t2.read(spark, 5).count() == 2000
    assert t2.committed_batch_ids() >= set(range(25))

    # vacuum: oldest survivor (a delta, v25) gets materialized as a
    # checkpoint so no surviving chain reaches an expired version
    t.vacuum(keep_last=2)
    assert t.versions() == [25, 26]
    assert "files" in json.load(open(os.path.join(t.manifest_dir, "v25.json")))
    # fresh instance must resolve every survivor without the expired chain
    t3 = SnapshotTable(str(tmp_path / "ckpt"))
    assert len(t3.files(25)) == 1000
    assert t3.read(spark).count() == 9995
    import pytest

    with pytest.raises(ValueError, match="no manifest"):
        t.read(spark, 13)  # expired: cache must not resurrect it


def test_snapshot_check_constraints(spark, tmp_path):
    """Delta ALTER TABLE ADD CONSTRAINT parity: declaring a CHECK is a
    metadata-only commit that first validates EXISTING rows; every ingest
    verb then refuses a violating batch whole (nothing published); NULL
    passes (SQL CHECK semantics); drop_constraint lifts the rule; the
    constraint set survives vacuum and propagates through commits."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import (
        ConstraintViolationError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "cons"))
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, None)], "k long, v double"
    )
    t.commit_append(df)
    head_files = t.files()

    # blessing scans existing rows: a rule the table already violates is refused
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.add_constraint(spark, "v_positive", "v > 15")
    # NULL passes: v > 0 is NULL for k=3, not FALSE
    v = t.add_constraint(spark, "v_positive", "v > 0")
    assert t.files(v) == head_files  # metadata-only: same file list
    assert t.constraints() == {"v_positive": "v > 0"}

    # append: violating batch refused WHOLE, head unmoved
    bad = spark.createDataFrame([(4, -1.0)], "k long, v double")
    with pytest.raises(ConstraintViolationError, match="v_positive"):
        t.commit_append(bad)
    assert t.versions()[-1] == v
    t.commit_append(spark.createDataFrame([(4, 4.0)], "k long, v double"))

    # CoW merge + MoR merge + UPDATE enforce on their updates too
    with pytest.raises(ConstraintViolationError):
        t.commit_merge(bad, key="k")
    with pytest.raises(ConstraintViolationError):
        t.commit_merge_on_read(bad, key="k")
    with pytest.raises(ConstraintViolationError):
        t.commit_update(spark, F.col("k") == 1, {"v": F.lit(-5.0)})
    # WAP staging is gated the same way (the write never lands)
    with pytest.raises(ConstraintViolationError):
        t.stage_commit(bad)

    # a second constraint composes; both enforced in one pass
    t.add_constraint(spark, "k_range", "k between 0 and 1000")
    with pytest.raises(ConstraintViolationError, match="k_range"):
        t.commit_append(spark.createDataFrame([(5000, 1.0)], "k long, v double"))

    # drop lifts the rule
    t.drop_constraint("v_positive")
    t.commit_append(spark.createDataFrame([(5, -9.0)], "k long, v double"))
    assert t.constraints() == {"k_range": "k between 0 and 1000"}
    assert t.read(spark).count() == 5

    # constraints ride the manifest lineage through vacuum
    t.vacuum(keep_last=2)
    assert t.constraints() == {"k_range": "k between 0 and 1000"}
    with pytest.raises(ConstraintViolationError):
        t.commit_append(spark.createDataFrame([(7777, 1.0)], "k long, v double"))


def test_snapshot_column_mapping_rename_drop(spark, tmp_path):
    """Delta column-mapping parity: rename and drop are METADATA-ONLY
    commits (file list unchanged, physical bytes immutable); reads alias
    the physical column to its logical name; time travel sees each
    version's own names; every ingest verb reverse-maps logical batches;
    zone-map probes translate the logical column; OPTIMIZE materializes
    the mapping away."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "cmap"))
    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, 20.0, "b"), (3, 30.0, "c")],
        "k long, price double, tag string",
    )
    t.commit_append(df, stats_cols=["price"])
    files_v1 = t.files()

    v2 = t.rename_column(spark, "price", "amount")
    assert t.files(v2) == files_v1  # zero data movement
    assert set(t.read(spark).columns) == {"k", "amount", "tag"}
    assert t.read(spark, 1).columns == ["k", "price", "tag"]  # time travel
    assert {r["k"]: r["amount"] for r in t.read(spark).collect()}[2] == 20.0

    # appends speak the NEW logical name; physical files keep the old one
    t.commit_append(
        spark.createDataFrame([(4, 40.0, "d")], "k long, amount double, tag string")
    )
    assert t.read(spark).where("amount = 40.0").count() == 1
    # zone-map probe on the LOGICAL name still prunes (physical stats)
    assert len(t.pruned_files("amount", 35.0, 45.0)) < len(t.files())

    # MoR merge + UPDATE + DELETE all speak logical
    t.commit_merge_on_read(
        spark.createDataFrame([(1, -1.0, "a")], "k long, amount double, tag string"),
        key="k",
    )
    t.commit_update(spark, F.col("k") == 3, {"amount": F.lit(33.0)})
    t.commit_delete(spark, F.col("amount") < 0)
    got = {r["k"]: r["amount"] for r in t.read(spark).collect()}
    assert got == {2: 20.0, 3: 33.0, 4: 40.0}

    # CoW merge over the mapped (and DV-carrying) table
    t.commit_merge(
        spark.createDataFrame([(2, 22.0, "B"), (9, 90.0, "i")],
                              "k long, amount double, tag string"),
        key="k",
    )
    got = {r["k"]: r["amount"] for r in t.read(spark).collect()}
    assert got == {2: 22.0, 3: 33.0, 4: 40.0, 9: 90.0}

    # drop: metadata-only; the column vanishes at head, survives in history
    vd = t.drop_column(spark, "tag")
    assert set(t.read(spark).columns) == {"k", "amount"}
    assert "tag" in t.read(spark, vd - 1).columns
    # schema evolution on a mapped table: a NEW logical column extends the
    # mapping as identity
    t.commit_append(
        spark.createDataFrame([(10, 1.5, 7)], "k long, amount double, extra long")
    )
    r10 = t.read(spark, merge_schema=True).where("k = 10").first()
    assert r10["extra"] == 7 and r10["amount"] == 1.5

    # partition columns are refused (path-encoded)
    tp = SnapshotTable(str(tmp_path / "cmap_p"))
    tp.commit_append(
        spark.createDataFrame([(1, 5)], "k long, day long"), partition_by=["day"]
    )
    with pytest.raises(ValueError, match="partition column"):
        tp.rename_column(spark, "day", "dt")
    with pytest.raises(ValueError, match="partition column"):
        tp.drop_column(spark, "day")

    # restore re-declares the RESTORED version's mapping, not the head's
    v_before_drop = vd - 1
    t.restore(v_before_drop)
    assert "tag" in t.read(spark, merge_schema=True).columns

    # OPTIMIZE (commit_rewrite) materializes logical names and resets the map
    t.commit_rewrite(t.read(spark, merge_schema=True), n_files=1)
    assert t.column_map() == {}
    cols = set(t.read(spark).columns)
    assert {"k", "amount", "tag"} <= cols
    import pyarrow.parquet as pq

    phys = set(pq.ParquetFile(t.files()[0]).schema_arrow.names)
    assert "amount" in phys and "price" not in phys  # rename materialized


def test_snapshot_shallow_clone(spark, tmp_path):
    """Zero-copy SHALLOW CLONE: the clone's v1 references the source's
    files byte-for-byte; divergence is independent in both directions; a
    partitioned clone's CoW-merge rewrites land under the CLONE's own
    tree (never the source's, whose vacuum would collect them); the
    clone's vacuum never touches source files; table metadata (layout,
    constraints, column mapping) carries over."""
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    src = SnapshotTable(str(tmp_path / "src"))
    df = spark.range(90).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("day"),
        (F.col("id") * 1.0).alias("v"),
    )
    src.commit_append(df, partition_by=["day"], stats_cols=["k"])
    src.rename_column(spark, "v", "val")
    src.add_constraint(spark, "v_ok", "val >= 0")
    # a column referenced by a CHECK cannot rename/drop (Delta rule)
    import pytest

    with pytest.raises(ValueError, match="referenced by CHECK"):
        src.rename_column(spark, "val", "v2")
    with pytest.raises(ValueError, match="referenced by CHECK"):
        src.drop_column(spark, "val")

    clone = src.clone_to(str(tmp_path / "clone"))
    assert clone.files(1) == src.files()  # same physical files, no copy
    assert clone.read(spark).count() == 90
    assert clone.constraints() == {"v_ok": "val >= 0"}
    assert set(clone.read(spark).columns) == {"k", "day", "val"}
    assert clone._manifest(1)["layout"] == ["day"]

    # divergence: clone merge rewrites land under the CLONE's data_dir
    upd = spark.createDataFrame([(0, 0, -0.0), (900, 1, 9.0)],
                                "k long, day long, val double")
    clone.commit_merge(upd, key="k")
    new_files = set(clone.files()) - set(src.files())
    assert new_files and all(p.startswith(clone.data_dir) for p in new_files)
    assert all(f"day=" in p for p in new_files)  # partition dirs re-rooted
    assert src.read(spark).count() == 90  # source untouched
    assert clone.read(spark).count() == 91

    # constraints came along: a violating append on the clone is refused
    from bigdata_homed_spark.sources.snapshots import ConstraintViolationError

    with pytest.raises(ConstraintViolationError):
        clone.commit_append(
            spark.createDataFrame([(5000, 2, -1.0)], "k long, day long, val double")
        )

    # clone vacuum sweeps only its own tree
    clone.commit_rewrite(clone.read(spark), n_files=1)
    clone.vacuum(keep_last=1)
    assert all(os.path.exists(p) for p in src.files())
    assert src.read(spark).count() == 90

    # a second clone onto a non-empty destination is refused
    with pytest.raises(ValueError, match="already has commits"):
        src.clone_to(str(tmp_path / "clone"))


def test_snapshot_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: every commit stamps a monotone committed_at;
    version_at resolves at-or-before; read(as_of=) pins the resolved
    version; history() exposes the stamps; too-early asks fail loud."""
    import time

    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "asof"))
    t0 = time.time()
    t.commit_append(spark.range(5).select(F.col("id").alias("k")))
    ts1 = time.time()
    time.sleep(0.02)
    t.commit_append(spark.range(5, 9).select(F.col("id").alias("k")))
    ts2 = time.time()

    assert t.version_at(ts1) == 1 and t.version_at(ts2) == 2
    assert t.read(spark, as_of=ts1).count() == 5
    assert t.read(spark, as_of=ts2).count() == 9
    with pytest.raises(ValueError, match="at or before"):
        t.version_at(t0 - 10)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, version=1, as_of=ts1)
    h = {r["version"]: r["committed_at"] for r in t.history(spark).collect()}
    assert h[1] <= h[2] and all(v is not None for v in h.values())


def test_snapshot_generated_columns(spark, tmp_path):
    """GENERATED ALWAYS AS: batches omitting the column get it computed
    (and can partition by it); batches supplying a WRONG value are
    refused whole; UPDATE recomputes after assignments move a source
    column; declaration over existing data validates stored values;
    rename/drop of the column or its sources is refused."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import (
        ConstraintViolationError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "gen"))
    ev = spark.createDataFrame(
        [(1, 86400 * 3 + 5, 1.0), (2, 86400 * 4 + 9, 2.0)],
        "k long, ts_sec long, v double",
    )
    # seed with the column materialized once, then DECLARE it generated —
    # declaration validates the stored values (one scan)
    seed = ev.limit(1).withColumn("day", F.expr("ts_sec div 86400"))
    t.commit_append(seed, partition_by=["day"])
    t.set_generated_column(spark, "day", "ts_sec div 86400")
    # subsequent batch OMITS day -> computed, lands in its partition
    t.commit_append(ev.where("k = 2"), partition_by=["day"])
    got = {r["k"]: r["day"] for r in t.read(spark).collect()}
    assert got == {1: 3, 2: 4}
    assert len(t.pruned_entries(partitions={"day": "3"})) == 1  # prunable

    # a batch supplying a WRONG generated value is refused whole
    bad = spark.createDataFrame(
        [(3, 86400 * 5 + 1, 3.0, 999)], "k long, ts_sec long, v double, day long"
    )
    with pytest.raises(ConstraintViolationError, match="generated column"):
        t.commit_append(bad, partition_by=["day"])
    # a CORRECT supplied value passes
    t.commit_append(
        spark.createDataFrame(
            [(3, 86400 * 5 + 1, 3.0, 5)], "k long, ts_sec long, v double, day long"
        ),
        partition_by=["day"],
    )

    # UPDATE moving the source recomputes the generated column
    t.commit_update(spark, F.col("k") == 1, {"ts_sec": F.lit(86400 * 9 + 1).cast("bigint")})
    assert t.read(spark).where("k = 1").first()["day"] == 9

    # MoR merge with omitted generated column computes it too
    t.commit_merge_on_read(
        spark.createDataFrame([(2, 86400 * 7 + 2, 20.0)],
                              "k long, ts_sec long, v double"),
        key="k",
    )
    assert t.read(spark).where("k = 2").first()["day"] == 7

    # guard: neither the generated column nor its source may rename/drop
    with pytest.raises(ValueError, match="generated column"):
        t.rename_column(spark, "ts_sec", "t")
    with pytest.raises(ValueError, match="partition column|generated column"):
        t.drop_column(spark, "day")  # partition guard fires first here

    # declaring over existing MISmatched data is refused
    t2 = SnapshotTable(str(tmp_path / "gen2"))
    t2.commit_append(
        spark.createDataFrame([(1, 100, 777)], "k long, ts_sec long, day long")
    )
    with pytest.raises(ConstraintViolationError):
        t2.set_generated_column(spark, "day", "ts_sec div 86400")


def test_column_mapping_review_fixes(spark, tmp_path):
    """Pins the r8 self-review fixes: (1) a dropped column's physical name
    stays RESERVED until a rewrite (re-adding it must not resurrect stale
    bytes); (2) swap-shaped mappings write correctly (one-shot select, no
    sequential-rename corruption); (3) commit_update extends the mapping
    for a column its assignments introduce; (4) compaction translates
    stats_cols so zone maps survive OPTIMIZE on a mapped table."""
    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    # (1) drop-then-re-add is refused until a rewrite materializes the drop
    t = SnapshotTable(str(tmp_path / "fixdrop"))
    t.commit_append(
        spark.createDataFrame([(1, 10.0)], "k long, x double")
    )
    t.rename_column(spark, "x", "y")  # enables mapping
    t.drop_column(spark, "y")  # physical 'x' bytes remain
    with pytest.raises(ValueError, match="still present"):
        t.commit_append(spark.createDataFrame([(2, -1.0)], "k long, x double"))
    t.commit_rewrite(t.read(spark))  # materializes the drop
    t.commit_append(spark.createDataFrame([(2, -1.0)], "k long, x double"))
    got = {r["k"]: r["x"] for r in t.read(spark, merge_schema=True).collect()}
    assert got == {1: None, 2: -1.0}  # old rows NULL, never 10.0

    # (2) swap-shaped mapping: rename a->c then b->a, ingest still exact
    t2 = SnapshotTable(str(tmp_path / "fixswap"))
    t2.commit_append(spark.createDataFrame([(1, 2)], "a long, b long"))
    t2.rename_column(spark, "a", "c")   # {c: a, b: b}
    t2.rename_column(spark, "b", "a")   # {c: a, a: b} — swap shape
    t2.commit_append(spark.createDataFrame([(10, 20)], "c long, a long"))
    rows = {r["c"]: r["a"] for r in t2.read(spark).collect()}
    assert rows == {1: 2, 10: 20}

    # (3) UPDATE introducing a new column extends the map (visible at read)
    t3 = SnapshotTable(str(tmp_path / "fixupd"))
    t3.commit_append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"))
    t3.rename_column(spark, "v", "val")
    t3.commit_update(spark, F.col("k") == 1, {"flag": F.lit(7).cast("bigint")})
    r = t3.read(spark, merge_schema=True).where("k = 1").first()
    assert r["flag"] == 7 and r["val"] == 1.0

    # (4) compaction keeps zone maps through the mapping
    t4 = SnapshotTable(str(tmp_path / "fixstats"))
    for i in range(3):
        t4.commit_append(
            spark.range(i * 10, (i + 1) * 10).select(F.col("id").alias("price")),
            stats_cols=["price"],
        )
    t4.rename_column(spark, "price", "amount")
    v = t4.commit_compact_small(spark, threshold_bytes=1 << 30, n_files=1,
                                stats_cols=["amount"])
    entries = t4._manifest(v)["files"]
    assert all("stats" in e for e in entries)  # zone maps survived
    # and a LOGICAL probe prunes through the mapping
    assert t4.read_pruned(spark, "amount", 0, 5).count() == 30  # superset read ok
    assert len(t4.pruned_entries(col="amount", lo=0, hi=5)) == 1


def test_shallow_clone_legacy_layout_inference(spark, tmp_path):
    """clone_to of a LEGACY partitioned manifest (no layout field) infers
    the layout from the entries instead of hard-declaring flat — the
    clone accepts a matching partitioned append."""
    import json
    import os

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    src = SnapshotTable(str(tmp_path / "legsrc"))
    df = spark.range(20).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    src.commit_append(df, partition_by=["p"])
    p1 = os.path.join(src.manifest_dir, "v1.json")
    m1 = json.load(open(p1))
    m1.pop("layout", None)  # simulate a pre-layout-field manifest
    with open(p1, "w") as f:
        json.dump(m1, f)
    clone = src.clone_to(str(tmp_path / "legclone"))
    assert clone._manifest(1)["layout"] == ["p"]
    clone.commit_append(
        df.select((F.col("k") + 100).alias("k"), "p"), partition_by=["p"]
    )
    assert clone.read(spark).count() == 40


def test_partition_type_fidelity_evolve_rewrite_append(spark, tmp_path):
    """Pinned repro of the r8 model-found crash: evolved partitioned
    append -> rewrite-fed-from-read -> flat append -> read.  Without the
    manifest-recorded partition types, Spark's partition-type INFERENCE
    reconstructed the path-encoded bigint column as int; the rewrite then
    baked INT32 into data files, and the next INT64 append made the table
    unreadable (PARQUET_COLUMN_DATA_TYPE_MISMATCH).  The fix records the
    committed logical type at commit time and reads keyed groups with an
    explicit schema — the type must survive every hop."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tfid"))
    t.commit_append(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        partition_by=["v"],
        evolve=True,
    )
    assert t.read(spark).schema.simpleString() == "struct<k:bigint,v:bigint>"
    t.commit_rewrite(t.read(spark))
    assert t.read(spark).schema.simpleString() == "struct<k:bigint,v:bigint>"
    t.commit_append(spark.createDataFrame([(3, 30)], "k long, v long"), evolve=True)
    rows = sorted((r.k, r.v) for r in t.read(spark).collect())
    assert rows == [(1, 10), (2, 20), (3, 30)]
    assert t.read(spark).schema.simpleString() == "struct<k:bigint,v:bigint>"


def test_partition_type_fidelity_values_beyond_int32(spark, tmp_path):
    """The same inference silently NARROWS values: a bigint partition
    value past 2^31 must round-trip on the very first read of an evolved
    layout (pre-fix this came back as a garbage int or crashed)."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tbig"))
    big = 5_000_000_000
    t.commit_append(
        spark.createDataFrame([(1, big)], "k long, v long"), partition_by=["v"]
    )
    rows = t.read(spark).collect()
    assert rows[0].v == big
    assert dict(t.read(spark).dtypes)["v"] == "bigint"


def test_partition_string_fidelity_and_escaped_values(spark, tmp_path):
    """Two sibling hazards of path-encoded partition values:

    1. a numeric-LOOKING string ('0123') must stay a string verbatim —
       inference would parse it to 123 and the original is unrecoverable;
    2. values Spark path-escapes (':', '=', space) must be recorded RAW
       in the manifest, or commit_merge's partition-key fast path and
       pruned_entries probes compare escaped-vs-raw and silently
       mismatch — the merge would both carry the matched file AND append
       the update (duplicate live rows)."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tstr"))
    t.commit_append(
        spark.createDataFrame(
            [(1, "0123"), (2, "a b:c"), (3, "x=y")], "k long, s string"
        ),
        partition_by=["s"],
    )
    rows = sorted((r.k, r.s) for r in t.read(spark).collect())
    assert rows == [(1, "0123"), (2, "a b:c"), (3, "x=y")]

    # partition-key fast-path merge on an escaped value: exactly one live
    # row for the key afterwards (pre-fix: the carried file + the update)
    t.commit_merge(
        spark.createDataFrame([(99, "a b:c")], "k long, s string"), key="s"
    )
    rows = sorted((r.k, r.s) for r in t.read(spark).collect())
    assert rows == [(1, "0123"), (3, "x=y"), (99, "a b:c")]

    # pruning probes speak raw values too
    pe = t.pruned_entries(partitions={"s": "x=y"})
    assert [e["partitions"]["s"] for e in pe] == ["x=y"]
    assert t.read_pruned(spark, partitions={"s": "0123"}).count() == 1


def test_publish_staged_revalidates_late_constraints(spark, tmp_path):
    """A CHECK constraint added BETWEEN staging and publish must gate the
    staged batch: add_constraint only scans the published head (the
    staged files are invisible to it), so publish_staged re-validates —
    otherwise publishing a pre-existing staged batch bypasses the
    always-on invariant the constraints feature documents."""
    import pytest

    from bigdata_homed_spark.sources.snapshots import (
        ConstraintViolationError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "twap"))
    t.commit_append(spark.createDataFrame([(1, 5)], "k long, v long"))
    sid = t.stage_commit(spark.createDataFrame([(2, -1)], "k long, v long"))
    t.add_constraint(spark, "v_nonneg", "v >= 0")  # head (v=5) passes
    with pytest.raises(ConstraintViolationError):
        t.publish_staged(sid, spark)
    # the staged batch is still there (refused, not consumed) — a
    # compliant batch publishes fine under the same constraint
    t.abort_staged(sid)
    sid2 = t.stage_commit(spark.createDataFrame([(3, 7)], "k long, v long"))
    t.publish_staged(sid2, spark)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3]


def test_publish_staged_rewrite_frees_dropped_physical(spark, tmp_path):
    """A staged REWRITE materializes column drops, so the orphaned
    physical names must stop being reserved (same reset commit_rewrite
    performs) — re-adding a column with a previously-dropped name works
    after the staged rewrite publishes."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "twapdrop"))
    t.commit_append(spark.createDataFrame([(1, 5)], "k long, junk long"))
    t.drop_column(spark, "junk")
    assert t._dropped_physical() == ["junk"]
    sid = t.stage_commit(t.read(spark), mode="rewrite")
    t.publish_staged(sid, spark)
    assert t._dropped_physical() == []
    # the name is free again: an append re-introducing it must succeed
    t.commit_append(
        spark.createDataFrame([(2, 9)], "k long, junk long")
    )
    got = {r.k: r.junk for r in t.read(spark, merge_schema=True).collect()}
    assert got == {1: None, 2: 9}


def test_compact_small_parallel_64_partitions(spark, tmp_path, monkeypatch):
    """Lakehouse-maintenance fan-out: OPTIMIZE over a 64-partition table
    runs its per-partition repack bins CONCURRENTLY (thread pool over
    independent Spark jobs — the scheduler is thread-safe), not as a
    sequential driver loop; a nightly OPTIMIZE on a multi-year
    day-partitioned fact would otherwise serialize thousands of tiny
    jobs.  Asserts observed concurrency > 1, deterministic manifest
    order, and state identical to the sequential result."""
    import threading

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "par64"))
    df = spark.range(64 * 40).select(
        F.col("id").alias("k"), (F.col("id") % 64).alias("p")
    )
    # two drip commits (each spanning ALL 64 p values) -> 2 small files
    # in each of the 64 partitions
    t.commit_append(df.where("k < 1280"), n_files=1, partition_by=["p"])
    t.commit_append(df.where("k >= 1280"), n_files=1, partition_by=["p"])
    assert len(t.files()) == 128
    before = sorted(r["k"] for r in t.read(spark).collect())

    lock = threading.Lock()
    active, peak = [0], [0]
    orig = SnapshotTable._repack_group

    def spy(self, *a, **kw):
        with lock:
            active[0] += 1
            peak[0] = max(peak[0], active[0])
        try:
            return orig(self, *a, **kw)
        finally:
            with lock:
                active[0] -= 1

    monkeypatch.setattr(SnapshotTable, "_repack_group", spy)
    v = t.commit_compact_small(spark, threshold_bytes=1 << 30, n_files=1)
    assert peak[0] > 1, "repack bins ran sequentially"
    files = t.files(v)
    assert len(files) == 64                    # 128 small -> 1 per partition
    assert sorted(r["k"] for r in t.read(spark).collect()) == before
    # every packed file landed back inside its own col=value directory
    # with its manifest partitions tag (tier-1 pruning survives)
    assert all("p=" in p for p in files)
    assert len(t.pruned_entries(partitions={"p": "7"})) == 1


def test_commit_merge_parallel_survivor_rewrites(spark, tmp_path, monkeypatch):
    """CoW MERGE survivor rewrites fan out the same way: a merge hitting
    many files runs the per-file survivor jobs concurrently with results
    identical to the sequential path."""
    import threading

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "parmerge"))
    df = spark.range(400).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    # 8 separate appends -> 8 files, every one hit by the update batch
    for m in range(8):
        t.commit_append(df.where(F.col("k") % 8 == m), n_files=1)
    upd = spark.range(0, 400, 5).select(
        F.col("id").alias("k"), F.lit(-1).cast("bigint").alias("v")
    )

    lock = threading.Lock()
    active, peak = [0], [0]
    orig = SnapshotTable._run_maintenance_jobs

    def spy_run(self, fn, items):
        def wrapped(i):
            with lock:
                active[0] += 1
                peak[0] = max(peak[0], active[0])
            try:
                return fn(i)
            finally:
                with lock:
                    active[0] -= 1

        return orig(self, wrapped, items)

    monkeypatch.setattr(SnapshotTable, "_run_maintenance_jobs", spy_run)
    t.commit_merge(upd, key="k")
    assert peak[0] > 1, "survivor rewrites ran sequentially"
    got = {r["k"]: r["v"] for r in t.read(spark).collect()}
    expect = {k: (-1 if k % 5 == 0 else k * 2) for k in range(400)}
    assert got == expect


def test_partition_type_redeclaration_refused(spark, tmp_path):
    """Review fix (r9): re-declaring an already-recorded partition key at
    a DIFFERENT type is refused — layout generations share one scan
    group, so last-write-wins would silently re-type (and NULL past the
    narrower range) older generations' path-encoded values.  A full
    commit_rewrite legitimately re-types (single-generation record)."""
    import pytest

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "retype"))
    t.commit_append(
        spark.createDataFrame([(1, 5_000_000_000)], "k long, v long"),
        partition_by=["v"],
    )
    with pytest.raises(ValueError, match="committed as bigint"):
        t.commit_append(
            spark.createDataFrame([(2, 7)], "k long, v int"),
            partition_by=["v"],
            evolve=True,
        )
    # the escape hatch: a rewrite re-declares the record wholesale
    t.commit_rewrite(
        spark.createDataFrame([(1, 7)], "k long, v int"), partition_by=["v"]
    )
    assert dict(t.read(spark).dtypes)["v"] == "int"


def test_publish_staged_conflict_before_constraint_scan(spark, tmp_path):
    """Review fix (r9): a publish doomed by a moved head raises
    CommitConflictError up front (never paying the constraint re-scan),
    and constraints already validated at stage time are not re-scanned."""
    import pytest

    from bigdata_homed_spark.sources.snapshots import (
        CommitConflictError,
        SnapshotTable,
    )

    t = SnapshotTable(str(tmp_path / "twapocc"))
    t.commit_append(spark.createDataFrame([(1, 5)], "k long, v long"))
    t.add_constraint(spark, "v_nonneg", "v >= 0")
    sid = t.stage_commit(spark.createDataFrame([(2, 9)], "k long, v long"))
    # constraint existed at stage time -> recorded; a publish with an
    # unchanged constraint set must not need a session at all
    t2_version = t.publish_staged(sid, spark=None)
    assert t2_version == 3
    # moved head: the OCC error fires first
    sid2 = t.stage_commit(spark.createDataFrame([(3, 1)], "k long, v long"))
    t.commit_append(spark.createDataFrame([(4, 2)], "k long, v long"))
    with pytest.raises(CommitConflictError):
        t.publish_staged(sid2, spark)


def test_snapshot_files_and_partitions_metadata_tables(spark, tmp_path):
    """files()/partitions() metadata tables (Iceberg table.files /
    table.partitions, Delta DESCRIBE DETAIL): per-file partition values,
    footer row/byte counts, DV dead-row counts; the partition rollup sums
    them; live rows = sum(n_rows) - sum(n_dead_rows) at every step."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "meta"))
    # flat generation, then partition evolution, then a DV delete
    t.commit_append(
        spark.range(10).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    )
    t.commit_append(
        spark.range(10, 20).select(
            F.col("id").alias("k"), (F.col("id") % 2).alias("p")
        ),
        partition_by=["p"],
        evolve=True,
    )
    t.commit_delete(spark, "k < 4 OR k >= 18")  # kills rows in BOTH generations
    f = t.files_table(spark).collect()
    m = t._manifest(t.versions()[-1])
    assert {r["path"] for r in f} == {e["path"] for e in m["files"]}
    live = t.read(spark).count()
    assert sum(r["n_rows"] for r in f) - sum(r["n_dead_rows"] for r in f) == live
    assert sum(r["n_dead_rows"] for r in f) == 6
    # flat-generation files carry NULL partitions; evolved ones their value
    flat = [r for r in f if r["partitions"] is None]
    evolved = [r for r in f if r["partitions"] is not None]
    assert flat and evolved
    assert {r["partitions"] for r in evolved} == {'{"p": "0"}', '{"p": "1"}'}
    assert all(r["bytes"] > 0 and r["n_rows"] > 0 for r in f)
    # rollup is consistent with the per-file table
    p = t.partitions_table(spark).collect()
    assert sum(r["n_files"] for r in p) == len(f)
    assert sum(r["n_rows"] for r in p) == sum(r["n_rows"] for r in f)
    assert sum(r["n_dead_rows"] for r in p) == 6
    # historical version: v1 predates the DV commit and the evolved files
    f1 = t.files_table(spark, version=1).collect()
    assert all(r["n_dead_rows"] == 0 for r in f1)
    assert all(r["partitions"] is None for r in f1)

def test_files_table_pure_manifest_read(spark, tmp_path, monkeypatch):
    """The r10 contract: commit-time row/byte stats make files_table a
    PURE manifest read — no parquet footer is opened for entries that
    carry them (Iceberg-manifest parity: a 100 TB planner never opens
    O(files) footers).  Entries from pre-r10 manifests (stats stripped
    here by hand) backfill lazily from their footer and still agree."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "pure"))
    t.commit_append(
        spark.range(20).select(F.col("id").alias("k"), (F.col("id") % 4).alias("p")),
        partition_by=["p"],
    )
    m = t._manifest(t.versions()[-1])
    # commit recorded the stats: n_rows from the footer, bytes = ON-DISK size
    assert all(e["n_rows"] > 0 and e["bytes"] > 0 for e in m["files"])
    assert all(e["bytes"] == os.path.getsize(e["path"]) for e in m["files"])

    real_parquet_file = pq.ParquetFile

    def _no_footer(*a, **k):
        raise AssertionError("files_table opened a parquet footer")

    monkeypatch.setattr(pq, "ParquetFile", _no_footer)
    f = t.files_table(spark).collect()
    monkeypatch.setattr(pq, "ParquetFile", real_parquet_file)
    assert sum(r["n_rows"] for r in f) == 20
    assert all(r["bytes"] == os.path.getsize(r["path"]) for r in f)

    # legacy-manifest backfill: strip the recorded stats and re-read
    import json as _json

    vpath = os.path.join(t.path, "_manifests", f"v{t.versions()[-1]}.json")
    raw = _json.load(open(vpath))
    for e in raw.get("files", []):
        e.pop("n_rows", None)
        e.pop("bytes", None)
    with open(vpath, "w") as fh:
        _json.dump(raw, fh)
    t2 = SnapshotTable(t.path)  # fresh instance: no manifest cache
    f2 = t2.files_table(spark).collect()
    assert sum(r["n_rows"] for r in f2) == 20
    assert {(r["path"], r["n_rows"], r["bytes"]) for r in f2} == {
        (r["path"], r["n_rows"], r["bytes"]) for r in f
    }


def test_files_table_dv_paths_percent_encoded_dir(spark, tmp_path):
    """DVs record Spark's _metadata.file_path, a file: URI that
    percent-encodes special characters; files_table must decode it or a
    table under such a path silently reports n_dead_rows = 0 (the r10
    ADVICE finding).  A directory with a space exercises the mismatch."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "odd dir %x" / "t"))
    t.commit_append(spark.range(10).select(F.col("id").alias("k")))
    t.commit_delete(spark, "k < 3")
    f = t.files_table(spark).collect()
    assert sum(r["n_dead_rows"] for r in f) == 3
    assert t.read(spark).count() == 7

def test_snapshot_hostile_partition_values_model_based(spark, tmp_path):
    """Hive path-escaping model check (the r9 ADVICE medium generalized):
    partition VALUES drawn from a hostile alphabet — spaces, '=', '%',
    ':', '#', unicode — fuzzed across partitioned append, CoW merge keyed
    on the partition column (the manifest-only fast path that silently
    duplicated rows when escaped stored values were compared against raw
    keys), CoW merge keyed on data (survivor rewrite + relocation back
    into the escaped directory), MoR merge, DV delete by partition value,
    and per-partition OPTIMIZE.  End state must equal a plain-dict model,
    the partitions_table must account per-value for exactly the live
    rows, and a raw-value pruned_entries probe must route to files for
    every live value.  Depth env-tunable: HOSTILE_FUZZ_EXAMPLES (default
    10)."""
    import os

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    HOSTILE = [
        "a b",            # space (Spark escapes to %20)
        "x=1",            # '=' would split the dir segment if unescaped
        "100%",           # '%' itself must round-trip (%25)
        "a:b",            # ':' illegal in path segments
        "héllo",     # non-ASCII
        "c#4 =%",         # everything at once
        "2020-01-01 00:00:00",  # timestamp-shaped string
        "plain",          # control: no escaping
    ]
    kv = st.tuples(st.integers(0, 15), st.integers(0, len(HOSTILE) - 1))
    op = st.one_of(
        st.tuples(st.just("append"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("merge_k"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("merge_p"), st.lists(kv, min_size=1, max_size=3)),
        st.tuples(st.just("mor_merge"), st.lists(kv, min_size=1, max_size=5)),
        st.tuples(st.just("delete_p"), st.integers(0, len(HOSTILE) - 1)),
        st.tuples(st.just("optimize"), st.just(None)),
    )

    case_n = [0]

    @settings(
        max_examples=int(os.environ.get("HOSTILE_FUZZ_EXAMPLES", "10")),
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(ops=st.lists(op, min_size=1, max_size=5))
    def run(ops):
        case_n[0] += 1
        t = SnapshotTable(os.path.join(str(tmp_path), f"hpv_{case_n[0]}"))
        model: dict[int, str] = {}  # k -> partition value
        appended = 0

        def df_of(rows):
            return spark.createDataFrame(rows, "k long, p string")

        for kind, arg in ops:
            if kind == "append":
                appended += 1
                rows = [(k + appended * 100, HOSTILE[i]) for k, i in dict(arg).items()]
                t.commit_append(df_of(rows), n_files=1, partition_by=["p"])
                model.update({k: p for k, p in rows})
            elif kind == "merge_k":
                if not t.versions():
                    continue
                # upsert by data key: updates may MOVE a key to another
                # partition (the update row lands under its own p; the old
                # row dies in the survivor rewrite of its escaped dir)
                rows = [(k, HOSTILE[i]) for k, i in dict(arg).items()]
                t.commit_merge(df_of(rows), key="k")
                model.update({k: p for k, p in rows})
            elif kind == "merge_p":
                if not t.versions():
                    continue
                # upsert keyed ON the partition column: the manifest-only
                # fast path — every file of a matched value disappears
                # whole, no data file opened for hit detection.  Keys are
                # freshly minted (one per value) so the k->p model dict
                # stays well-defined.
                appended += 1
                vals = sorted({HOSTILE[i] for _, i in arg})
                rows = [(appended * 100 + j, p) for j, p in enumerate(vals)]
                t.commit_merge(df_of(rows), key="p")
                model = {k: p for k, p in model.items() if p not in set(vals)}
                model.update({k: p for k, p in rows})
            elif kind == "mor_merge":
                if not t.versions():
                    continue
                rows = [(k, HOSTILE[i]) for k, i in dict(arg).items()]
                t.commit_merge_on_read(df_of(rows), key="k")
                model.update({k: p for k, p in rows})
            elif kind == "delete_p":
                if not t.versions():
                    continue
                hv = HOSTILE[arg]
                files_before = set(t.files())
                t.commit_delete(spark, F.col("p") == hv)
                model = {k: p for k, p in model.items() if p != hv}
                assert set(t.files()) == files_before  # zero rewrite
            elif kind == "optimize":
                if t.versions():
                    t.commit_compact_small(spark, threshold_bytes=1 << 30)

        if not t.versions():
            return
        got = {r["k"]: r["p"] for r in t.read(spark).collect()}
        assert got == model, (ops, got, model)
        # per-value live accounting through the metadata tables (manifest
        # tags + DV paths, both escaping-sensitive)
        import json as _json
        want: dict[str, int] = {}
        for p in model.values():
            want[p] = want.get(p, 0) + 1
        pmeta = t.partitions_table(spark).collect()
        got_counts: dict[str, int] = {}
        for r in pmeta:
            if r["partitions"] is None:
                pv = None  # MoR update files land flat
            else:
                pv = _json.loads(r["partitions"])["p"]
            live = r["n_rows"] - r["n_dead_rows"]
            if pv is not None and live:
                got_counts[pv] = got_counts.get(pv, 0) + live
        flat_live = sum(
            r["n_rows"] - r["n_dead_rows"] for r in pmeta if r["partitions"] is None
        )
        assert sum(got_counts.values()) + flat_live == len(model), (ops, pmeta)
        for pv, n in got_counts.items():
            assert want.get(pv, 0) >= n, (ops, pv, got_counts, want)
        # raw-value probe: every live value routes to at least one file
        for pv in set(model.values()):
            probe = t.pruned_entries(partitions={"p": pv})
            flat = [e for e in t._manifest(t.versions()[-1])["files"]
                    if "partitions" not in e]
            assert probe or flat, (ops, pv)

    run()

def test_snapshot_tags_pin_versions_and_survive_vacuum(spark, tmp_path):
    """Iceberg-refs tags: immutable named version pins.  A tagged version
    — and its files — survives vacuum(keep_last=1) even when every
    untagged older version expires; reads by resolve_tag stay
    bit-identical across later mutations; tag protection may leave GAPS
    in the surviving version sequence, so survivors whose parent expired
    must be re-checkpointed (the delta-chain repair) and still read
    correctly; delete_tag releases the version to the next vacuum."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tags"))
    t.commit_append(spark.range(10).select(F.col("id").alias("k")))        # v1
    t.tag("train-v1")
    assert t.resolve_tag("train-v1") == 1
    t.commit_append(spark.range(10, 15).select(F.col("id").alias("k")))   # v2
    t.commit_delete(spark, "k < 3")                                        # v3
    t.commit_append(spark.range(15, 18).select(F.col("id").alias("k")))  # v4
    t.commit_append(spark.range(18, 20).select(F.col("id").alias("k")))  # v5
    # tags are immutable; unknown versions refused
    with pytest.raises(ValueError, match="immutable"):
        t.tag("train-v1", 2)
    with pytest.raises(ValueError, match="does not exist"):
        t.tag("nope", 99)
    # v1 pinned read BEFORE vacuum
    assert t.read(spark, t.resolve_tag("train-v1")).count() == 10
    res = t.vacuum(keep_last=1)
    # v1 survives (tagged), v2..v4 expired, v5 survives (keep_last)
    assert t.versions() == [1, 5]
    assert res["expired_versions"] == [2, 3, 4]
    # the gap: v5 was a delta on v4 — must have been checkpointed
    assert "files" in t._raw_manifest(5)
    assert t.read(spark, 1).count() == 10          # tag-pinned, bit-stable
    assert t.read(spark, 5).count() == 17          # 15 - 3 dead + 3 + 2
    # metadata tables work on the pinned version too
    f1 = t.files_table(spark, version=t.resolve_tag("train-v1")).collect()
    assert sum(r["n_rows"] for r in f1) == 10
    # release the tag: the next vacuum collects v1
    t.delete_tag("train-v1")
    with pytest.raises(ValueError, match="no tag"):
        t.resolve_tag("train-v1")
    t.vacuum(keep_last=1)
    assert t.versions() == [5]
    with pytest.raises(Exception):
        t.read(spark, 1).count()
    assert t.read(spark).count() == 17


def test_snapshot_multiple_tags_and_gap_chains(spark, tmp_path):
    """Two tags create two surviving runs with gaps on both sides; every
    run-lowest delta is re-checkpointed and all pinned reads resolve."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "tags2"))
    counts = {}
    for i in range(8):  # v1..v8, each +5 rows
        t.commit_append(
            spark.range(i * 5, i * 5 + 5).select(F.col("id").alias("k"))
        )
        counts[i + 1] = (i + 1) * 5
    t.tag("a", 2)
    t.tag("b", 5)
    t.vacuum(keep_last=2)
    assert t.versions() == [2, 5, 7, 8]
    for v in t.versions():
        assert t.read(spark, v).count() == counts[v]
    # refs listing is stable
    assert t.tags() == {"a": 2, "b": 5}


def test_merge_write_as_probe_leaves_no_orphans(spark, tmp_path):
    """The CoW merge's survivor rewrite and DV trim use the write itself as
    the emptiness probe (footer row count): a fully-matched file's empty
    survivor write and an empty DV trim must clean up after themselves —
    every parquet on disk is referenced by SOME manifest version (nothing
    for vacuum to chase), and the live manifest carries no 0-row files."""
    import glob
    import os

    import pyarrow.parquet as pq

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap"))
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr(
        "id AS k", "cast(id * 10 as double) AS v"
    )
    t.commit_append(mk(0, 100), n_files=1, stats_cols=["k"])    # file A
    t.commit_append(mk(100, 200), n_files=1, stats_cols=["k"])  # file B
    # MoR delete marks rows ONLY in file B -> after the merge below fully
    # rewrites B, the DV trim's surviving frame is empty
    t.commit_delete(spark, "k >= 190")
    # merge matches ALL of B (fully-matched: disappears) + new keys
    upd = spark.range(100, 210).selectExpr("id AS k", "cast(-1.0 as double) AS v")
    v = t.commit_merge(upd, key="k", n_new_files=1, stats_cols=["k"])

    rows = {r.k: r.v for r in t.read(spark, v).collect()}
    assert len(rows) == 210 and rows[0] == 0.0 and rows[150] == -1.0

    # every data file on disk belongs to some manifest version (the empty
    # survivor write was removed, not leaked)
    on_disk = set(glob.glob(os.path.join(t.data_dir, "**", "*.parquet"), recursive=True))
    referenced = {p for ver in t.versions() for p in t.files(ver)}
    assert on_disk == referenced
    # the live manifest has no 0-row file, and no empty DV survived the trim
    m = t._manifest(v)
    assert all(pq.ParquetFile(e["path"]).metadata.num_rows > 0 for e in m["files"])
    assert m.get("delete_files", []) == []
    dvs_on_disk = glob.glob(os.path.join(t.delete_dir, "*.parquet"))
    # any DV still on disk belongs to an OLDER version (time travel), and
    # none of them is empty
    assert all(pq.ParquetFile(f).metadata.num_rows > 0 for f in dvs_on_disk)


@pytest.mark.parametrize(
    "incumbent, kept",
    [
        ("(cast(1.0 as double), 10), (cast(2.0 as double), 20),"
         " (cast('NaN' as double), 30)", {10, 20}),
        ("(cast(10.0 as double), 10), (cast('NaN' as double), 30)", {10}),
    ],
    ids=["1_2_nan", "10_nan"],
)
@pytest.mark.parametrize("verb", ["commit_merge", "commit_merge_on_read"])
def test_snapshot_merge_nan_keyed_rows_replaced_not_duplicated(
    spark, tmp_path, verb, incumbent, kept
):
    """A NaN-keyed float update must REPLACE the NaN-keyed incumbent row.

    Python's min/max silently drop NaN (max(7.0, nan) == 7.0), so a
    footer-stat fold over multiple new files could compute a finite
    [lo, hi] that zone-map-prunes the incumbent NaN file — while Spark's
    join semantics treat NaN = NaN as a match.  Parquet footers order NaN
    greatest (an incumbent {10.0, NaN} records [10.0, NaN]), and so must
    the fold and the pruning comparison: the batch range is then
    [7.0, NaN], which overlaps every file holding a NaN."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "snap_nan"))
    base = spark.sql(f"SELECT * FROM VALUES {incumbent} AS t(k, v)")
    t.commit_append(base, n_files=1, stats_cols=["k"])
    # two update files so the fold actually walks more than one footer,
    # with the NaN row landing apart from the finite keys
    upd = spark.sql(
        "SELECT * FROM VALUES (cast('NaN' as double), 999),"
        " (cast(7.0 as double), 70) AS t(k, v)"
    ).repartition(2, "v")
    v = getattr(t, verb)(upd, key="k", n_new_files=2, stats_cols=["k"])
    rows = t.read(spark, v).collect()
    nan_rows = [r for r in rows if r.k != r.k]  # NaN != NaN in Python
    assert len(nan_rows) == 1, f"NaN row duplicated or lost: {rows}"
    assert nan_rows[0].v == 999
    vals = {r.v for r in rows}
    assert vals == kept | {999, 70}


@pytest.mark.parametrize("dtype", ["decimal(10,2)", "decimal(27,6)"])
@pytest.mark.parametrize("verb", ["commit_merge", "commit_merge_on_read"])
def test_snapshot_decimal_key_merge_and_pruned_read(spark, tmp_path, dtype, verb):
    """Decimal keys merge and prune like the unpruned reference.

    Decimal footer stats used to be rendered as strings and compared
    lexicographically ("10.50" < "9.40"), so a file spanning [9.50, 10.50]
    was skipped by a [9.40, 9.60] probe and a merge appended a second 9.50
    row; precision <= 18 decimals (stored as INT64) failed the footer read
    outright.  Decimal zone maps are exact numbers rounded outward:
    the merge must equal a dict-model upsert, the pruned read the
    unpruned filter, and the probe must skip the carried [20.00, 30.00]
    file."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    def frame(rows):
        return spark.createDataFrame(rows, "k string, v bigint").select(
            F.col("k").cast(dtype).alias("k"), "v"
        )

    t = SnapshotTable(str(tmp_path / "snap_dec"))
    model = {}
    for rows in ([("1.00", 1), ("2.00", 2)], [("9.50", 3), ("10.50", 4)],
                 [("20.00", 5), ("30.00", 6)]):
        t.commit_append(frame(rows), n_files=1, stats_cols=["k"])
        model.update({Decimal(k): v for k, v in rows})
    (far_file,) = set(t.files()) - set(t.files(t.versions()[-2]))
    upd = [("9.50", 30), ("2.00", 20), ("40.00", 7)]
    v = getattr(t, verb)(frame(upd), key="k", n_new_files=1, stats_cols=["k"])
    model.update({Decimal(k): v for k, v in upd})

    rows = t.read(spark, v).collect()
    assert len(rows) == len(model), f"duplicate or lost key: {rows}"
    assert {r.k: r.v for r in rows} == model

    lo, hi = Decimal("9.40"), Decimal("9.60")
    probe = F.col("k").between(F.lit(lo).cast(dtype), F.lit(hi).cast(dtype))
    pruned = t.read_pruned(spark, col="k", lo=lo, hi=hi, version=v).where(probe)
    full = t.read(spark, v).where(probe)
    assert sorted(pruned.collect()) == sorted(full.collect()) == [(Decimal("9.50"), 30)]
    assert far_file in t.files(v)
    assert far_file not in t.pruned_files(col="k", lo=9.40, hi=9.60, version=v)


@pytest.mark.parametrize(
    "dtype",
    ["int", "bigint", "double", "decimal(10,2)", "decimal(27,6)", "string",
     "date", "timestamp", "timestamp_ntz"],
)
def test_snapshot_zone_maps_and_merges_match_unpruned_model(spark, tmp_path, dtype):
    """Differential test of zone maps and both merge verbs, per key type.

    Each example appends random keys as three files (nulls and the type's
    edge values mixed in: NaN, +-0.0, +-inf for double), upserts a batch
    with ``commit_merge_on_read`` and another with ``commit_merge`` (keys
    drawn partly from the table, two new files each, so the key range
    folds over several footers), and checks:

    - each merge equals a model upsert: an incumbent row survives unless
      a batch row has its key under Spark's join equality (NULL matches
      nothing, NaN matches NaN, -0.0 matches 0.0);
    - ``read_pruned`` plus the filter equals the unpruned filter, for a
      point probe on every key in the table (every zone-map boundary is
      one) and for ranges between them.  Probes that prune to the same
      file set share one ``read_pruned`` scan.

    ``timestamp`` is written as INT96, which has no footer stats, so its
    files must never be pruned."""
    import datetime
    import functools
    import itertools
    import os
    from collections import defaultdict
    from decimal import Decimal

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    inf = float("inf")
    day = (datetime.date(1900, 1, 1), datetime.date(2100, 12, 31))
    instant = (datetime.datetime(1900, 1, 1), datetime.datetime(2100, 12, 31))
    base, edges = {
        "int": (st.integers(-(2**31), 2**31 - 1), [-(2**31), 0, 2**31 - 1]),
        "bigint": (st.integers(-(2**63), 2**63 - 1), [-(2**63), 2**63 - 1]),
        "double": (st.floats(), [float("nan"), 0.0, -0.0, inf, -inf]),
        "decimal(10,2)": (
            st.decimals("-99999999.99", "99999999.99", places=2),
            [Decimal("-0.01"), Decimal("9.50")],
        ),
        "decimal(27,6)": (
            st.decimals("-999999999999999999999.999999",
                        "999999999999999999999.999999", places=6),
            [Decimal("123456789012345678.000001"), Decimal("10.500000")],
        ),
        "string": (
            st.text(st.characters(blacklist_categories=("Cs",)), max_size=4),
            ["", "a", "é", "\U0001f600"],
        ),
        "date": (st.dates(*day), [day[0]]),
        "timestamp": (st.datetimes(*instant), [instant[0]]),
        "timestamp_ntz": (
            st.datetimes(*instant), [datetime.datetime(2024, 1, 1, 0, 0, 0, 1)]
        ),
    }[dtype]
    # edges first: the simplest example Hypothesis always runs is then
    # an all-NULL table, not a lone 0
    keys = st.one_of(st.sampled_from([None, *edges]), base)

    def text(k):
        # dates, timestamps and decimals travel as text and are cast by
        # Spark: exact, and free of the Python process's time zone
        if isinstance(k, Decimal):
            return format(k, "f")
        return k if k is None or isinstance(k, (str, float)) else str(k)

    def frame(rows, names=("k",)):
        """rows of (*keys, id): the ``names`` columns typed dtype, then v."""
        if dtype in ("double", "string"):
            return spark.createDataFrame(
                rows, ", ".join(f"{n} {dtype}" for n in names) + ", v bigint"
            )
        return spark.createDataFrame(
            [(*map(text, r[:-1]), r[-1]) for r in rows],
            ", ".join(f"{n} string" for n in names) + ", v bigint",
        ).select(*[F.col(n).cast(dtype).alias(n) for n in names], "v")

    def norm(k):
        # Spark's join equality as a dict key
        if isinstance(k, float) and k != k:
            return "NaN"
        return 0.0 if isinstance(k, float) and k == 0 else k

    def live(t, v):
        rows = t.read(spark, v).collect()
        assert len(rows) == len({r.v for r in rows}), "a row is live twice"
        return rows

    case_n = itertools.count()

    @settings(
        max_examples=2,
        deadline=None,
        suppress_health_check=[
            HealthCheck.function_scoped_fixture, HealthCheck.too_slow
        ],
    )
    @given(data=st.data())
    def run(data):
        t = SnapshotTable(os.path.join(str(tmp_path), f"zm_{next(case_n)}"))
        ids = itertools.count()
        drawn = data.draw(st.lists(keys, min_size=1, max_size=9))
        rows = [(k, next(ids)) for k in drawn]
        t.commit_append(frame(rows), n_files=3, stats_cols=["k"])
        model = {v: norm(k) for k, v in rows}  # row id -> join-normalized key
        seen = [k for k, _ in rows if k is not None]
        for verb in ("commit_merge_on_read", "commit_merge"):
            batch = {}
            for k in data.draw(st.lists(
                st.one_of(keys, st.sampled_from(seen)) if seen else keys,
                min_size=1, max_size=4,
            )):
                batch.setdefault(norm(k), k)  # updates are unique on the key
            upd = [(k, next(ids)) for k in batch.values()]
            v = getattr(t, verb)(frame(upd), key="k", n_new_files=2, stats_cols=["k"])
            hit = {nk for nk in batch if nk is not None}
            model = {i: nk for i, nk in model.items() if nk is None or nk not in hit}
            model.update({i: norm(k) for k, i in upd})
            table_rows = live(t, v)
            assert {r.v for r in table_rows} == set(model), verb

        points = list(dict.fromkeys(r.k for r in table_rows if r.k is not None))
        if not points:
            return
        point = st.sampled_from(points)
        probes = [(k, k) for k in points] + data.draw(
            st.lists(st.tuples(point, point), max_size=3)
        )
        table = frame(
            [(lo, hi, i) for i, (lo, hi) in enumerate(probes)], names=("lo", "hi")
        ).withColumnRenamed("v", "probe")

        def matches(df, group):
            p = table.where(F.col("probe").isin(group))
            return df.join(p, F.col("k").between(p.lo, p.hi)).select("probe", "v")

        by_files = defaultdict(list)
        for i, (lo, hi) in enumerate(probes):
            by_files[tuple(t.pruned_files(col="k", lo=lo, hi=hi))].append(i)
        if dtype == "timestamp":
            assert list(by_files) == [tuple(t.files())]
        pruned = functools.reduce(
            lambda a, b: a.unionByName(b),
            [
                matches(t.read_pruned(spark, "k", *probes[g[0]]), g)
                for g in by_files.values()
            ],
        )
        full = matches(t.read(spark), list(range(len(probes))))
        assert sorted(pruned.collect()) == sorted(full.collect())

    run()
