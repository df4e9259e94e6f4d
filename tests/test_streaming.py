"""Streaming tests: batch-parity for the windowed agg, keyed state totals."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_homed_spark.sources.tables import load_table
from bigdata_homed_spark.streaming.jobs import (
    hourly_event_counts,
    online_user_state,
    read_events_stream,
    run_stream_to_memory,
)


def test_kafka_stream_options_wiring():
    """S6: the Kafka option dict must use Spark's exact kafka-source option
    names (a typo here fails only at runtime against a real broker, so pin
    it)."""
    from bigdata_homed_spark.streaming.jobs import kafka_stream_options

    opts = kafka_stream_options("b1:9092,b2:9092", "runlog,boxlog")
    assert opts == {
        "kafka.bootstrap.servers": "b1:9092,b2:9092",
        "subscribe": "runlog,boxlog",
        "startingOffsets": "latest",
        "failOnDataLoss": "false",
    }
    assert (
        kafka_stream_options("b", "t", starting_offsets="earliest")[
            "startingOffsets"
        ]
        == "earliest"
    )


def test_kafka_pipeline_contract(spark, sf_dir):
    """S6 contract, brokerless: (a) the downstream transform runs end-to-end
    against Kafka's EXACT source schema (the part a typo would silently
    break); (b) building the real `readStream.format("kafka")` pipeline
    either analyzes fine (jar present: explain must succeed) or fails at
    provider lookup and nowhere else — proving options/wiring are valid up
    to the missing artifact."""
    import pytest

    from bigdata_homed_spark.streaming.jobs import (
        KAFKA_SOURCE_SCHEMA,
        kafka_transform,
        read_kafka_stream,
    )

    # (a) transform against the pinned kafka record shape, batch-side
    rows = [
        (None, b'{"event_id": 1}', "runlog", 0, 0, None, 0),
        (b"k", b'{"event_id": 2}', "runlog", 1, 5, None, 0),
    ]
    raw = spark.createDataFrame(rows, KAFKA_SOURCE_SCHEMA)
    out = kafka_transform(raw)
    assert out.columns == ["event_time", "line"]
    got = {r.line for r in out.collect()}
    assert got == {'{"event_id": 1}', '{"event_id": 2}'}
    # value arrives as binary and must decode to utf-8 text, not repr bytes
    assert all(not line.startswith("bytearray") for line in got)

    # (b) the real source: full analysis with the jar, provider-lookup
    # failure (and ONLY that) without it
    try:
        df = read_kafka_stream(spark, "localhost:9092", "runlog")
    except Exception as e:  # noqa: BLE001
        # jar absent (this container): the SUPPORTED ingestion contract is
        # the oracle-checked file-replay path (streaming/jobs.py
        # read_events_stream — same transform, same schema); this branch
        # PASSES by proving the options reached Spark's provider lookup
        # and failed there and ONLY there, i.e. the wiring is complete up
        # to the pluggable source boundary.
        msg = str(e)
        assert "kafka" in msg.lower(), f"failed before provider lookup: {msg}"
        assert "DATA_SOURCE_NOT_FOUND" in msg or "Failed to find" in msg, (
            f"pipeline failed for a non-jar reason: {msg}"
        )
        return
    # jar present: the analyzed plan must expose our transform's columns
    assert df.schema.fieldNames() == ["event_time", "line"]
    assert df.isStreaming


def test_hourly_counts_match_batch(spark, sf_dir):
    stream_out = run_stream_to_memory(
        hourly_event_counts(read_events_stream(spark, sf_dir)), "complete"
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            (F.expr("ts_sec div 3600") * 3600).alias("hour_start"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    s = {(r.hour_start, r.event_type): r.n_events for r in stream_out.collect()}
    b = {(r.hour_start, r.event_type): r.n_events for r in batch.collect()}
    assert s == b


def test_stream_static_join(spark, sf_dir):
    """J9: micro-batch stream joined to a static dim (the reference reloaded
    MySQL dims per batch; Spark joins the static side natively)."""
    ev = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    joined = ev.join(cust, ev["user_id"] + 1 == cust["c_custkey"], "inner")
    agg = joined.groupBy("c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    out = run_stream_to_memory(agg, "complete")
    batch = (
        load_table(spark, sf_dir, "events")
        .join(cust, F.col("user_id") + 1 == F.col("c_custkey"), "inner")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert {(r.c_nationkey, r.n) for r in out.collect()} == {
        (r.c_nationkey, r.n) for r in batch.collect()
    }


def test_stream_watermarked_dedup(spark, sf_dir):
    """T3: dropDuplicates within the watermark — one row per (user, hour)."""
    ev = read_events_stream(spark, sf_dir)
    dedup = (
        ev.withColumn("hour", F.expr("ts_sec div 3600"))
        .withWatermark("event_time", "2 hours")
        .dropDuplicates(["user_id", "hour"])
    )
    out = run_stream_to_memory(dedup, "append")
    batch_n = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.expr("ts_sec div 3600").alias("hour"))
        .distinct()
        .count()
    )
    assert out.count() == batch_n


def test_foreachbatch_upsert_state(spark, sf_dir, tmp_path):
    """T8/S10: a foreachBatch merge-on-read commit maintains a keyed state
    table (the Phoenix-overwrite-by-PK analog) across micro-batches."""
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    table = SnapshotTable(str(tmp_path / "state"))
    ev = read_events_stream(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.max(F.col("ts_sec")).alias("last_seen"),
        F.count(F.lit(1)).alias("n_events"),
    )

    def sink(batch_df, epoch_id):
        table.commit_merge_on_read(batch_df, key="user_id", batch_id=epoch_id)

    q = (
        per_user.writeStream.outputMode("complete")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    state = table.read(spark)
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.max("ts_sec").alias("last_seen"), F.count(F.lit(1)).alias("n_events"))
    )
    assert {(r.user_id, r.last_seen, r.n_events) for r in state.collect()} == {
        (r.user_id, r.last_seen, r.n_events) for r in batch.collect()
    }


def test_state_accumulates_across_microbatches(spark, sf_dir, tmp_path):
    """T4 contract: keyed state survives micro-batch boundaries AND idle
    state is aged out by the event-time timeout.  Split the events into two
    time-ordered files (how a real stream arrives), force one file per
    trigger, and check the FINAL emitted totals equal the batch aggregate
    over everything."""
    import os

    src = os.path.join(str(tmp_path), "multi_batch_src")
    ev = load_table(spark, sf_dir, "events")
    # two time-ordered halves, written as separate files (the file source
    # triggers them oldest-mtime-first, replaying the month in order)
    mid = 1705363200  # 2024-01-16
    ev.where(F.col("ts_sec") < mid).coalesce(1).write.parquet(src)
    ev.where(F.col("ts_sec") >= mid).coalesce(1).write.mode("append").parquet(src)

    from bigdata_homed_spark.streaming.jobs import EVENTS_STREAM_SCHEMA

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .withColumn("event_time", F.col("ts").cast("timestamp"))
        .withColumn("ts_sec", F.col("event_time").cast("long"))
    )
    out = run_stream_to_memory(online_user_state(stream), "update")
    # multiple rows per user (one per batch + expiry) — keep final totals
    final = out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    got = {r.user_id: r.n_events for r in final.collect()}
    want = {r.user_id: r.n_events for r in batch.collect()}
    assert got == want
    # and the stream really ran >1 micro-batch: some user emitted twice
    emits = out.groupBy("user_id").count().agg(F.max("count")).collect()[0][0]
    assert emits >= 2
    # expiry fired: without timeouts every user emits once per data batch
    # it appears in; the final no-data batch advances the watermark to
    # end-of-stream and each expired key emits one extra final snapshot
    halves = ev.select(
        "user_id", (F.col("ts_sec") >= mid).cast("int").alias("half")
    ).distinct()
    baseline = halves.count()  # sum over users of batches-appeared-in
    assert out.count() > baseline, "no expiry snapshots were emitted"


def test_online_user_state_totals(spark, sf_dir):
    out = run_stream_to_memory(
        online_user_state(read_events_stream(spark, sf_dir)), "update"
    )
    # state emits one row per (user, batch); the final row per user carries
    # the running totals — with availableNow over one file there is one batch
    latest = out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("last_seen_sec").alias("last_seen")
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts_sec").alias("last_seen"))
    )
    s = {r.user_id: (r.n_events, r.last_seen) for r in latest.collect()}
    b = {r.user_id: (r.n_events, r.last_seen) for r in batch.collect()}
    assert s == b


def test_incremental_dedup_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: re-running the SAME (batch_df,
    batch_id) must commit no version and leave the folded index identical
    (no n_copies double-count), while a NEW batch id still folds in."""
    from bigdata_homed_spark.plans.streaming_queries import (
        dedup_commit_batch,
        dedup_fold,
    )
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    store = SnapshotTable(str(tmp_path / "idx"))
    b0 = spark.createDataFrame(
        [(1, "alpha", "s1"), (2, "alpha", "s1"), (3, "beta", "s2")],
        "doc_id bigint, text string, source string",
    )
    dedup_commit_batch(store, b0, 0)

    def snapshot():
        return sorted(
            (r["text_hash"], r["keeper_id"], r["n_copies"])
            for r in dedup_fold(store.read(spark)).collect()
        )

    after_b0 = snapshot()
    assert [c for _, _, c in after_b0] == [2, 1]

    # replay of batch 0 (same id): no version, and a per-row no-op
    n_versions = len(store.versions())
    dedup_commit_batch(store, b0, 0)
    assert len(store.versions()) == n_versions
    assert snapshot() == after_b0

    # a genuinely new batch still folds in (alpha gains a copy, gamma appears)
    b1 = spark.createDataFrame(
        [(4, "alpha", "s1"), (5, "gamma", "s3")],
        "doc_id bigint, text string, source string",
    )
    dedup_commit_batch(store, b1, 1)
    after_b1 = snapshot()
    copies = {h: c for h, _, c in after_b1}
    assert sorted(copies.values()) == [1, 1, 3]

    # and replaying batch 1 changes nothing
    n_versions = len(store.versions())
    dedup_commit_batch(store, b1, 1)
    assert len(store.versions()) == n_versions
    assert snapshot() == after_b1


def test_channel_live_split_independent(spark, sf_dir):
    """The ChannelLiveByRunLogRealTime analog's snapshot merge is global
    keep-latest per user, so the report must not depend on how the replay
    is split into micro-batches (1 batch == pure batch semantics)."""
    from bigdata_homed_spark.plans.streaming_queries import (
        stream_channel_live_counts,
    )

    def rows(n):
        out = stream_channel_live_counts(spark, sf_dir, n_batches=n)
        return sorted(
            tuple(r) for r in out.collect()
        )

    one = rows(1)
    four = rows(4)
    assert one == four
    assert len(one) > 0
    # rollup rows (channel -1) must re-aggregate the channel rows exactly
    by_key = {}
    for (d, h, tr, reg, term, ch, users, pt) in one:
        if ch != -1:
            k = (d, h, tr, reg, term)
            u0, p0 = by_key.get(k, (0, 0.0))
            by_key[k] = (u0 + users, p0 + pt)
    for (d, h, tr, reg, term, ch, users, pt) in one:
        if ch == -1:
            u, p = by_key[(d, h, tr, reg, term)]
            assert users == u
            assert abs(p - pt) < 1e-6


def test_kafka_provider_selection_both_ways(spark, sf_dir):
    """The feature-probe selection logic, pinned both ways without a jar:
    (a) jar absent (this container, real probe): asking for brokers fails
    LOUDLY naming the missing artifact — never a silent fallback; (b) jar
    present (mocked probe): the same call routes into the real
    readStream.format("kafka") pipeline, proving a cluster that ships the
    connector runs the identical job against a broker with zero code
    change; (c) no brokers: the deterministic replay source, same
    downstream schema."""
    import pytest

    from bigdata_homed_spark.streaming.jobs import (
        KAFKA_PROVIDER_CLASS,
        kafka_available,
        read_line_stream,
    )

    # (a) the real probe, classpath-conditional (no rot if a jar ever
    # lands): jar absent -> loud failure naming the artifact; jar
    # present -> the call must route into the real kafka source and
    # analyze (broker unreachability only surfaces at stream start)
    if not kafka_available(spark):
        with pytest.raises(RuntimeError, match="connector jar"):
            read_line_stream(spark, brokers="broker:9092", topics="runlog")
    else:
        read_line_stream(spark, brokers="broker:9092", topics="runlog").explain()

    # (b) probe mocked to jar-present: selection routes to the kafka
    # branch — it must get past our code and fail only at Spark's
    # provider lookup (or analyze fine if a jar ever appears)
    try:
        df = read_line_stream(
            spark, brokers="broker:9092", topics="runlog",
            _kafka_probe=lambda s: True,
        )
        df.explain()  # jar actually present: analysis must succeed
    except Exception as e:  # noqa: BLE001
        msg = str(e)
        assert "connector jar" not in msg, "selection failed before the source"
        assert "kafka" in msg.lower(), f"failed before provider lookup: {msg}"

    # (c) replay path: same event_time/ts_sec contract as the batch catalog
    replay = read_line_stream(spark, sf_dir=sf_dir)
    assert {"event_time", "ts_sec"} <= set(replay.columns)
    assert replay.isStreaming
    # and the probe class name is the real provider (typo guard)
    assert KAFKA_PROVIDER_CLASS.endswith("KafkaSourceProvider")


def test_ivm_fold_retraction_and_zero_group_state(spark, tmp_path):
    """The additive IVM fold: a retraction cancels its insert bit-exactly
    (decimal path), a fully-retracted group folds to a zero-count row that
    only the view drops, and a replayed batch folds nothing."""
    from bigdata_homed_spark.plans.streaming_queries import (
        ivm_commit_batch,
        ivm_fold,
        ivm_view,
    )
    from bigdata_homed_spark.sources.snapshots import SnapshotTable

    t = SnapshotTable(str(tmp_path / "ivm"))

    def commit(rows, batch_id):
        batch = spark.createDataFrame(
            [(i, *r) for i, r in enumerate(rows)],
            "seq bigint, event_type string, value double, sign int",
        )
        ivm_commit_batch(t, batch, batch_id)

    commit([("a", 0.1, 1), ("a", 0.2, 1), ("b", 7.75, 1)], 0)
    commit([("a", 0.1, -1), ("b", 1.0, 1)], 1)   # retract one 'a' insert
    commit([("b", 7.75, -1), ("b", 1.0, -1)], 2)  # drive 'b' to zero

    folded = {r["event_type"]: r for r in ivm_fold(t.read(spark)).collect()}
    # zero-count group kept by the fold ...
    assert folded["b"]["n_live"] == 0 and float(folded["b"]["s_live"]) == 0.0
    # ... and the decimal retraction cancelled the insert exactly
    assert folded["a"]["n_live"] == 1 and float(folded["a"]["s_live"]) == 0.2
    # ... and only the view drops it
    view = {r["event_type"]: r["n_live"] for r in ivm_view(spark, t).collect()}
    assert view == {"a": 1}

    # replayed batch folds nothing (no extra version, no double subtract)
    n_versions = len(t.versions())
    commit([("a", 0.2, -1)], 1)
    assert len(t.versions()) == n_versions
    assert {r["event_type"]: r["n_live"] for r in ivm_fold(t.read(spark)).collect()}["a"] == 1

    # a new batch id still folds in
    commit([("a", 0.2, -1), ("c", 3.5, 1)], 3)
    view = {r["event_type"]: r["n_live"] for r in ivm_view(spark, t).collect()}
    assert view == {"c": 1}


def test_kafka_probe_decision_matches_classpath(spark, monkeypatch):
    """CI-style wiring guard (r7 verdict task 8): the provider probe's
    decision must EQUAL ground-truth classpath loadability — pinned on
    both branches by pointing the probe at (a) a class every Spark distro
    ships (present) and (b) a class that cannot exist (absent), plus the
    real connector class against an independent Class.forName.  If this
    sandbox ever gains the spark-sql-kafka jar, the probe lights up
    automatically and this test keeps passing — the wiring cannot rot
    silently in either direction."""
    from bigdata_homed_spark.streaming import jobs

    def loadable(name: str) -> bool:
        try:
            spark._jvm.java.lang.Class.forName(name)
            return True
        except Exception:
            return False

    # ground truth for the REAL provider class (today: absent in sandbox,
    # but the assertion is equality, not a hardcoded False)
    assert jobs.kafka_available(spark) == loadable(jobs.KAFKA_PROVIDER_CLASS)

    # jar-present branch: a class guaranteed on every Spark classpath
    monkeypatch.setattr(
        jobs, "KAFKA_PROVIDER_CLASS", "org.apache.spark.sql.SparkSession"
    )
    assert jobs.kafka_available(spark) is True

    # jar-absent branch: a class that cannot exist
    monkeypatch.setattr(
        jobs, "KAFKA_PROVIDER_CLASS", "org.no.such.provider.Nowhere"
    )
    assert jobs.kafka_available(spark) is False


def test_stream_kmv_merge_is_idempotent_and_order_free(spark, sf_dir):
    """The property that makes the streaming KMV job replay-safe WITHOUT
    batch-id dedup: sketch union is idempotent and commutative, so
    replaying a batch or permuting batch order converges to the same
    sketch — and that sketch equals the batch query's."""
    from pyspark.sql import functions as F

    from bigdata_homed_spark.plans.analysis_queries import (
        KMV_K,
        SEG_A_SQL,
        _h40,
        kmv_audience_overlap,
    )
    from bigdata_homed_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    hashes = sorted(
        r["h"]
        for r in ev.where(F.expr(SEG_A_SQL))
        .select(_h40(F.col("user_id")).alias("h"))
        .distinct()
        .collect()
    )
    # simulate 3 batches, then replay batch 1 and apply everything reversed
    batches = [hashes[0::3], hashes[1::3], hashes[2::3]]

    def run(seq):
        state: list[int] = []
        for b in seq:
            topk = sorted(b)[:KMV_K]
            state = sorted(set(state) | set(topk))[:KMV_K]
        return state

    forward = run(batches)
    replayed = run(batches + [batches[0]])
    reordered = run(batches[::-1])
    assert forward == replayed == reordered == sorted(hashes)[:KMV_K]
    # and the streaming job's sketch columns equal the batch query's
    from bigdata_homed_spark.plans.streaming_queries import stream_kmv_sketch_merge

    batch_row = kmv_audience_overlap(spark, sf_dir).collect()[0]
    stream_row = stream_kmv_sketch_merge(spark, sf_dir).collect()[0]
    for c in ("k", "n_sketch_a", "n_sketch_b", "theta", "n_inter_sketch",
              "est_a", "est_b", "est_inter"):
        assert stream_row[c] == batch_row[c], c


def test_stream_state_partition_sizing(spark):
    """Stateful stream partition count derives from recorded source bytes:
    ceil(bytes / target), floor 1, None when no source was recorded, and
    the env knob rescales the target (the 100 TB contract — partitions
    follow the data, never a local constant)."""
    import importlib

    from bigdata_homed_spark.streaming import jobs

    conf_key = jobs._SOURCE_BYTES_CONF
    prev = spark.conf.get(conf_key, None)
    try:
        spark.conf.unset(conf_key)
        assert jobs.stream_state_partitions(spark) is None
        target = jobs.STREAM_STATE_TARGET_BYTES
        jobs._record_source_bytes(spark, 1)  # tiny source -> 1 partition
        assert jobs.stream_state_partitions(spark) == 1
        jobs._record_source_bytes(spark, target)  # exactly one target unit
        assert jobs.stream_state_partitions(spark) == 1
        jobs._record_source_bytes(spark, target + 1)  # ceil, not floor
        assert jobs.stream_state_partitions(spark) == 2
        # a 100 TB topic yields thousands of partitions, uncapped
        jobs._record_source_bytes(spark, 100 * (1 << 40))
        assert jobs.stream_state_partitions(spark) == -(-100 * (1 << 40) // target)
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)
        else:
            spark.conf.unset(conf_key)
    # env override rescales the target on module reload
    import os

    old = os.environ.get("SPARK_GRAFT_STREAM_TARGET_BYTES")
    try:
        os.environ["SPARK_GRAFT_STREAM_TARGET_BYTES"] = str(1 << 20)
        importlib.reload(jobs)
        assert jobs.STREAM_STATE_TARGET_BYTES == 1 << 20
    finally:
        if old is None:
            os.environ.pop("SPARK_GRAFT_STREAM_TARGET_BYTES", None)
        else:
            os.environ["SPARK_GRAFT_STREAM_TARGET_BYTES"] = old
        importlib.reload(jobs)
