"""Sinks (SURVEY §2.1 S7-S13).

The reference wrote day-partitioned ORC facts via Hive ``insert overwrite
… partition(day)`` (S7/S8, `etl/LogParser.scala:92-101`, `etl/MysqlToHive.
scala:52-54`), report tables via JDBC append/overwrite with ``coalesce(10)``
(S9, `utils/DBUtils.scala:75-112`), and Phoenix upsert-by-PK (S10,
`utils/DBUtils.scala:150-158`).

Here the lake sink is partitioned parquet with *dynamic* partition
overwrite (only the partitions present in the batch are replaced — the
exact semantics of the reference's per-day overwrite, without clobbering
other days), and the JDBC sink is a thin gated wrapper (no database in the
test container).  Upsert-by-PK is ``SnapshotTable.commit_merge_on_read``
(``sources/snapshots.py``), usable from ``foreachBatch`` for streaming
parity.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned_fact(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str] = ("day",),
    mode: str = "overwrite",
    output_files_per_partition: int | None = None,
    fmt: str = "parquet",
) -> None:
    """S7/S8: day-partitioned columnar fact write with dynamic partition
    overwrite.  ``output_files_per_partition`` is the explicit file-count
    control the reference exercised with ``repartition(n)`` before insert
    (74 sites) — at 100 TB you size this so files land near the HDFS/S3
    sweet spot (128-1024 MB), not Spark's shuffle width.  ``fmt`` accepts
    "orc" for byte-level parity with the reference's sink
    (`etl/MysqlToHive.scala:52-54` wrote ORC); parquet is the default
    because the synthetic catalog and oracles read parquet."""
    spark = df.sparkSession
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out = df
    if output_files_per_partition:
        out = df.repartition(output_files_per_partition, *partition_cols)
    out.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    num_partitions: int = 10,
    properties: dict[str, str] | None = None,
) -> None:
    """S9: JDBC report sink.  ``coalesce(num_partitions)`` mirrors the
    reference's fixed write parallelism (DBUtils.scala:108) — JDBC
    connections are the scarce resource, not Spark tasks.  Gated: no
    database exists in the test container."""
    df.coalesce(num_partitions).write.mode(mode).jdbc(
        url, table, properties=properties or {}
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed, bucket-sorted table write (saveAsTable).

    This is the 100 TB co-location strategy the reference never had: two
    facts bucketed on their join key with the same bucket count join with
    ZERO shuffle — each task zips bucket i with bucket i — and, with
    ``sort_cols`` on the key, zero sort too.  At scale this turns the
    nightly fact-fact joins (session × repair, play × behavior) from a
    full-network pass into a local merge.  The same layout serves
    repeated groupBy on the bucket key.  Spark reads it back
    shuffle-free whenever ``spark.sql.sources.bucketing.enabled`` (default
    true) and bucket counts line up."""
    w = df.write.mode(mode).format("parquet").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def compact_small_files(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str] = (),
    target_bytes: int = 128 << 20,
) -> dict[str, int]:
    """Small-file compaction (the OPTIMIZE-style maintenance pass a 100 TB
    lake table needs: streaming micro-batches and per-day overwrites leave
    thousands of KB-sized files whose per-file open/footer cost dominates
    scans).  One distributed pass, no driver loop over partitions: a
    REBALANCE hint with the advisory partition size set to ``target_bytes``
    lets AQE coalesce small shuffle blocks (and split skewed ones) so output
    files land near the target — per partition when ``partition_cols`` keys
    the rebalance.  The rewrite goes to a sibling directory and is swapped
    in atomically-for-readers-on-rename filesystems; on object stores the
    swap step is a table-pointer/manifest update instead (or a txn format's
    commit), the compaction pass itself is unchanged.

    Returns {"files_before": n, "files_after": m}.
    """
    import glob
    import os
    import shutil

    def _count(p: str) -> int:
        return sum(
            1
            for f in glob.glob(os.path.join(p, "**", "*"), recursive=True)
            if os.path.isfile(f) and not os.path.basename(f).startswith(("_", "."))
        )

    before = _count(path)
    df = spark.read.parquet(path)
    conf = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    prev = spark.conf.get(conf, None)
    spark.conf.set(conf, str(target_bytes))
    try:
        out = df.hint("rebalance", *partition_cols) if partition_cols else df.hint("rebalance")
        tmp = path.rstrip("/") + "__compacting"
        swap = path.rstrip("/") + "__old"
        # a previous run that crashed mid-swap can leave either scratch
        # directory behind; os.rename onto a non-empty dir would then fail
        # every subsequent compaction, so clear them up-front (the write
        # below regenerates __compacting; __old is a fully-superseded copy)
        for stale in (tmp, swap):
            if os.path.exists(stale):
                shutil.rmtree(stale)
        writer = out.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*list(partition_cols))
        writer.parquet(tmp)
        os.rename(path, swap)
        try:
            os.rename(tmp, path)
        except BaseException:
            # restore the original table if the swap-in fails — readers
            # must never be left with the table missing
            os.rename(swap, path)
            raise
        shutil.rmtree(swap)
    finally:
        if prev is not None:
            spark.conf.set(conf, prev)
        else:
            spark.conf.unset(conf)
    return {"files_before": before, "files_after": _count(path)}
