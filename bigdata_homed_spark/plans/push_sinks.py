"""Push-sink roundtrips (SURVEY §2.1 S11/S12 executed, S14/S15 tested).

The reference's outbound sinks — Redis rank lists, HBase cell Puts, HTTP
recommender push, local report files — target servers that cannot exist
in this container, so `sources/external_sinks.py` makes the TRANSPORT
injectable and these queries drive the full Spark-side pipeline through
the file-backed client: encode → executor-side publish → read the
"database" back → decode → oracle-check against plain SQL over the same
inputs.  A value surviving the encode→publish→read→decode cycle
byte-exact is what a correctness gate can say about a push sink.

S14 (HTTP) and S15 (report file) are driver-side by design in the
reference (bounded topN collect + one POST / one PrintWriter) — they are
covered by unit tests with recording fakes rather than a roundtrip query
(there is no row-set to hash), the S5/T4 contract precedent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64_sql
from ..session import session_dir
from ..sources.external_sinks import (
    FileBackedKVClient,
    encode_hbase_cells,
    pack_rank_list_col,
    publish_rank_lists,
    read_kv_records,
    unpack_rank_list_col,
    write_hbase_cells,
)
from ..sources.tables import load_table
from .registry import query

_RANK_TOPN = 10


@query(
    "rank_list_publish_roundtrip",
    oracle=f"""
    WITH c AS (
      SELECT event_type AS rank_key, user_id,
             cast(count(*) as bigint) AS n_events
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT rank_key, user_id, n_events,
             row_number() OVER (PARTITION BY rank_key
                                ORDER BY n_events DESC, user_id) AS pos
      FROM c
    )
    SELECT rank_key, cast(pos as bigint) AS pos, n_events, user_id
    FROM r WHERE pos <= {_RANK_TOPN}
    """,
)
def rank_list_publish_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 end-to-end: the StarRank publish chain
    (`rank/reports/StarRank.scala:113-143`) — per-key topN packed with the
    reference's varint byte format, ``hset`` through the pipelined
    per-partition client, then read back and decoded.  The oracle sees
    the decoded rows, so the varint codec and the publish path are inside
    the hash check.

    Scale: the topN frame is K keys × N rows before the publish — the
    only Python rows are those; counting/ranking is native."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("user_id")
    )
    top = counts.withColumn("pos", F.row_number().over(w)).where(
        F.col("pos") <= _RANK_TOPN
    )
    # pack the per-key list in rank order (sort_array on (pos, …) structs
    # keeps the reference's "reason then pid" pair order)
    lists = top.groupBy("event_type").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "n_events"))),
            lambda s: s["n_events"],
        ).alias("ns"),
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "user_id"))),
            lambda s: s["user_id"],
        ).alias("uids"),
    )
    payloads = lists.select(
        F.col("event_type").alias("rank_key"),
        pack_rank_list_col("ns", "uids").alias("payload"),
    )

    root = session_dir(spark, "rank_publish_")
    publish_rank_lists(payloads, lambda: FileBackedKVClient(root))

    recs = read_kv_records(spark, root).where(
        (F.col("op") == "hset") & (F.col("table") == "t_rank_list")
    )
    dec = recs.select(
        F.col("key").alias("rank_key"),
        unpack_rank_list_col(F.unhex("value_hex")).alias("d"),
    )
    return dec.select(
        "rank_key",
        F.posexplode(F.arrays_zip("d.ns", "d.uids")).alias("pos0", "z"),
    ).select(
        "rank_key",
        (F.col("pos0") + 1).cast("bigint").alias("pos"),
        F.col("z.ns").alias("n_events"),
        F.col("z.uids").alias("user_id"),
    )


_HB_SALT_BUCKETS = 16
_HB_ROWKEY_SQL = (
    f"lpad(cast(({hash64_sql('n_name', 'hbase_salt')} % {_HB_SALT_BUCKETS})"
    " as varchar), 2, '0') || ':' || n_name"
)


@query(
    "hbase_cell_roundtrip",
    oracle=f"""
    WITH agg AS (
      SELECT n.n_name,
             cast(count(*) as bigint) AS n_orders,
             cast(count(distinct c.c_custkey) as bigint) AS n_customers
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY 1
    ),
    keyed AS (SELECT {_HB_ROWKEY_SQL} AS rowkey, n_orders, n_customers FROM agg)
    SELECT rowkey, 'd:n_orders' AS qualifier,
           cast(n_orders as varchar) AS cell FROM keyed
    UNION ALL
    SELECT rowkey, 'd:n_customers' AS qualifier,
           cast(n_customers as varchar) AS cell FROM keyed
    """,
)
def hbase_cell_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 end-to-end: per-nation order stats → salted-rowkey cell encode
    (native expressions, `utils/DBUtils.scala:115-132`'s Put shape) →
    batched executor-side Puts through the file-backed client → cells
    read back.  The salt prefix is the monotonic-rowkey hot-spot fix the
    reference's raw TableOutputFormat write lacked; the oracle recomputes
    it with the portable md5 hash, so the rowkey layout itself is inside
    the hash check."""
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    agg = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.count_distinct("c_custkey").cast("bigint").alias("n_customers"),
        )
    )
    cells = encode_hbase_cells(
        agg,
        rowkey_cols=["n_name"],
        value_cols=["n_orders", "n_customers"],
        cf="d",
        salt_buckets=_HB_SALT_BUCKETS,
    )
    root = session_dir(spark, "hbase_cells_")
    write_hbase_cells(
        cells, lambda: FileBackedKVClient(root), "t_report", n_partitions=4
    )
    recs = read_kv_records(spark, root).where(
        (F.col("op") == "put") & (F.col("table") == "t_report")
    )
    return recs.select(F.col("key").alias("rowkey"), "qualifier", "cell")
