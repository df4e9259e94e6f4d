"""Push-sink tests (SURVEY §2.1 S11/S12/S14/S15): the varint rank-list
codec, per-partition pipelined publish, HBase cell encode (native, salted),
HTTP topN push with retries, and the monitor report file."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_homed_spark.sources.external_sinks import (
    FileBackedKVClient,
    encode_hbase_cells,
    pack_rank_list_col,
    publish_rank_lists,
    push_topn_json,
    read_kv_records,
    render_section,
    unpack_rank_list_col,
    varint_bytes,
    varint_decode_all,
    write_report_file,
)


# ---------------------------------------------------------------- varint


def test_varint_reference_format():
    # StarRank.scala:135-143: header = pairs*2, then LEB128 pairs low-7 first
    assert varint_bytes(0) == b"\x00"
    assert varint_bytes(127) == b"\x7f"
    assert varint_bytes(128) == b"\x80\x01"  # low group + continuation
    assert varint_bytes(300) == b"\xac\x02"
    # one pair (1, 2): [2, 1, 2]
    assert varint_bytes(2) + varint_bytes(1) + varint_bytes(2) == b"\x02\x01\x02"


@pytest.mark.parametrize(
    "vals", [[0], [127, 128, 129], [2**31, 2**40 + 17], [0, 1, 2, 3, 4, 5]]
)
def test_varint_roundtrip(vals):
    buf = b"".join(varint_bytes(v) for v in vals)
    assert varint_decode_all(buf) == vals


def test_varint_rejects_negative_and_truncated():
    with pytest.raises(ValueError):
        varint_bytes(-1)
    with pytest.raises(ValueError):
        varint_decode_all(b"\x80")  # continuation bit with no terminator


def test_pack_unpack_columns(spark):
    df = spark.createDataFrame(
        [("a", [3, 2], [10, 20]), ("b", [1000], [2**33])],
        "k string, ns array<bigint>, uids array<bigint>",
    )
    packed = df.select("k", pack_rank_list_col("ns", "uids").alias("p"))
    back = packed.select("k", unpack_rank_list_col("p").alias("d")).select(
        "k", "d.ns", "d.uids"
    )
    got = {r["k"]: (r["ns"], r["uids"]) for r in back.collect()}
    assert got == {"a": ([3, 2], [10, 20]), "b": ([1000], [2**33])}


# ---------------------------------------------------------- S12 publish


def test_publish_pipelined_flushes_and_expire(spark, tmp_path):
    root = str(tmp_path)
    n = 300  # > pipeline_size=128 → multiple flushes within one partition
    df = spark.createDataFrame(
        [(f"k{i:04d}", bytes([i % 250])) for i in range(n)],
        "rank_key string, payload binary",
    ).coalesce(1)
    publish_rank_lists(
        df, lambda: FileBackedKVClient(root, pipeline_size=128), ttl_sec=60
    )
    recs = read_kv_records(spark, root)
    assert recs.where(F.col("op") == "hset").count() == n
    # expire once per non-empty partition (coalesce(1) → exactly one)
    assert recs.where(F.col("op") == "expire").count() == 1
    # one client file per partition
    assert len(os.listdir(root)) == 1


# ------------------------------------------------------ S11 cell encode


def test_encode_hbase_cells_native_and_salted(spark):
    df = spark.createDataFrame(
        [(1, "x", 10, 20), (2, "y", 30, 40)],
        "id bigint, name string, a bigint, b bigint",
    )
    cells = encode_hbase_cells(
        df, rowkey_cols=["id", "name"], value_cols=["a", "b"], cf="d"
    )
    # native row path: no Python evaluation operator in the plan
    plan = cells._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    rows = cells.collect()
    assert len(rows) == 4  # 2 rows × 2 value cols
    for r in rows:
        salt, rest = r["rowkey"].split(":", 1)
        assert len(salt) == 2 and 0 <= int(salt) < 16
        assert rest in ("1|x", "2|y")
        assert r["qualifier"] in ("d:a", "d:b")
    # deterministic: same input → same rowkeys
    assert {r["rowkey"] for r in rows} == {
        r["rowkey"] for r in encode_hbase_cells(
            df, rowkey_cols=["id", "name"], value_cols=["a", "b"], cf="d"
        ).collect()
    }


# ------------------------------------------------------------ S14 HTTP


def test_push_topn_json_retries_then_succeeds(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string")
    calls: list[tuple[str, str]] = []

    def flaky(url, payload):
        calls.append((url, payload))
        return 500 if len(calls) < 3 else 200

    payload = push_topn_json(
        df, "http://rec/schedule", topn=10, poster=flaky, order_cols=["id"]
    )
    assert len(calls) == 3
    assert calls[-1][0] == "http://rec/schedule"
    assert '"id": 1' in payload and '"v": "b"' in payload


def test_push_topn_json_bounds_loudly(spark):
    df = spark.range(100).withColumnRenamed("id", "x")
    with pytest.raises(AssertionError, match="bound the frame"):
        push_topn_json(df, "http://rec", topn=10, poster=lambda u, p: 200)


def test_push_topn_json_default_poster_is_documented_stub(spark):
    df = spark.range(1)
    with pytest.raises(NotImplementedError, match="inject poster"):
        push_topn_json(df, "http://rec", topn=5)


# ----------------------------------------------------- S15 report file


def test_write_report_file_atomic_and_deterministic(spark, sf_dir, tmp_path):
    from bigdata_homed_spark.sources.tables import load_table

    sec = (
        load_table(spark, sf_dir, "region")
        .select("r_regionkey", "r_name")
        .orderBy("r_regionkey")
    )
    body = render_section(sec)
    path = str(tmp_path / "monitor.log")
    content = write_report_file(path, [("regions", body), ("empty", "-")])
    with open(path, encoding="utf-8") as f:
        assert f.read() == content
    assert content.startswith("[regions]\nr_regionkey\tr_name\n0\t")
    assert "[empty]" in content
    # no torn tmp files left behind
    assert os.listdir(os.path.dirname(path)) == ["monitor.log"]


def test_render_section_bounds_loudly(spark):
    with pytest.raises(AssertionError, match="exceeds"):
        render_section(spark.range(50), max_rows=10)
