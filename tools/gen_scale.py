"""Generate a larger benchmark SF by deterministic replication of sf0.1.

The driver ships sf{0.001,0.01,0.1} (read-only).  For the scaling curve
(is any query super-linear?) we need one bigger point; this derives
"sf1" = N copies of the sf0.1 FACTS with shifted keys, dims left as-is
(dims don't grow 10× in real deployments; 10× fact rows per dim key is
exactly the scale pressure we want to measure):

- lineitem/orders: copy i shifts orderkey by i*(max+1); custkey/partkey/
  suppkey stay in the existing dim ranges.
- events: copy i shifts event_id and user_id (+i*(max_user+1) — lands in
  the existing customer key space, which is 10× the sf0.1 user range).
- documents: copy i shifts doc_id; copy 0 keeps the original text, copies
  i>0 apply a deterministic stride permutation to the token sequence so
  texts are NOT trivial duplicates (token/length distributions preserved,
  3-gram shingle sets decorrelated — otherwise every dedup query would
  see a degenerate 90% exact-dup corpus).
- embeddings: copy i shifts vec_id; labels unchanged (10× vectors/label).

Output: .localdata/sf1/*.parquet in the checkout (gitignored).
Usage: python tools/gen_scale.py [n_copies=10] [dst_dir=.localdata/sf1]
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
# default output; pass a second arg to derive bigger points (e.g.
# `gen_scale.py 30 .localdata/sf3` for the 30-copy decade)
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata", "sf1"
)
DIMS = ("region", "nation", "customer", "supplier", "part")


def stride_permute(text: str, copy: int) -> str:
    toks = text.split(" ")
    n = len(toks)
    if n < 3:
        return f"c{copy} " + text
    # stride coprime with n AND ≥2 (k=1 is the identity — the original
    # `(2c+3)%n or 1` collapsed to it whenever 2c+3 ≡ 0/1 mod n, silently
    # producing exact duplicates); n-1 is always coprime, so the walk
    # terminates.  A copy-dependent rotation offset keeps copies distinct
    # even when they land on the same stride.
    from math import gcd

    k = (2 * copy + 3) % n
    if k < 2:
        k = 2
    while gcd(k, n) != 1:
        k = k + 1 if k + 1 < n else 2
    return " ".join(toks[(i * k + copy) % n] for i in range(n))


def main() -> None:
    global DST
    n_copies = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    if len(sys.argv) > 2:
        DST = sys.argv[2]
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    con.create_function("stride_permute", stride_permute)
    copies = f"(SELECT unnest(range({n_copies})) AS i) c"

    for t in DIMS:
        con.sql(
            f"COPY (SELECT * FROM '{SRC}/{t}.parquet') TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )

    mo = con.sql(f"SELECT max(o_orderkey)+1 FROM '{SRC}/orders.parquet'").fetchone()[0]
    con.sql(
        f"""COPY (SELECT * REPLACE (o_orderkey + c.i*{mo} AS o_orderkey)
                  FROM '{SRC}/orders.parquet', {copies})
            TO '{DST}/orders.parquet' (FORMAT PARQUET)"""
    )
    con.sql(
        f"""COPY (SELECT * REPLACE (l_orderkey + c.i*{mo} AS l_orderkey)
                  FROM '{SRC}/lineitem.parquet', {copies})
            TO '{DST}/lineitem.parquet' (FORMAT PARQUET)"""
    )

    me = con.sql(f"SELECT max(event_id)+1 FROM '{SRC}/events.parquet'").fetchone()[0]
    mu = con.sql(f"SELECT max(user_id)+1 FROM '{SRC}/events.parquet'").fetchone()[0]
    con.sql(
        f"""COPY (SELECT * REPLACE (event_id + c.i*{me} AS event_id,
                                    user_id + c.i*{mu} AS user_id)
                  FROM '{SRC}/events.parquet', {copies})
            TO '{DST}/events.parquet' (FORMAT PARQUET)"""
    )

    md = con.sql(f"SELECT max(doc_id)+1 FROM '{SRC}/documents.parquet'").fetchone()[0]
    con.sql(
        f"""COPY (SELECT * REPLACE (
                    doc_id + c.i*{md} AS doc_id,
                    CASE WHEN c.i = 0 THEN text
                         ELSE stride_permute(text, c.i::int) END AS text)
                  FROM '{SRC}/documents.parquet', {copies})
            TO '{DST}/documents.parquet' (FORMAT PARQUET)"""
    )

    mv = con.sql(f"SELECT max(vec_id)+1 FROM '{SRC}/embeddings.parquet'").fetchone()[0]
    con.sql(
        f"""COPY (SELECT * REPLACE (vec_id + c.i*{mv} AS vec_id)
                  FROM '{SRC}/embeddings.parquet', {copies})
            TO '{DST}/embeddings.parquet' (FORMAT PARQUET)"""
    )

    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        n = con.sql(f"SELECT count(*) FROM '{DST}/{t}.parquet'").fetchone()[0]
        print(t, n)


if __name__ == "__main__":
    main()
