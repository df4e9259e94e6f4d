"""Local stand-in for the driver's t2 gate: run every queries() entry on
Spark and its oracle_sql() on DuckDB at a given SF, compare row count,
column names, and an order-insensitive value hash.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from bigdata_homed_spark.session import get_spark

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # repr keeps full double precision; both engines produce identical
        # doubles by construction, so this is an equality check, not a fuzz
        return repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("check_correctness")

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark error\n{traceback.format_exc()}")
            failures += 1
            continue
        spark_t = time.time() - t0
        # queries that persist() fan-out points would otherwise accumulate
        # MEMORY_AND_DISK caches across the 166-query gate and perturb
        # later queries sharing the session (bench.py does the same)
        spark.catalog.clearCache()
        if name not in oracles:
            print(f"ok?  {name}: rows-only check, {len(srows)} rows ({spark_t:.1f}s)")
            if len(srows) == 0:
                print(f"WARN {name}: zero rows")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception:
            print(f"FAIL {name}: duckdb error\n{traceback.format_exc()}")
            failures += 1
            continue
        problems = []
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        if len(srows) != len(drows):
            problems.append(f"rows spark={len(srows)} duck={len(drows)}")
        if not problems:
            sh = table_hash(scols, srows)
            dh = table_hash(dcols, drows)
            if sh != dh:
                problems.append(f"hash spark={sh} duck={dh}")
                # show a diff sample
                so = sorted(
                    "|".join(canon(r[i]) for i in sorted(range(len(scols)), key=lambda i: scols[i]))
                    for r in srows
                )
                do = sorted(
                    "|".join(canon(r[i]) for i in sorted(range(len(dcols)), key=lambda i: dcols[i]))
                    for r in drows
                )
                for a, b in zip(so, do):
                    if a != b:
                        problems.append(f"  first diff:\n  spark: {a}\n  duck : {b}")
                        break
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"PASS {name}: {len(srows)} rows ({spark_t:.1f}s)")
    spark.stop()
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
