"""Driver-mimicking correctness harness: run __spark_entry__.queries() entries
against their DuckDB oracle SQL at a given SF dir and compare row-count,
schema (column names), and exact values (columns sorted by name, rows sorted
— the driver hashes the same normalization, so an exact mismatch here is a
driver hash_match=false).

Usage:
  python scripts/oracle_check.py                 # first 50 entries, sf0.01
  python scripts/oracle_check.py --all           # every oracle-bearing entry
  python scripts/oracle_check.py --keys a,b,c    # specific entries
  python scripts/oracle_check.py --sf /root/testdata/sf0.001
"""
from __future__ import annotations

import argparse
import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return v
    return v


def multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(norm(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), x) for x in t),
    )


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--keys", default=None)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--limit", type=int, default=50)
    args = ap.parse_args()

    import __spark_entry__ as em
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[16]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{args.sf}/{t}.parquet')"
        )

    q = em.queries()
    o = em.oracle_sql()
    # the counts come from the registry itself, never from a remembered figure
    print(f"registry: {len(q)} queries, {sum(k in o for k in q)} with an oracle")
    if args.keys:
        keys = args.keys.split(",")
    elif args.all:
        keys = [k for k in q if k in o]
    else:
        keys = [k for k in list(q)[: args.limit] if k in o]

    n_pass = n_fail = 0
    for k in keys:
        t0 = time.time()
        try:
            sdf = q[k](spark, args.sf)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            res = con.execute(o[k])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            schema_ok = sorted(scols) == sorted(dcols)
            rows_ok = len(srows) == len(drows)
            sms = multiset(srows, scols)
            dms = multiset(drows, dcols)
            vals_ok = sms == dms
            ok = schema_ok and rows_ok and vals_ok
            dt = time.time() - t0
            if ok:
                n_pass += 1
                print(f"PASS {k}  rows={len(srows)}  {dt:.1f}s")
            else:
                n_fail += 1
                print(f"FAIL {k}  schema={schema_ok} rows={rows_ok}({len(srows)}/{len(drows)}) vals={vals_ok}  {dt:.1f}s")
                if schema_ok and not vals_ok:
                    bad = [(a, b) for a, b in zip(sms, dms) if a != b]
                    for a, b in bad[:3]:
                        print(f"   spark:  {a}")
                        print(f"   oracle: {b}")
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            print(f"ERR  {k}  {type(e).__name__}: {e}")
    print(f"\n{n_pass} pass / {n_fail} fail of {len(keys)}")
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
