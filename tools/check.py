"""Mini-driver: replicate the correctness gate locally.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB over the same parquet tables, then compares row count, schema
(column names), and an order-insensitive value hash (columns sorted by
name, rows sorted, values normalized).

Usage: python tools/check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import traceback
from datetime import date, datetime
from decimal import Decimal

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def normalize(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime):
        return v.isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(normalize(x) for x in v) + "]"
    return str(v)


def value_hash(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(normalize(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from pw_etl_scrumptious_squad_spark.session import get_spark

    spark = get_spark(app_name="check")
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata ships single-file tables; Spark-written sets
        # (the organic sf1 dir) are DIRECTORIES of part files
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path = f"{path}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(sf_dir)
    failures = []
    for name, fn in sorted(qs.items()):
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: spark error")
            traceback.print_exc(limit=3)
            continue
        if name not in oracles:
            print(f"ok?   {name}: rows-only ({len(srows)} rows)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception:
            failures.append(name)
            print(f"FAIL  {name}: duckdb error")
            traceback.print_exc(limit=3)
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rows {len(srows)} vs {len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols {sorted(scols)} vs {sorted(dcols)}")
        else:
            sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
            if sh != dh:
                problems.append("value-hash mismatch")
                # show first differing normalized row for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
                ls = sorted("\x1f".join(normalize(r[i]) for i in order_s) for r in srows)
                ld = sorted("\x1f".join(normalize(r[i]) for i in order_d) for r in drows)
                for a, b in zip(ls, ld):
                    if a != b:
                        print(f"      spark : {a[:300]}")
                        print(f"      duckdb: {b[:300]}")
                        break
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"PASS  {name} ({len(srows)} rows)")

    print()
    if failures:
        print(f"{len(failures)} failing: {failures}")
        sys.exit(1)
    print("all checks passed")


if __name__ == "__main__":
    main()
