"""Degenerate-relational adversarial oracle battery: NULL join keys,
orphan foreign keys, NULL dates/flags, zero quantities, duplicate rows,
extreme-but-representable prices through every catalog entry whose
oracle reads only {lineitem, orders, customer} — the join/agg/decimal
seams (NULL grouping keys, DECIMAL casts of doubles, HAVING over empty
groups) that the clean driver-generated tables never stress."""

from __future__ import annotations

import datetime as dt
import os
import re

import duckdb
import pytest

D = dt.datetime

CUSTOMERS = [
    # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    (1, "alice", 0, 100.50, "BUILDING"),
    (2, None, 1, -10.25, "AUTOMOBILE"),        # NULL name, negative balance
    (3, "carol", None, 0.0, None),             # NULL nation + segment
    (4, "dan", 2, 99999.99, "BUILDING"),       # no orders at all
]

ORDERS = [
    # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
    (10, 1, "O", 1000.0, D(1995, 3, 1), "1-URGENT"),
    (11, 1, "F", 0.0, D(1995, 3, 15), "5-LOW"),          # zero total
    (12, 2, None, 250.75, D(1995, 3, 15), None),          # NULL status/priority
    (13, None, "O", 42.0, D(1996, 1, 1), "3-MEDIUM"),     # ORPHAN: NULL custkey
    (14, 99, "O", 17.5, None, "2-HIGH"),                  # dangling custkey + NULL date
    (15, 3, "F", 300.0, D(1995, 3, 1), "1-URGENT"),
]

LINEITEM = [
    # (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    #  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
    (10, 1, 1, 1, 17.0, 1000.0, 0.05, 0.02, "N", "O", D(1995, 3, 10)),
    (10, 2, 1, 2, 0.0, 0.0, 0.0, 0.0, "N", "O", D(1995, 3, 11)),     # zero qty/price
    (11, 1, 2, 1, 60.0, 88888.88, 0.10, 0.08, "R", "F", D(1995, 4, 1)),
    (11, 1, 2, 2, 60.0, 88888.88, 0.10, 0.08, "R", "F", D(1995, 4, 1)),  # exact dup line
    (12, 3, 1, 1, 1.0, 0.01, 1.0, 0.0, "A", "F", D(1995, 3, 20)),    # 100% discount
    (13, 1, 3, 1, 5.0, 123.45, 0.0, 0.0, None, None, D(1996, 1, 2)),  # NULL flags
    (15, 2, 3, 1, 9.0, 55.5, 0.02, 0.01, "N", "F", None),             # NULL shipdate
    (99, 1, 1, 1, 2.0, 10.0, 0.0, 0.0, "N", "O", D(1995, 5, 1)),      # orphan orderkey
]

SF_SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]
REPLACED = {"lineitem", "orders", "customer"}


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("degenerate_rel_sf")
    import pyarrow as pa
    import pyarrow.parquet as pq

    def col(rows, i, typ):
        return pa.array([r[i] for r in rows], typ)

    pq.write_table(
        pa.table(
            {
                "c_custkey": col(CUSTOMERS, 0, pa.int64()),
                "c_name": col(CUSTOMERS, 1, pa.string()),
                "c_nationkey": col(CUSTOMERS, 2, pa.int32()),
                "c_acctbal": col(CUSTOMERS, 3, pa.float64()),
                "c_mktsegment": col(CUSTOMERS, 4, pa.string()),
            }
        ),
        str(d / "customer.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "o_orderkey": col(ORDERS, 0, pa.int64()),
                "o_custkey": col(ORDERS, 1, pa.int64()),
                "o_orderstatus": col(ORDERS, 2, pa.string()),
                "o_totalprice": col(ORDERS, 3, pa.float64()),
                "o_orderdate": col(ORDERS, 4, pa.timestamp("us")),
                "o_orderpriority": col(ORDERS, 5, pa.string()),
            }
        ),
        str(d / "orders.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "l_orderkey": col(LINEITEM, 0, pa.int64()),
                "l_partkey": col(LINEITEM, 1, pa.int64()),
                "l_suppkey": col(LINEITEM, 2, pa.int64()),
                "l_linenumber": col(LINEITEM, 3, pa.int32()),
                "l_quantity": col(LINEITEM, 4, pa.float64()),
                "l_extendedprice": col(LINEITEM, 5, pa.float64()),
                "l_discount": col(LINEITEM, 6, pa.float64()),
                "l_tax": col(LINEITEM, 7, pa.float64()),
                "l_returnflag": col(LINEITEM, 8, pa.string()),
                "l_linestatus": col(LINEITEM, 9, pa.string()),
                "l_shipdate": col(LINEITEM, 10, pa.timestamp("us")),
            }
        ),
        str(d / "lineitem.parquet"),
    )
    for name in TABLES:
        if name not in REPLACED:
            os.symlink(f"{SF_SRC}/{name}.parquet", d / f"{name}.parquet")
    return str(d)


def _relational_entries():
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql(SF_SRC)
    others = [t for t in TABLES if t not in REPLACED]
    names = []
    for name, sql in sorted(oracles.items()):
        low = sql.lower()
        if not any(re.search(rf"\b{t}\b", low) for t in REPLACED):
            continue
        if any(re.search(rf"\b{t}\b", low) for t in others):
            continue
        names.append(name)
    return names


def test_relational_battery_is_broad():
    names = _relational_entries()
    assert len(names) >= 10, names
    assert {"q01_pricing_summary", "q15_shipping_priority"} <= set(names)


@pytest.mark.parametrize("name", _relational_entries())
def test_degenerate_relational_oracle_parity(spark, degenerate_sf, name):
    import __spark_entry__ as entrymod
    from tools.check import value_hash

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql(degenerate_sf)
    sdf = qs[name](spark, degenerate_sf)
    srows = sdf.collect()
    scols = sdf.columns
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" '{degenerate_sf}/{t}.parquet'"
        )
    res = con.execute(oracles[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows), (
        f"{name}: rows {len(srows)} vs {len(drows)}"
    )
    assert sorted(scols) == sorted(dcols)
    hs = value_hash(scols, [[r[c] for c in scols] for r in srows])
    hd = value_hash(dcols, drows)
    if hs != hd:
        from check import normalize

        order_s = sorted(range(len(scols)), key=lambda i: scols[i])
        order_d = sorted(range(len(dcols)), key=lambda i: dcols[i])
        a = sorted(
            "\x1f".join(normalize(r[scols[i]]) for i in order_s)
            for r in srows
        )
        b = sorted(
            "\x1f".join(normalize(r[i]) for i in order_d) for r in drows
        )
        diff = next(
            (i for i, (x, y) in enumerate(zip(a, b)) if x != y), None
        )
        detail = (
            f"first diff at sorted row {diff}:\n spark: "
            f"{a[diff][:400]}\n duck : {b[diff][:400]}"
            if diff is not None
            else "row sets differ in tails"
        )
        raise AssertionError(f"{name}: value-hash mismatch\n{detail}")


def test_degenerate_c11_star_lifecycle_parity(spark, degenerate_sf):
    """Round-8: c11 composes MORE tables than the {lineitem, orders,
    customer} filter admits, so the parametrized battery skips it — run
    it explicitly over the degenerate set (NULL dates/flags, orphan
    keys, dup lines, zero totals flow through every fixture derivation
    and all 11 builders; NULL timestamps must serialize as '~' on both
    engines)."""
    import __spark_entry__ as entrymod
    from tools.check import value_hash

    name = "c11_star_lifecycle"
    sdf = entrymod.queries()[name](spark, degenerate_sf)
    srows = sdf.collect()
    scols = sdf.columns
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM"
            f" '{degenerate_sf}/{t}.parquet'"
        )
    res = con.execute(entrymod.oracle_sql(degenerate_sf)[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert len(srows) == len(drows)
    assert sorted(scols) == sorted(dcols)
    hs = value_hash(scols, [[r[c] for c in scols] for r in srows])
    hd = value_hash(dcols, drows)
    assert hs == hd, f"{name}: value-hash mismatch on degenerate inputs"
    # the NULL-shipdate lineitem row must be present with '~' fields,
    # not silently dropped
    null_po = [
        r["record"]
        for r in srows
        if r["output_table"] == "fact_purchase_order" and "~" in r["record"]
    ]
    assert null_po, "NULL-shipdate purchase rows missing from the fact"
