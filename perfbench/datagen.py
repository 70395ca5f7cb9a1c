"""Seeded input generation for the benchmark.

``write_tpch`` writes the tables the workloads read (TPC-H-shaped
``region`` .. ``lineitem`` and the ``documents`` corpus), one parquet file
each, with the column names, types and value shapes of the repository's
synthetic test sets. Every value comes from ``numpy.random.default_rng``
seeded with the run's seed and the table's name, so a seed always gives
the same files.

``EtlMutator`` changes a Totesys source lake between ETL cycles: it
inserts rows and bumps ``last_updated`` on the four transactional tables
and records what it touched, so the benchmark can check staging,
watermarks and facts afterwards. It writes only the source lake.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "blue", "cold", "old", "new", "hot", "red", "large"]
PART_NOUN = ["widget", "rod", "ring", "anvil", "plate", "bolt", "gear", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "STANDARD", "PROMO", "MEDIUM", "SMALL"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "es", "fr", "zh", "de"]
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
DAY_US = 86_400_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


@dataclass
class Shape:
    """Row counts and date windows shared by the generated tables."""

    seed: int
    sf: float
    order_days: int
    ship_days: int

    @property
    def customers(self) -> int:
        return max(int(150_000 * self.sf), 10)

    @property
    def suppliers(self) -> int:
        return max(int(10_000 * self.sf), 5)

    @property
    def parts(self) -> int:
        return max(int(200_000 * self.sf), 20)

    @property
    def orders(self) -> int:
        return max(int(1_500_000 * self.sf), 50)

    def rng(self, stream: str) -> np.random.Generator:
        """An independent random stream per table, so a table's values do
        not depend on which other tables are generated."""
        return np.random.default_rng([self.seed, *stream.encode()])

    def order_dates(self) -> np.ndarray:
        days = self.rng("order_dates").integers(0, self.order_days, self.orders)
        return EPOCH_1995 + days * DAY_US


def _region(rng: np.random.Generator, s: Shape) -> pa.Table:
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})


def _customer(rng: np.random.Generator, s: Shape) -> pa.Table:
    n = s.customers
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, SEGMENTS, n),
    })


def _supplier(rng: np.random.Generator, s: Shape) -> pa.Table:
    n = s.suppliers
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })


def _part(rng: np.random.Generator, s: Shape) -> pa.Table:
    n = s.parts
    return pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n), rng.integers(0, 8, n))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": _pick(rng, PART_TYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 200) / 10.0, 2),
    })


def _orders(rng: np.random.Generator, s: Shape) -> pa.Table:
    n = s.orders
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s.customers, n), pa.int64()),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(s.order_dates(), pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, n),
    })


def _lineitem(rng: np.random.Generator, s: Shape) -> pa.Table:
    lines_per_order = rng.integers(1, 8, s.orders)
    orderkey = np.repeat(np.arange(s.orders), lines_per_order)
    n = len(orderkey)
    ship = s.order_dates()[orderkey] + rng.integers(1, s.ship_days + 1, n) * DAY_US
    return pa.table({
        "l_orderkey": pa.array(orderkey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s.parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s.suppliers, n), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines_per_order]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _documents(rng: np.random.Generator, s: Shape) -> pa.Table:
    docs = 500
    texts = [
        " ".join(np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 100, docs)
    ]
    return pa.table({
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, docs),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


GENERATORS = {
    "region": _region,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "documents": _documents,
}


def write_tpch(
    out_dir: str,
    seed: int,
    sf: float,
    tables: list[str],
    order_days: int = 2400,
    ship_days: int = 100,
) -> None:
    """Write ``tables`` at scale ``sf`` (sf 1 = 1.5M orders), one parquet
    file each.

    ``order_days`` is the width of the order-date window; ship dates fall
    1 to ``ship_days`` days after the order. ``documents`` has a fixed 500
    rows at every scale, as in the repository's test sets.
    """
    shape = Shape(seed, sf, order_days, ship_days)
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        table = GENERATORS[name](shape.rng(name), shape)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# ETL source mutations
# ---------------------------------------------------------------------------

# table -> its key column; the four tables a cycle mutates
MUTATED = {
    "sales_order": "sales_order_id",
    "purchase_order": "purchase_order_id",
    "payment": "payment_id",
    "transaction": "transaction_id",
}


def replace_lake_table(path: str, table: pa.Table) -> None:
    """Replace a source table with one file, under the same path."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pq.write_table(table, os.path.join(tmp, "part-00000.parquet"))
    shutil.rmtree(path)
    os.rename(tmp, path)


@dataclass
class Mutation:
    """What one cycle's mutation did to the source lake."""

    touched: dict[str, set[int]] = field(default_factory=dict)

    def rows_changed(self) -> int:
        return sum(len(keys) for keys in self.touched.values())


class EtlMutator:
    """Seeded inserts and ``last_updated`` bumps on a Totesys source lake.

    Each call to :meth:`mutate` moves a logical clock past every audit
    timestamp already in the lake, so the CDC predicate of the next cycle
    selects exactly the rows this call touched.
    """

    def __init__(self, source_dir: str, seed: int, inserts: int, bumps: int):
        self.source_dir = source_dir
        self.rng = np.random.default_rng([seed, 0xE71])
        self.inserts = inserts
        self.bumps = bumps
        self.clock: datetime | None = None

    def _path(self, name: str) -> str:
        return os.path.join(self.source_dir, f"{name}.parquet")

    def mutate(self) -> Mutation:
        tables = {name: pq.read_table(self._path(name)) for name in MUTATED}
        if self.clock is None:
            latest = max(
                pc.max(t[col]).as_py()
                for t in tables.values()
                for col in ("created_at", "last_updated")
            )
            self.clock = latest.replace(microsecond=0)
        self.clock += timedelta(hours=1)
        out = Mutation()
        for name, key in MUTATED.items():
            table = tables[name]
            keys = table[key].to_numpy()
            n_bump = min(self.bumps, len(keys))
            bump_rows = self.rng.choice(len(keys), n_bump, replace=False)
            offsets = self.rng.integers(0, 3600, n_bump)
            last_updated = table["last_updated"].to_numpy().copy()
            last_updated[bump_rows] = np.datetime64(self.clock, "us") + (
                offsets * 1_000_000
            )
            table = table.set_column(
                table.schema.get_field_index("last_updated"),
                "last_updated",
                pa.array(last_updated, table.schema.field("last_updated").type),
            )
            templates = table.take(
                pa.array(self.rng.integers(0, len(keys), self.inserts))
            )
            new_keys = np.arange(1, self.inserts + 1) + int(keys.max())
            stamp = pa.array(
                np.datetime64(self.clock, "us")
                + self.rng.integers(0, 3600, self.inserts) * 1_000_000,
                table.schema.field("created_at").type,
            )
            for col, values in (
                (key, pa.array(new_keys, table.schema.field(key).type)),
                ("created_at", stamp),
                ("last_updated", stamp),
            ):
                templates = templates.set_column(
                    templates.schema.get_field_index(col), col, values
                )
            replace_lake_table(self._path(name), pa.concat_tables([table, templates]))
            out.touched[name] = {int(k) for k in keys[bump_rows]} | {
                int(k) for k in new_keys
            }
        return out
