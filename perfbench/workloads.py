"""The benchmark's workloads: catalog queries and Totesys ETL cycles.

Each workload writes its seeded inputs, prepares once (warm-up and
output checks, outside the timed region), then runs operations one after
another - a closed loop with one client - until the measured operation
time reaches the run length. Output checks never run inside an
operation's timing.
"""

from __future__ import annotations

import contextlib
import os
import random
import time
from dataclasses import dataclass, field

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq

import datagen

# catalog entries whose build() runs an eager Spark loop, so driver round
# trips and build-time jobs dominate: the triangle-count chain, whose
# overlapped edge count runs on a second thread
ITERATIVE = ["y97_triangle_count"]
# untimed ops per entry after its checked warm-up build: in a fresh JVM a
# y97 op keeps getting faster for about its first dozen runs
WARM_OPS = 12
# the tables ITERATIVE and the self-check's y73_incremental_cc read
CATALOG_TABLES = ["lineitem", "documents"]
STAR_INPUTS = ["customer", "supplier", "region", "part", "orders", "lineitem"]
STAR_TABLES = [
    "dim_date", "dim_staff", "dim_location", "dim_currency", "dim_design",
    "dim_counterparty", "dim_transaction", "dim_payment_type",
    "fact_sales_order", "fact_purchase_order", "fact_payment",
]
FACT_KEYS = {
    "fact_sales_order": ("sales_order", "sales_order_id"),
    "fact_purchase_order": ("purchase_order", "purchase_order_id"),
    "fact_payment": ("payment", "payment_id"),
}


@dataclass
class Op:
    """One timed operation and its outcome."""

    label: str
    seconds: float
    ok: bool
    error: str = ""
    span: int | None = None
    extra: dict = field(default_factory=dict)


def duckdb_over(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        path = os.path.join(data_dir, f"{name}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def oracle_hash(con: duckdb.DuckDBPyConnection, sql: str) -> str:
    from tools.check import value_hash

    cur = con.execute(sql)
    return value_hash([d[0] for d in cur.description], cur.fetchall())


def spark_hash(df, corrupt: bool = False) -> str:
    from tools.check import value_hash

    rows = [tuple(r) for r in df.collect()]
    if corrupt:
        rows = rows[1:] if rows else [tuple("corrupt" for _ in df.columns)]
    return value_hash(df.columns, rows)


class Harness:
    """What a workload needs from the run: the session, the tracer, and a
    way to tag the Spark jobs an operation starts."""

    def __init__(self, spark, tracer, traced: bool, group_prefix: str):
        self.spark = spark
        self.tracer = tracer
        self.traced = traced
        self.group_prefix = group_prefix

    def tag(self, span_idx: int, label: str) -> None:
        self.spark.sparkContext.setJobGroup(f"{self.group_prefix}:{span_idx}", label)

    @contextlib.contextmanager
    def phase(self, name: str):
        """A child span of the running op whose Spark jobs carry its tag."""
        if not self.traced:
            yield
            return
        # tag before opening, so the tagging call is not work of the span
        self.tag(len(self.tracer.spans), name)
        idx = self.tracer.open(name)
        try:
            yield
        finally:
            self.tracer.close(idx)

    def timed(self, label: str, body) -> Op:
        """Run ``body(phase)`` as one op, under an ``op`` span when traced."""
        root = None
        if self.traced:
            self.tag(len(self.tracer.spans), label)
            root = self.tracer.open("op")
        start = time.perf_counter()
        try:
            body(self.phase)
            ok, error = True, ""
        except Exception as exc:  # an operation failure is counted, not fatal
            ok, error = False, f"{type(exc).__name__}: {exc}"[:300]
        seconds = time.perf_counter() - start
        if root is not None:
            self.tracer.close(root)
        return Op(label, seconds, ok, error, root)


# ---------------------------------------------------------------------------
# Catalog workloads
# ---------------------------------------------------------------------------


class CatalogWorkload:
    """One op = build one catalog entry, then run it into the noop sink.

    Inputs are seeded tables at scale ``sf``. Preparation computes every
    entry's DuckDB oracle hash and runs each entry once, collecting its
    result and comparing value hashes, then runs it ``WARM_OPS`` times as a
    timed op would (all of it is the warm-up, since a cold build costs
    several times a warm one). After the timed loop the last timed build of
    each entry is collected and checked the same way, so a change that
    breaks only warm builds is caught too. An entry whose check fails makes
    each of its timed ops count as failed.

    ``corrupt`` names an entry whose warm-up result is tampered with, or,
    as ``timed:<entry>``, one whose timed result is (self-check only).
    """

    def __init__(self, entries: list[str], sf: float, corrupt: str | None = None):
        self.entries = entries
        self.sf = sf
        self.corrupt = corrupt
        self.expected: dict[str, str | None] = {}
        self.entry_ok: dict[str, bool] = {}
        self.check_errors: dict[str, str] = {}

    def write_inputs(self, work: str, seed: int) -> None:
        self.data = os.path.join(work, "tpch")
        datagen.write_tpch(self.data, seed, self.sf, CATALOG_TABLES)

    def check(self, name: str, df, corrupt: bool) -> str:
        """Why ``df`` fails its oracle check, or "" when it passes."""
        expected = self.expected[name]
        if expected is None:
            return "no oracle"
        return "" if spark_hash(df, corrupt) == expected else "value-hash mismatch"

    def prepare(self, h: Harness) -> dict:
        from pw_etl_scrumptious_squad_spark import catalog as catmod

        cat = catmod.catalog()
        con = duckdb_over(self.data, CATALOG_TABLES)
        oracle_s = warm_s = 0.0
        for name in self.entries:
            entry = cat[name]
            t0 = time.perf_counter()
            sql = catmod.resolve_oracle(entry, self.data)
            self.expected[name] = oracle_hash(con, sql) if sql is not None else None
            t1 = time.perf_counter()
            try:
                problem = self.check(name, entry.build(h.spark, self.data), name == self.corrupt)
                # unchecked ops warm the noop-sink path the timed ops take
                for _ in range(WARM_OPS):
                    df = entry.build(h.spark, self.data)
                    df.write.format("noop").mode("overwrite").save()
            except Exception as exc:
                problem = f"{type(exc).__name__}: {exc}"[:300]
            self.entry_ok[name] = not problem
            if problem:
                self.check_errors[name] = problem
            oracle_s += t1 - t0
            warm_s += time.perf_counter() - t1
        con.close()
        self.catalog = cat
        return {"oracle_s": oracle_s, "warmup_s": warm_s}

    def run(self, h: Harness, seed: int, seconds: float) -> list[Op]:
        """Whole passes over the entries, each in a seeded order, until the
        measured op time reaches ``seconds``: every run measures the same
        mix of entries. Output checks run after the loop."""
        rng = random.Random(seed)
        ops: list[Op] = []
        built: dict[str, object] = {}
        measured = 0.0
        while measured < seconds:
            order = list(self.entries)
            rng.shuffle(order)
            for name in order:
                entry = self.catalog[name]

                def body(phase, name=name, entry=entry):
                    with phase("catalog.build"):
                        df = entry.build(h.spark, self.data)
                    with phase("catalog.action"):
                        df.write.format("noop").mode("overwrite").save()
                    built[name] = df

                ops.append(h.timed(name, body))
                measured += ops[-1].seconds
        for name, df in built.items():
            if not self.entry_ok[name]:
                continue
            try:
                problem = self.check(name, df, self.corrupt == f"timed:{name}")
            except Exception as exc:
                problem = f"{type(exc).__name__}: {exc}"[:300]
            if problem:
                self.entry_ok[name] = False
                self.check_errors[name] = f"timed build: {problem}"
        for op in ops:
            if op.ok and not self.entry_ok.get(op.label, False):
                op.ok = False
                op.error = f"output check: {self.check_errors.get(op.label)}"
        return ops


# ---------------------------------------------------------------------------
# ETL cycles
# ---------------------------------------------------------------------------


class EtlWorkload:
    """One op = one incremental ``run_batch_etl`` cycle.

    Setup derives the Totesys OLTP fixture from seeded TPC-H-shaped tables
    (``plans.star_fixture.totesys_from_testdata``), writes it to a fresh
    source lake and runs the initial full-load cycle, whose warehouse is
    checked row by row against ``STAR_LIFECYCLE_ORACLE`` in DuckDB. Before
    each timed cycle a seeded mutation inserts rows and bumps
    ``last_updated`` on the four transactional tables; after it, staging
    must hold exactly the touched keys, the watermarks must equal the
    source maxima, and each fact table's keys must equal its source's.
    """

    def __init__(
        self,
        sf: float,
        order_days: int,
        ship_days: int,
        inserts: int,
        bumps: int,
        corrupt: bool = False,
    ):
        self.sf = sf
        self.order_days = order_days
        self.ship_days = ship_days
        self.inserts = inserts
        self.bumps = bumps
        self.corrupt = corrupt
        self.check_errors: dict[str, str] = {}

    def write_inputs(self, work: str, seed: int) -> None:
        self.seed = seed
        self.tpch = os.path.join(work, "etl_tpch")
        datagen.write_tpch(
            self.tpch, seed, self.sf, STAR_INPUTS, self.order_days, self.ship_days
        )
        self.source = os.path.join(work, "source")
        self.staging = os.path.join(work, "staging")
        self.warehouse = os.path.join(work, "warehouse")
        self.state = os.path.join(work, "state")

    def cycle(self) -> None:
        from pw_etl_scrumptious_squad_spark.plans import etl

        etl.run_batch_etl(
            self._spark, self.source, self.staging, self.warehouse, self.state
        )

    def prepare(self, h: Harness) -> dict:
        from pw_etl_scrumptious_squad_spark.plans import star_fixture
        from pw_etl_scrumptious_squad_spark.sources import parquet as lake

        self._spark = h.spark
        t0 = time.perf_counter()
        for name, df in star_fixture.totesys_from_testdata(h.spark, self.tpch).items():
            lake.write_table(df, self.source, name)
        t1 = time.perf_counter()
        initial = h.timed("initial_cycle", lambda phase: self.cycle())
        t2 = time.perf_counter()
        problems = [] if initial.ok else [initial.error]
        if initial.ok:
            problems += self.check_fingerprint(h.spark) + self.check_state_and_facts()
        self.initial_ok = not problems
        if problems:
            self.check_errors["initial_cycle"] = "; ".join(problems)[:300]
        self.mutator = datagen.EtlMutator(self.source, self.seed, self.inserts, self.bumps)
        return {
            "fixture_write_s": t1 - t0,
            "initial_cycle_s": initial.seconds,
            "initial_check_s": time.perf_counter() - t2,
            "warmup_s": t2 - t0,
        }

    def run(self, h: Harness, seed: int, seconds: float) -> list[Op]:
        ops: list[Op] = []
        measured = 0.0
        while measured < seconds:
            mutation = self.mutator.mutate()
            started = time.time()
            op = h.timed("incremental_cycle", lambda phase: self.cycle())
            if op.ok and not self.initial_ok:
                op.ok, op.error = False, "initial cycle failed its check"
            if op.ok:
                problems = self.check_cycle(mutation)
                if problems:
                    op.ok, op.error = False, "; ".join(problems)[:300]
            op.extra = {"mutation": mutation}
            if h.traced:
                op.extra["disk"] = self.disk_stats(started)
            ops.append(op)
            measured += op.seconds
        return ops

    def disk_stats(self, since: float) -> dict:
        """Files and bytes the cycle wrote, and the warehouse's row count
        (every star table is rewritten each cycle)."""
        files = size = rows = 0
        for base in (self.staging, self.warehouse, self.state):
            for dirpath, _, names in os.walk(base):
                for name in names:
                    path = os.path.join(dirpath, name)
                    st = os.stat(path)
                    if not name.endswith(".parquet") or st.st_mtime < since:
                        continue
                    files += 1
                    size += st.st_size
                    if base == self.warehouse:
                        rows += pq.read_metadata(path).num_rows
        return {"files": files, "bytes": size, "warehouse_rows": rows}

    # -- checks ----------------------------------------------------------
    def check_fingerprint(self, spark) -> list[str]:
        from pw_etl_scrumptious_squad_spark.plans import star_fixture
        from pw_etl_scrumptious_squad_spark.sources import parquet as lake

        star = {name: lake.read_table(spark, self.warehouse, name) for name in STAR_TABLES}
        got = spark_hash(star_fixture.star_fingerprint(star), self.corrupt)
        con = duckdb_over(self.tpch, STAR_INPUTS)
        want = oracle_hash(con, star_fixture.STAR_LIFECYCLE_ORACLE)
        con.close()
        return [] if got == want else ["star fingerprint differs from its oracle"]

    def _source(self, name: str, columns: list[str] | None = None):
        return pq.read_table(os.path.join(self.source, f"{name}.parquet"), columns=columns)

    def check_state_and_facts(self) -> list[str]:
        problems = []
        state = pq.read_table(self.state).to_pylist()
        marks = {r["table_name"]: (r["max_created_at"], r["max_last_updated"]) for r in state}
        for name in sorted(os.listdir(self.source)):
            table = name.removesuffix(".parquet")
            src = self._source(table, ["created_at", "last_updated"])
            want = (pc.max(src["created_at"]).as_py(), pc.max(src["last_updated"]).as_py())
            if marks.get(table) != want:
                problems.append(f"watermark {table} {marks.get(table)} != {want}")
        for fact, (table, key) in FACT_KEYS.items():
            got = pq.read_table(os.path.join(self.warehouse, f"{fact}.parquet"), columns=[key])
            want = self._source(table, [key])
            if set(got[key].to_pylist()) != set(want[key].to_pylist()) or (
                got.num_rows != want.num_rows
            ):
                problems.append(f"{fact} keys differ from {table}")
        return problems

    def check_cycle(self, mutation: datagen.Mutation) -> list[str]:
        problems = []
        for table, touched in mutation.touched.items():
            key = datagen.MUTATED[table]
            staged = pq.read_table(
                os.path.join(self.staging, f"{table}.parquet"), columns=[key]
            )[key].to_pylist()
            expected = set(touched) if not self.corrupt else set(touched) | {-1}
            if len(staged) != len(expected) or set(staged) != expected:
                problems.append(f"staging {table} holds {len(staged)} keys, want {len(expected)}")
        return problems + self.check_state_and_facts()
